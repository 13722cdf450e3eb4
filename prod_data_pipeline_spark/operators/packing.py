"""Sequence packing: turn a curated corpus into fixed-token-budget units.

The last step before a corpus becomes training batches.  Two standard
schemes, both shuffle-light:

- ``chunk_spans`` — GPT-style concat-then-chunk: documents are laid out
  end-to-end in a deterministic order and sliced into fixed-size chunks;
  documents may span chunk boundaries, no token is wasted.  Pure window
  arithmetic (one running sum per layout group), fully SQL-expressible,
  so the DuckDB oracle replays it exactly.
- ``pack_greedy`` — no-split first-fit packing: each document lands whole
  in one bin, bins never exceed the budget (documents longer than the
  budget get a bin of their own).  Inherently sequential per group, so it
  runs as an Arrow-batched applyInPandas over layout groups; packing is
  local to a group (cross-group packing would serialize the corpus — the
  wasted tail per group is bounded by one bin).

Layout groups: rows are grouped by a deterministic md5 bucket of the id
(`n_groups` buckets, one task each), so the packing parallelism is chosen
explicitly and retries see identical inputs — the same reasoning as
operators/skew.py's deterministic salting.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from prod_data_pipeline_spark.operators.sampling import hash_bucket


def _layout_group(id_col: str, n_groups: int) -> Column:
    """Deterministic layout-group assignment from an md5-derived bucket of
    the id, which the DuckDB oracle replays bit-for-bit."""
    return F.pmod(hash_bucket(F.col(id_col), "pack"), F.lit(n_groups))


def chunk_spans(
    df: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    n_groups: int = 32,
) -> DataFrame:
    """Concat-then-chunk layout: (doc, first_chunk, last_chunk, offset).

    Documents are ordered by id within a deterministic hash group; a
    running token sum places each one, and chunk ids are offset/budget.
    A document spanning several chunks appears once with its span bounds —
    the exploded per-chunk relation is one `sequence()` away when needed.
    Chunk ids are globally unique: (group, local_chunk) packed as
    group * 2^40 + local.
    """
    g = _layout_group(id_col, n_groups).alias("grp")
    base = df.select(F.col(id_col), F.col(token_col).cast("long").alias("toks"), g)
    w = Window.partitionBy("grp").orderBy(id_col)
    laid = base.select(
        id_col,
        "grp",
        "toks",
        (F.sum("toks").over(w) - F.col("toks")).alias("start_off"),
        (F.sum("toks").over(w) - F.lit(1)).alias("end_off"),
    ).filter(F.col("toks") > 0)
    return laid.select(
        id_col,
        "toks",
        (F.col("grp") * F.lit(1 << 40) + F.floor(F.col("start_off") / budget)).alias(
            "first_chunk"
        ),
        (F.col("grp") * F.lit(1 << 40) + F.floor(F.col("end_off") / budget)).alias(
            "last_chunk"
        ),
        F.pmod(F.col("start_off"), F.lit(budget)).alias("chunk_offset"),
    )


PACKED_SCHEMA = T.StructType(
    [
        T.StructField("bin_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin_fill", T.LongType()),
    ]
)


def pack_greedy(
    df: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    n_groups: int = 32,
) -> DataFrame:
    """No-split first-fit-decreasing packing within deterministic hash
    groups.  Returns (bin_id, doc_id, n_tokens, bin_fill) where bin_fill
    is the bin's total after packing; bins never exceed the budget unless
    a single document alone does.  Bin ids are globally unique
    (group * 2^40 + local bin index).  The per-group first-fit scan is
    O(docs * bins) — bounded because groups are sized for one task each.
    """

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        if pdf.empty:
            return
        grp = int(pdf["grp"].iloc[0])
        # first-fit-decreasing: big docs first, each into the first bin
        # with room; ties broken by id so retries are byte-identical
        pdf = pdf.sort_values(["toks", "id"], ascending=[False, True])
        fills: list[int] = []
        assign: list[int] = []
        for toks in pdf["toks"]:
            t = int(toks)
            for b, fill in enumerate(fills):
                if fill + t <= budget:
                    fills[b] = fill + t
                    assign.append(b)
                    break
            else:
                fills.append(t)
                assign.append(len(fills) - 1)
        base = grp * (1 << 40)
        yield pd.DataFrame(
            {
                "bin_id": [base + b for b in assign],
                "doc_id": pdf["id"].astype("int64"),
                "n_tokens": pdf["toks"].astype("int64"),
                "bin_fill": [fills[b] for b in assign],
            }
        )

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(token_col).cast("long").alias("toks"),
        _layout_group(id_col, n_groups).alias("grp"),
    ).filter(F.col("toks") > 0)
    return base.groupBy("grp").applyInPandas(pack, schema=PACKED_SCHEMA)


def rag_chunks(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    keep_cols: tuple = (),
) -> DataFrame:
    """Overlapping sliding-window chunker (RAG / long-context preprocessing):
    one row per (doc, chunk), windows of `window` tokens starting every
    `stride` tokens — consecutive chunks overlap by window - stride.

    Start offsets are `range(0, n, stride)` (every start < n), so the
    final chunk may be short — kept as-is rather than silently merged,
    because retrieval stores want deterministic, closed-form chunk ids:
    chunk_idx = start/stride, n_chunks = floor((n-1)/stride)+1, and any
    engine recomputes the identical chunking from (n, window, stride)
    alone.  All arithmetic is integer; the chunk relation is a per-doc
    sequence + explode — linear in n/stride, document-local, perfectly
    parallel (no shuffle at all until a downstream agg keys on something).
    """
    n = F.size(F.col(tokens_col))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("long").alias("chunk_idx"),
            s.cast("long").alias("start"),
            F.least(F.lit(window), n - s).cast("long").alias("chunk_len"),
        ),
    )
    keep = [F.col(c) for c in keep_cols]
    return (
        df.filter(n > 0)
        .select(F.col(id_col), *keep, n.cast("long").alias("n_tokens"), F.explode(chunks).alias("c"))
        .select(id_col, *keep_cols, "n_tokens", "c.chunk_idx", "c.start", "c.chunk_len")
    )
