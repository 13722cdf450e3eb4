"""Distributed EXACT ranking and quantiles — no single-partition sort.

A global window (``Window.orderBy`` with no partition) moves every row
into ONE task: the plan that kills global NTILE / percentile at 100 TB.
These operators keep the semantics exact while staying parallel, via the
classic two-pass sampled-ranking scheme (the same idea behind Spark's own
range-partitioned sort, done at the DataFrame level so the rank is a
first-class column):

1. **Bucket** every row by approximate quantile boundaries of the first
   order column (`approx_percentile` sketch — one cheap pass, mergeable).
   Boundary *quality* only affects load balance, never correctness.
2. **Rank within buckets** with a window partitioned by (group, bucket) —
   parallel across buckets, one hash exchange of the slim relation.
3. **Offset** each bucket by the total count of the buckets before it
   (a window over the tiny (group, bucket)-count relation), so
   ``rank = offset + within-bucket row_number`` is the exact global (or
   per-group) rank.

From the exact rank, NTILE bucket numbers and interpolated
(``quantile_cont``) percentiles follow in closed form, bit-identical to
the single-sort answer.

Requirements: the first order column must be numeric and non-null (filter
first); remaining order columns break ties (pass a unique id for a total
order when exact NTILE assignment matters).

Reference parity: the reference exposes only full-sort SQL over Athena
(sql/athena/curated_events.sql); these operators exist so the same
answers survive a 1000-executor scale-up.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prod_data_pipeline_spark.session import truncate_lineage

RANK_COL = "rank"
TOTAL_COL = "n_total"
# Bucket count of the bounds sketch.  It sets load balance only: every
# bucket count gives the same exact rank.
N_BUCKETS = 32


def _rank(
    df: DataFrame, order_cols: Sequence[str], by: list[str]
) -> tuple[DataFrame, DataFrame]:
    """The rank body shared by both operators: returns ``(ranked,
    offsets)``, where ``ranked`` is the input plus ``rank`` and
    ``n_total``, and ``offsets`` is the |groups| * N_BUCKETS-row
    relation (by, __b, __off, n_total) it was joined from.

    The bounds sketch, the bucketing pass and the bucket counts all read
    the input, so it is cut here with one lazy ``truncate_lineage``: the
    first action stores its blocks and every later pass reads them, so
    the input is evaluated once.  An input whose own plan has no exchange
    runs no job at build time; one with an exchange runs that exchange's
    map stage when the cut is taken (adaptive execution materializes it).
    """
    df = truncate_lineage(df, eager=False)
    val = F.col(order_cols[0]).cast("double")

    probs = [i / N_BUCKETS for i in range(1, N_BUCKETS)]
    agg = [F.approx_percentile(val, F.lit(probs), F.lit(10_000)).alias("__bounds")]
    bounds = df.groupBy(*by).agg(*agg) if by else df.agg(*agg)

    joined = (
        df.join(F.broadcast(bounds), on=by) if by else df.crossJoin(F.broadcast(bounds))
    )
    bucketed = joined.withColumn(
        "__b", F.size(F.filter("__bounds", lambda x: val > x))
    ).drop("__bounds")

    w_rn = Window.partitionBy(*by, "__b").orderBy(*[F.col(c).asc() for c in order_cols])

    # Tiny relation: |groups| * N_BUCKETS rows.  partitionBy(lit(0)) for the
    # global case keeps the exchange a hash partition (the relation is
    # N_BUCKETS rows by construction, never the fact table).
    part = [F.col(c) for c in by] if by else [F.lit(0)]
    counts = bucketed.groupBy(*by, "__b").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.partitionBy(*part).orderBy("__b")
    offsets = counts.select(
        *by,
        "__b",
        F.coalesce(
            F.sum("__cnt").over(w_off.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__off"),
        F.sum("__cnt").over(Window.partitionBy(*part)).alias(TOTAL_COL),
    )

    ranked = (
        bucketed.withColumn("__rn", F.row_number().over(w_rn))
        .join(F.broadcast(offsets), on=[*by, "__b"])
        .withColumn(RANK_COL, (F.col("__off") + F.col("__rn")).cast("bigint"))
        .drop("__b", "__rn", "__off")
    )
    return ranked, offsets


def bucketed_global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """Exact 1-based row_number rank over ``order_cols`` (per ``by`` group,
    or global when ``by`` is empty), computed without a global sort.

    Output: input columns + ``rank`` (bigint) + ``n_total`` (bigint, the
    group's row count).  The plan's only full-data exchange is one hash
    partition on (by, bucket); everything else runs over relations of at
    most |groups| * N_BUCKETS rows.  The input is evaluated once (the
    operator cuts its lineage itself), so callers cut it only when the
    same relation also feeds another consumer.
    """
    return _rank(df, order_cols, list(by))[0]


def ntile_from_rank(rank: Column, n_total: Column, k: int) -> Column:
    """SQL NTILE(k) bucket number from an exact 1-based rank: the first
    (n mod k) buckets hold ceil(n/k) rows, the rest floor(n/k) — identical
    assignment to the single-sort window function."""
    base = (n_total / k).cast("bigint")  # floor for non-negative
    rem = n_total % k
    cutoff = rem * (base + 1)
    big = ((rank - 1) / (base + 1)).cast("bigint") + 1
    small = rem + ((rank - cutoff - 1) / base).cast("bigint") + 1
    return F.when(rank <= cutoff, big).otherwise(small).cast("int")


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: dict[str, float],
    by: Sequence[str] = (),
) -> DataFrame:
    """Exact interpolated quantiles (SQL ``percentile_cont`` /  DuckDB
    ``quantile_cont`` semantics) per ``by`` group, distributed.

    ``probs`` maps output column name -> quantile in [0, 1].  Returns
    (``*by``, qname, quantile, n_total), n_total being the group's row
    count, so callers need no second count of the input.  Only the
    two rows flanking each target rank survive the rank pass; the
    interpolation ``lo + (hi - lo) * frac`` with ``h = 1 + p*(n-1)`` is
    the standard continuous-quantile definition, evaluated once per
    (group, prob).  NULL values must be filtered by the caller.

    This is the production-exact alternative to ``approx_percentile``:
    use the sketch when a bounded error is acceptable (one pass, no
    rank join), use this when the answer must be exact — both stay
    parallel at any scale.

    Contract: the operator reads its input once.  The group totals come
    off the rank's bucket-offset relation (|groups| * N_BUCKETS rows), so
    the ranked relation has a single consumer, the flank join.  Callers
    cut lineage only on relations that also feed other consumers.
    """
    by = list(by)
    ranked, offsets = _rank(df, [value_col], by)

    totals = offsets.select(*by, TOTAL_COL).distinct()
    prob_rows = F.array(
        *[
            F.struct(F.lit(name).alias("qname"), F.lit(p).alias("p"))
            for name, p in probs.items()
        ]
    )
    needed = (
        totals.withColumn("__q", F.explode(prob_rows))
        .select(
            *by,
            TOTAL_COL,
            F.col("__q.qname").alias("qname"),
            (F.lit(1) + F.col("__q.p") * (F.col(TOTAL_COL) - 1)).alias("__h"),
        )
        .withColumn("__k1", F.floor("__h").cast("bigint"))
        .withColumn("__k2", F.ceil("__h").cast("bigint"))
        .withColumn("__frac", F.col("__h") - F.col("__k1"))
    )

    r, nd = ranked.alias("__r"), needed.alias("__nd")
    cond = [F.col(f"__r.{c}") == F.col(f"__nd.{c}") for c in by] + [
        (F.col(f"__r.{RANK_COL}") == F.col("__nd.__k1"))
        | (F.col(f"__r.{RANK_COL}") == F.col("__nd.__k2"))
    ]
    hits = r.join(F.broadcast(nd), cond).select(
        *[F.col(f"__nd.{c}") for c in by],
        F.col("__nd.qname").alias("qname"),
        F.col(f"__nd.{TOTAL_COL}").alias(TOTAL_COL),
        F.col("__nd.__k1").alias("__k1"),
        F.col("__nd.__frac").alias("__frac"),
        F.col(f"__r.{RANK_COL}").alias("__rk"),
        F.col(f"__r.{value_col}").cast("double").alias("__v"),
    )
    return (
        hits.groupBy(*by, "qname", "__k1", "__frac")
        .agg(
            F.max(F.when(F.col("__rk") == F.col("__k1"), F.col("__v"))).alias("__lo"),
            F.max(F.when(F.col("__rk") != F.col("__k1"), F.col("__v"))).alias("__hi"),
            F.max(TOTAL_COL).alias(TOTAL_COL),
        )
        .select(
            *by,
            "qname",
            (
                F.col("__lo")
                + (F.coalesce("__hi", "__lo") - F.col("__lo")) * F.col("__frac")
            ).alias("quantile"),
            TOTAL_COL,
        )
    )
