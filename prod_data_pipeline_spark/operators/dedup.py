"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star extension surface (the reference only MEASURES duplicates and
keeps them, SURVEY §2.6; these operators remove/detect them at scale).

Scale design (100 TB):
- exact dedup is a hash-groupBy on a digest, never on the full text — the
  shuffle moves 32-byte keys + ids, not documents;
- MinHash/LSH follows the classic shingle -> signature -> band-bucket ->
  candidate-join -> verify pipeline: the only shuffle is on band keys, and
  candidate verification touches just the colliding pairs (never the n^2
  cross join);
- one hash recipe: every hash that reaches an output (MinHash values,
  SimHash bits, substring-window keys) is md5-derived, so the DuckDB
  correctness oracle replays it bit for bit;
- SimHash gives a 60-bit near-dup key per document (15 hex nibbles of
  md5 keep it inside a signed bigint); Hamming-adjacent bucketing is a
  bit-chunk band join, same shuffle shape as LSH.

Every LSH pair operator (MinHash here, SimHash, similarity's SRP) shares
one pipeline: a bucket table of (id, band_id, band_key) rows (lsh_bands
or bit_bands), ONE band self-join (lsh_candidates, the Spark twin of
plans/query_registry.lsh_candidates_sql), its own verify, the optional
exact-dup collapse (collapsed_pairs) and one sort/materialize finish.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from prod_data_pipeline_spark.functions.text import shingles, tokens
from prod_data_pipeline_spark.session import (
    compact_for_sort,
    ensure_parallelism,
    truncate_lineage,
)


# MinHash-LSH recipe of near_dup_pairs: 8 md5 MinHashes in 4 bands of 2.
MINHASH_HASHES = 8
LSH_BAND_SIZE = 2
# Word-shingle width of the MinHash signatures (with_minhash, near_dup_pairs)
# and of the blocked Jaccard and sorted-neighborhood joins.
SHINGLE_N = 3


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by content digest: keep lowest id, count copies.

    GroupBy on md5(text) — at scale the map-side partial agg collapses local
    copies before the shuffle, and only (digest, id, count) ever moves.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_dups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one row (lowest id) per distinct content."""
    keep = exact_dedup_groups(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


def _minhash_one(sh: Column, salt: int) -> Column:
    return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{salt}:"), s))))


def with_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = MINHASH_HASHES,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Append MinHash signature columns mh_0..mh_{k-1} plus the distinct
    shingle set (kept for verification joins)."""
    sh = F.array_distinct(shingles(tokens(F.col(text_col)), shingle_n))
    # hashing cost is per-row-heavy: spread a few-file input across the cluster
    out = ensure_parallelism(df).withColumn("shingle_set", sh)
    for j in range(num_hashes):
        out = out.withColumn(f"mh_{j}", _minhash_one(F.col("shingle_set"), j))
    return out


def lsh_bands(sig_df: DataFrame, id_col: str, num_hashes: int, band_size: int) -> DataFrame:
    """Explode signatures into (id, band_id, band_key) rows: the LSH bucket
    table.  band_key concatenates the band's minhashes — docs sharing any
    band collide."""
    assert num_hashes % band_size == 0
    bands = []
    for b in range(num_hashes // band_size):
        cols = [F.col(f"mh_{j}") for j in range(b * band_size, (b + 1) * band_size)]
        bands.append(F.struct(F.lit(b).alias("band_id"), F.concat_ws("|", *cols).alias("band_key")))
    return (
        sig_df.select(F.col(id_col), F.explode(F.array(*bands)).alias("band"))
        .select(id_col, "band.band_id", "band.band_key")
        .filter(F.col("band_key") != "")  # docs with no shingles never collide
    )


def bit_bands(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    n_bands: int,
    band_bits: int,
    carry: tuple = (),
) -> DataFrame:
    """Cut an integer signature into n_bands chunks of band_bits bits: one
    (id, *carry, band_id, band_key) row per chunk — the bucket table of
    the sign-LSH family (SimHash, SRP)."""
    mask = (1 << band_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("band_id"),
                F.shiftright(F.col(sig_col), band_bits * c)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for c in range(n_bands)
        ]
    )
    return sig_df.select(id_col, *carry, F.explode(chunks).alias("c")).select(
        id_col, *carry, "c.band_id", "c.band_key"
    )


def lsh_candidates(buckets: DataFrame, id_col: str, carry: tuple = ()) -> DataFrame:
    """Distinct (id_a, id_b) pairs, id_a < id_b, sharing a band of the
    bucket table ``buckets(id, band_id, band_key, *carry)`` — the one
    band self-join of every LSH operator, and the Spark twin of
    plans/query_registry.lsh_candidates_sql.  The only shuffle is on band
    keys.  Each carry column comes back as <c>_a, <c>_b, so a verifier
    that needs only small per-id values skips the join back to them."""
    l, r = buckets.alias("l"), buckets.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays.

    Zero-safe via try_divide: under ANSI mode (Spark 4 default) a plain
    division would throw when both sets are empty — and Catalyst may
    evaluate the expression as a join residual before other predicates
    have filtered such pairs out.

    Identical non-empty arrays short-circuit to 1.0 before any intersect:
    array equality is a single element-wise compare, where the intersect
    path builds a hash table per evaluation.  EXACT duplicates dominate
    verified candidates in the crawl-replica shape (nightly recrawls,
    mirrored pages — the bench's inflated corpus models it at 10×), and
    identical docs produce byte-identical distinct-shingle arrays (same
    first-occurrence order), so the fast path hits exactly where volume
    concentrates.  Empty==empty still falls through to NULL.
    """
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return F.when((a == b) & (F.size(a) > 0), F.lit(1.0)).otherwise(
        F.try_divide(inter, union)
    )


def _near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
):
    """The core MinHash-LSH pipeline over an (assumed exact-dup-free)
    corpus: signatures -> band buckets -> candidate self-join -> exact
    Jaccard verify.  Returns (pairs, sig_cache) — the caller owns the
    persisted signature relation's lifecycle."""
    sig = with_minhash(df, id_col, text_col, MINHASH_HASHES, shingle_n)
    sig = sig.select(id_col, "shingle_set", *[f"mh_{j}" for j in range(MINHASH_HASHES)])
    # The signature relation feeds three plan branches (bands + both sides
    # of the verification join); without a persist each branch re-tokenizes
    # and re-hashes the corpus.  MEMORY_AND_DISK spills under pressure; at
    # warehouse scale the equivalent is materializing a signature table.
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidates(lsh_bands(sig, id_col, MINHASH_HASHES, LSH_BAND_SIZE), id_col)
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("shingle_set").alias("set_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("set_b"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("set_a"), F.col("set_b")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out, sig


def collapse_exact_groups(df: DataFrame, id_col: str, key: Column, ok: Column):
    """Exact-duplicate group structure for the collapse-then-expand LSH
    optimization: returns (members, reps) where members = (id, _k, _rep,
    _m, _ok) is persisted — per distinct key the MIN id as representative,
    the group size and the eligibility flag — and reps = the rows of
    ``df`` that represent their group.

    `key` must be collision-proof for the domain (md5 — 128 bits; a
    collision would merge distinct contents into one group), `ok` marks
    rows able to collide in LSH at all (non-empty shingle set / non-zero
    vector); it is constant within a group by construction.
    """
    members = df.select(F.col(id_col), key.alias("_k"), ok.alias("_ok"))
    gstats = members.groupBy("_k").agg(
        F.min(id_col).alias("_rep"),
        F.count(F.lit(1)).alias("_m"),
        F.max("_ok").alias("_ok"),
    )
    members = (
        members.drop("_ok")
        .join(gstats, "_k")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # reps read the PERSISTED members blocks — each group's representative
    # row is the one where id == _rep, so a narrow filter over the cache
    # replaces what would otherwise be another reference to the gstats
    # plan, replaying the corpus-wide key group-by unless ReuseExchange
    # happens to fire (the scheduler accident this module never relies on).
    reps = df.join(
        members.filter(F.col(id_col) == F.col("_rep")).select(id_col),
        id_col,
        "left_semi",
    )
    return members, reps


def expand_group_pairs(
    rep_pairs: DataFrame, members: DataFrame, id_col: str, self_sim: DataFrame, sim_col: str
) -> DataFrame:
    """Expand representative-level LSH pairs back to full-id pairs.

    - intra-group: every C(m, 2) pair of an eligible group, with the
      group's self-similarity (identical content always collides in LSH
      and verifies to its self-similarity, so this reproduces exactly the
      pairs the uncollapsed pipeline would emit);
    - inter-group: each rep pair fans out to members(A) × members(B) with
      the rep pair's verified similarity (identical content has identical
      signatures, so members collide iff their reps collide).
    """
    ma, mb = members.alias("ma"), members.alias("mb")
    intra = (
        ma.join(
            mb,
            (F.col("ma._k") == F.col("mb._k"))
            & (F.col(f"ma.{id_col}") < F.col(f"mb.{id_col}")),
        )
        .filter(F.col("ma._ok"))
        .join(self_sim, F.col("ma._rep") == F.col("_ssid"))
        .select(
            F.col(f"ma.{id_col}").alias("id_a"),
            F.col(f"mb.{id_col}").alias("id_b"),
            F.col("_ss").alias(sim_col),
        )
    )
    ga = members.select(F.col("_rep").alias("id_a"), F.col(id_col).alias("_ia"))
    gb = members.select(F.col("_rep").alias("id_b"), F.col(id_col).alias("_ib"))
    inter = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            sim_col,
        )
    )
    return intra.unionByName(inter)


def collapsed_pairs(
    df: DataFrame, id_col: str, key: Column, ok: Column, core, self_sim, sim_col: str
):
    """Run an LSH pair core on one representative per exact-duplicate
    group and expand the result back to full-id pairs: the
    collapse-then-expand sequence every LSH operator shares.

    ``core(reps) -> (rep_pairs, sig_cache)`` is the operator's pipeline;
    ``self_sim(members, sig_cache)`` returns (_ssid, _ss), the verified
    similarity of a representative with itself, for eligible groups.
    Returns (pairs, [sig_cache, members]) — the caller owns both caches.
    """
    members, reps = collapse_exact_groups(df, id_col, key, ok)
    rep_pairs, sig = core(reps)
    out = expand_group_pairs(rep_pairs, members, id_col, self_sim(members, sig), sim_col)
    return out, [sig, members]


def _finish_pairs(out: DataFrame, sort: bool, materialize: bool, caches: list) -> DataFrame:
    """The one ending of every LSH pair operator.

    materialize=True checkpoints the verified pairs and releases the
    operator's caches.  Otherwise the caches stay persisted with no handle
    returned, keeping the hot path one pipelined job.

    sort=True orders by (id_a, id_b) for oracle comparison and stable
    reports; pipelines that only consume the pair RELATION (cluster
    resolution, anti-joins) pass sort=False — the global sort is a full
    range-exchange that buys nothing downstream.  A global sort's range
    partitioner SAMPLES its child, so an unmaterialized child executes
    twice (once for the sample, once for the sort): compact_for_sort
    repartitions the slim pair relation down (defaultParallelism/4) and
    lazy-cuts it first, so checkpoint-write + sample + sort stop
    scheduling 65 tasks over kilobyte blocks (measured 3.2 -> 2.4 s on the
    MinHash pairs at the inflated bench shape; see session.compact_for_sort).
    """
    if materialize:
        out = out.transform(truncate_lineage, eager=True)
        for cache in caches:
            cache.unpersist()
    elif sort:
        out = compact_for_sort(out)
    return out.orderBy("id_a", "id_b") if sort else out


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = SHINGLE_N,
    threshold: float = 0.5,
    sort: bool = True,
    materialize: bool = False,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 4
    decimals.  Only band-colliding pairs are verified — the candidate join
    shuffles the small bucket table, never the corpus against itself.

    collapse_exact (default on) first groups BYTE-IDENTICAL texts by
    md5 and runs the LSH pipeline on one representative per group, then
    expands rep-level pairs back to full-id pairs (collapsed_pairs).
    The output is EXACTLY the uncollapsed output — identical docs have
    identical signatures, so they collide iff their rep collides, and
    verify to the same Jaccard — but signature hashing, banding, the
    candidate join, and verification all run on the distinct-text corpus.
    Real crawls are exact-duplicate-heavy (nightly recrawls, mirrors:
    the bench's 10×-replicated corpus models it), and dup cliques are
    quadratic in candidate volume, so collapsing attacks the worst term:
    measured 5.4 s -> 3.1 s at the sf1-equivalent bench shape.  The
    added cost when there are NO exact dups is one narrow
    (id, md5) group-by — ~0.3 s at sf0.1.

    Cache lifecycle: the signature relation (and under collapse_exact the
    member table) is persisted; with the default materialize=False they
    are never unpersisted and the caller gets no handle to them — they
    live until the session stops, ``spark.catalog.clearCache()`` runs, or
    LRU eviction reclaims them under pressure.  This keeps the hot path a
    single pipelined job (an eager checkpoint costs a measured +0.7 s per
    call at sf0.1 — scheduling, not data).  Long-running sessions calling
    this in a loop should pass materialize=True: the verified pairs are
    checkpointed and the caches are released before returning.
    """

    def core(d: DataFrame):
        return _near_dup_pairs_lsh(d, id_col, text_col, shingle_n, threshold)

    if not collapse_exact:
        out, sig = core(df)
        return _finish_pairs(out, sort, materialize, [sig])

    # eligibility = the doc can produce at least one shingle (shorter docs
    # have empty shingle sets, whose band keys are filtered out of the
    # bucket table — so identical short docs never pair in the original
    # pipeline either).  The self-similarity of an identical pair: Jaccard
    # of a non-empty set with itself is exactly 1.0 (the verified value
    # the uncollapsed pipeline computes for identical docs), read off the
    # persisted members.
    ok = F.size(tokens(F.col(text_col))) >= shingle_n
    out, caches = collapsed_pairs(
        df,
        id_col,
        F.md5(F.col(text_col)),
        ok,
        core,
        lambda members, _sig: members.filter(
            (F.col(id_col) == F.col("_rep")) & F.col("_ok")
        ).select(F.col("_rep").alias("_ssid"), F.lit(1.0).alias("_ss")),
        "jaccard",
    )
    return _finish_pairs(out, sort, materialize, caches)


def blocked_pairs(
    base: DataFrame,
    id_col: str,
    block_cols: tuple,
    sim: Column,
    sim_col: str,
    threshold: float,
    sort: bool,
) -> DataFrame:
    """Exact pairwise similarity within blocking groups: a self-join of
    ``base`` (aliased a, b) on block equality with id_a < id_b, keeping
    the pair when ``sim`` (over a.* and b.*) reaches ``threshold`` — the
    shared body of ngram_jaccard_pairs and
    similarity.cosine_near_dup_pairs.  The n^2 blowup is bounded per block."""
    a, b = base.alias("a"), base.alias("b")
    on = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        on = on & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    out = (
        a.join(b, on)
        .withColumn(sim_col, sim)
        .filter(F.col(sim_col) >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim_col,
        )
    )
    return out.orderBy("id_a", "id_b") if sort else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple = ("lang", "source"),
    threshold: float = 0.2,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard: exact similarity within blocking
    groups (cheap attribute equality) instead of LSH candidates.  The n^2
    blowup is bounded per block; pick block_cols so blocks stay small.
    Pairs come back sorted by (id_a, id_b)."""
    sh = F.array_distinct(shingles(tokens(F.col(text_col)), SHINGLE_N))
    base = ensure_parallelism(df).select(
        F.col(id_col), *[F.col(c) for c in block_cols], sh.alias("sset")
    )
    sim = F.round(jaccard(F.col("a.sset"), F.col("b.sset")), 4)
    return blocked_pairs(base, id_col, block_cols, sim, "jaccard", threshold, True)


SIMHASH_BITS = 60
# Hamming bound of simhash_bucket_pairs; 4 chunks make <= 3 a guaranteed hit.
SIMHASH_MAX_HAMMING = 3


def _token_bit(h: Column, b: int) -> Column:
    """Bit ``b`` of a token's md5 digest: the bit lives in hex nibble
    ``b // 4`` of the lowercase digest — identical nibble arithmetic is
    expressible in DuckDB (strpos on the hex alphabet), which is what makes
    SimHash oracle-checkable."""
    nib = F.conv(F.substring(h, b // 4 + 1, 1), 16, 10).cast("int")
    return F.shiftright(nib, b % 4).bitwiseAND(F.lit(1))


def with_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash per document: 60 bits from the md5 of each token (15 hex
    nibbles keep the value inside a signed bigint).

    bit_b(simhash) = sign of sum over tokens of (+1 if bit_b(md5(tok)) else
    -1).  Expressed as explode -> per-bit conditional sums -> bit
    reassembly: one shuffle on id, all arithmetic JVM-side.
    """
    toked = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    h = F.md5(F.col("tok"))
    aggs = [
        F.sum(F.when(_token_bit(h, b) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = toked.groupBy(id_col).agg(*aggs)
    sim = None
    for b in range(SIMHASH_BITS):
        bit = F.shiftleft(F.when(F.col(f"b{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), b)
        sim = bit if sim is None else sim.bitwiseXOR(bit)
    return per_doc.select(F.col(id_col), sim.alias("simhash"))


def simhash_bucket_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    sort: bool = True,
    materialize: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs whose SimHashes agree on at least one of 4
    bit-chunks (pigeonhole: Hamming distance <= 3 guarantees a shared
    chunk), verified by exact Hamming distance <= max_hamming.
    Cache lifecycle matches near_dup_pairs: materialize=False (default)
    keeps one pipelined job and leaves the simhash cache persisted, with
    no handle returned (it lives until the session stops, clearCache()
    or LRU eviction); materialize=True checkpoints the pair set and
    releases it."""
    sim = with_simhash(df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = bit_bands(sim, id_col, "simhash", 4, SIMHASH_BITS // 4, carry=("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    out = (
        lsh_candidates(bands, id_col, carry=("simhash",))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _finish_pairs(out, sort, materialize, [sim])


def substring_dup_spans(
    df: DataFrame,
    window: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Span-level EXACT substring dedup (the ExactSubstr family): find the
    maximal token spans that occur (at least twice) ANYWHERE in the
    corpus — across documents or repeated within one — as opposed to the
    whole-document exact/near dedup above.  This is the standard LLM-corpus
    pass that strips boilerplate/licenses/templates repeated verbatim
    inside otherwise-distinct documents.

    Spark-shaped suffix-array replacement: slide a `window`-token hash over
    every document (one hash per start position, computed INSIDE a
    higher-order transform so the token array is scanned once and never
    duplicated per window row), groupBy the window hash to find repeats,
    semi-join the repeated hashes back onto the position table, and merge
    overlapping/adjacent duplicated windows into maximal spans per doc with
    one partitionBy(doc) window pass (running-max interval union).

    Scale: shuffle is proportional to TOKEN WINDOWS (≈ corpus token count),
    never to document pairs — the groupBy key is a 16-byte digest with
    map-side partial aggregation, exactly the exact-dedup shuffle shape one
    level down.  No n² anywhere; the span merge shuffles only the (small)
    duplicated-window subset keyed by doc.

    Window keys are md5 digests, bit-identical in any engine, so the DuckDB
    oracle replays the whole pipeline.  Returns (id, span_start, span_end,
    n_windows) with 1-based inclusive token positions.
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    toks = ensure_parallelism(toks).filter(F.size("toks") >= window)
    sep = "\x1f"  # unit separator: token-boundary-safe concat key

    win_arr = F.transform(
        F.sequence(F.lit(1), F.size("toks") - window + 1),
        lambda p: F.struct(
            p.alias("p"),
            F.md5(F.concat_ws(sep, F.slice(F.col("toks"), p, window))).alias("h"),
        ),
    )
    w = (
        toks.select(F.col(id_col), F.explode(win_arr).alias("w"))
        .select(F.col(id_col), F.col("w.p").alias("p"), F.col("w.h").alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup_h = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("h")
    )
    dupw = w.join(dup_h, "h", "left_semi").select(
        F.col(id_col), F.col("p"), (F.col("p") + window - 1).alias("e")
    )
    if materialize:
        # two plan branches read `w` (hash agg + semi probe); materialize the
        # small duplicated-window relation, then release the cache so the
        # operator doesn't leak session-lifetime storage per call.
        dupw = dupw.transform(truncate_lineage, eager=True)
        w.unpersist()

    from pyspark.sql import Window as W

    prev = W.partitionBy(id_col).orderBy("p").rowsBetween(W.unboundedPreceding, -1)
    run = W.partitionBy(id_col).orderBy("p")
    with_isl = (
        dupw.withColumn("prev_end", F.max("e").over(prev))
        # new maximal span when this window starts past the farthest end
        # reached so far (+1: adjacent coverage still merges)
        .withColumn(
            "new_span",
            F.when(
                F.col("prev_end").isNull() | (F.col("p") > F.col("prev_end") + 1), 1
            ).otherwise(0),
        )
        .withColumn("span_id", F.sum("new_span").over(run))
    )
    return (
        with_isl.groupBy(F.col(id_col), F.col("span_id"))
        .agg(
            F.min("p").alias("span_start"),
            F.max("e").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(F.col(id_col), "span_start", "span_end", "n_windows")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    threshold_pct: int = 70,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
    hot_df: int = 100_000,
    shingle_n: int | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity join via prefix filtering
    (the PPJoin/AllPairs family) — the deterministic complement to the
    probabilistic MinHash-LSH path: no false negatives, no banding
    parameters, at the cost of one global token-frequency pass.

    threshold_pct is an integer percentage (70 = Jaccard >= 0.7) so every
    bound below stays in integer arithmetic — 0.7 is not binary-exact and
    ``ceil(0.7*L)`` off-by-ulp bugs are the classic trap here.

    The filter: order each document's distinct tokens rarest-first (by
    global document frequency, token as tie-break — rare-first makes
    prefixes maximally selective), keep each doc's first
    ``L - ceil(t*L) + 1`` tokens as its prefix; two sets with
    Jaccard >= t MUST share a prefix token, so the candidate join is on
    single prefix tokens instead of all pairs.  A length filter
    (``t*|b| <= |a|``, integers again) prunes candidates before
    verification; exact verification compares ``10^2*inter >=
    t_pct*union`` in integers — no float ever decides membership.

    Shuffles: one token-DF agg, one prefix-token self-join (candidates ∝
    shared rare tokens, never n²), one verify join on ids.  At 100 TB the
    frequency relation is the big-data analog of a dictionary: df-ranked
    token ids are exactly what a tokenizer/vocab pass already produces.

    Hot-token guard: a single ultra-common token that survives prefixing
    (possible in short-doc corpora, where the prefix is most of the doc)
    concentrates its whole posting list on ONE join key — the classic
    skew cliff.  Tokens whose df exceeds `hot_df` are split into
    m = ceil(df/hot_df) deterministic chunks (xxhash64(id) % m) and the
    candidate join runs on (token, chunk_a, chunk_b): each side
    replicates m-fold for hot tokens only, every (a, b) pair meets under
    exactly one (chunk_a, chunk_b) key, and per-key candidate volume is
    bounded by ~hot_df² instead of df².  Cold tokens take m = 1, which
    degenerates to the plain join — one code path, zero row growth.  The
    candidate SET is identical with or without the split (this is work
    redistribution, not filtering), so exactness and the oracle are
    untouched.

    shingle_n switches the similarity space from distinct TOKENS to
    distinct word n-gram SHINGLES — the space MinHash-LSH banding
    operates in, which makes this operator the exact ground truth for
    LSH recall measurement (order-sensitive, and shingles are far rarer
    than tokens, so prefixes get MORE selective).
    """
    elems = (
        tokens(F.col(text_col))
        if shingle_n is None
        else shingles(tokens(F.col(text_col)), shingle_n)
    )
    toks = df.select(F.col(id_col), F.array_distinct(elems).alias("toks")).filter(
        F.size("toks") > 0
    )
    # Cache ownership (round-7 advisor): with materialize=True the
    # function persists and later unpersists; with materialize=False the
    # caller gets a lazy plan but NO handle to these internal relations,
    # so a persist would accrete session-lifetime storage.  A lazy
    # lineage cut gives the same shared-read/AQE-stats benefit while
    # tying the storage to the returned plan's RDD — dropped when the
    # caller drops the DataFrame (ContextCleaner), not when the session
    # ends.  Trade-off (round-8 advisor): in its default localCheckpoint
    # mode this is NOT fault-tolerant — blocks live only on executors,
    # so an executor loss (dynamic allocation, spot nodes) makes them
    # unrecoverable and fails the caller's job, where a persisted plan
    # would recompute from lineage.  On a real cluster configure a
    # reliable checkpoint dir (session.truncate_lineage docstring) to
    # restore fault tolerance at the cost of per-call FS writes.
    toks = ensure_parallelism(toks)
    toks = (
        toks.persist(StorageLevel.MEMORY_AND_DISK)
        if materialize
        else toks.transform(truncate_lineage, eager=False)
    )

    tok = toks.select(F.col(id_col), F.explode("toks").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("df", "token")
    ranked = (
        tok.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    t = threshold_pct
    # prefix length L - ceil(t*L/100) + 1, all-integer ceiling; keep df for
    # the hot-token chunk count AND the positional filter's global order,
    # rn for the in-prefix position
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.expr(f"({t} * sz + 99) div 100") + 1
    ).select(
        F.col(id_col),
        "token",
        "sz",
        "rn",
        "df",
        F.ceil(F.col("df") / F.lit(hot_df)).cast("int").alias("m"),
    )
    # The self-join reads `prefix` from BOTH sides: persisted, each branch
    # reads the (tiny — prefix-length x docs) cached relation and AQE
    # plans the join/agg stages from its real statistics; left fused, the
    # dfreq+window pipeline replays per branch and the whole chain plans
    # blind (measured 47.5 s -> 11.2 s end-to-end at sf0.1 token space —
    # the single biggest win in this operator's history).
    prefix = (
        prefix.persist(StorageLevel.MEMORY_AND_DISK)
        if materialize
        else prefix.transform(truncate_lineage, eager=False)
    )
    chunk = F.pmod(F.xxhash64(F.col(id_col)), F.col("m")).cast("int")
    rep = F.explode(F.sequence(F.lit(0), F.col("m") - 1))

    a = prefix.select(
        F.col(id_col).alias("id_a"),
        F.col("token"),
        F.col("df"),
        F.col("sz").alias("sz_a"),
        F.col("rn").alias("rn_a"),
        chunk.alias("ca"),
        rep.alias("cb"),  # meet every b-chunk of this token
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        F.col("token"),
        F.col("sz").alias("sz_b"),
        F.col("rn").alias("rn_b"),
        rep.alias("ca"),  # meet every a-chunk of this token
        chunk.alias("cb"),
    )
    # PPJoin POSITIONAL filter on top of the AllPairs prefix filter: for
    # each candidate pair, find its FIRST shared prefix token w in the
    # global (df, token) order (both docs rank tokens by that same total
    # order, so no token shared by the pair can precede w — the classic
    # PPJoin argument).  The overlap is then bounded by
    #   inter <= 1 + min(sz_a - rn_a, sz_b - rn_b)
    # (w itself + whatever follows w on the shorter tail), and a pair
    # whose bound cannot reach the threshold is dropped BEFORE the verify
    # join ever materializes its token arrays.  This only removes pairs
    # that verification would reject — the verified output is IDENTICAL,
    # so the DuckDB oracle replays the plain AllPairs candidates
    # unchanged.  On high-threshold/short-prefix corpora the cut is
    # drastic: at t=92 a pair first meeting at position 2 of either side
    # is already infeasible (measured 38 s -> sub-10 s at sf0.1).
    first = (
        a.join(b, ["token", "ca", "cb"])
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: Jaccard >= t/100 requires t*max(|a|,|b|) <= 100*min
        .filter(
            F.lit(t) * F.greatest("sz_a", "sz_b")
            <= F.lit(100) * F.least("sz_a", "sz_b")
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min(
                F.struct("df", "token", "rn_a", "rn_b", "sz_a", "sz_b")
            ).alias("w")
        )
    )
    ubound = F.lit(1) + F.least(
        F.col("w.sz_a") - F.col("w.rn_a"), F.col("w.sz_b") - F.col("w.rn_b")
    )
    cand = first.filter(
        F.lit(100) * ubound
        >= F.lit(t) * (F.col("w.sz_a") + F.col("w.sz_b") - ubound)
    ).select("id_a", "id_b")

    sa = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    sb = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter)
        .withColumn("union_sz", union)
        # integer threshold test: inter/union >= t/100  <=>  100*inter >= t*union
        .filter(F.lit(100) * F.col("inter") >= F.lit(t) * F.col("union_sz"))
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("union_sz").cast("long").alias("union_sz"),
            F.round(F.col("inter") / F.col("union_sz"), 4).alias("jaccard"),
        )
    )
    if materialize:
        # The returned plan references the persisted `toks` and `prefix`
        # relations from multiple branches; materialize the (small)
        # verified pair set, then release the caches so repeated calls
        # don't leak session-lifetime storage.  materialize=False hands
        # the lazy plan back for inspection/composition — the CALLER then
        # owns the cache lifetime.
        verified = verified.transform(truncate_lineage, eager=True)
        toks.unpersist()
        prefix.unpersist()
    return verified


def incremental_dedup(
    batch: DataFrame,
    snapshot: DataFrame,
    key_col: str = "fp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (cross-snapshot) dedup: flag each batch row against a
    previously-ingested snapshot and against earlier rows of the same
    batch — the nightly-crawl ingestion primitive (dedup today's crawl
    against the corpus without re-touching the corpus).

    Adds two int columns:
      dup_snapshot — the row's `key_col` already exists in `snapshot`;
      dup_batch    — a lower-`id_col` row of THIS batch shares the key
                     (kept-first rule, deterministic without any sort).
    A row is ingestable iff both are 0.  A NULL key never equi-joins, so
    null-keyed rows come back (0, 0) — callers must pre-filter or derive
    a total key (a digest of a non-null column) if NULL means "unknown"
    rather than "unique".  Shape: one distinct() over the
    snapshot keys (shuffle ∝ unique keys, not corpus rows), one left join
    on the key, and one per-key min-id aggregation joined back — all
    key-partitioned equi-joins; the snapshot text never moves, only its
    key column does.  At 100 TB the snapshot key relation is a compact
    digest table that can be bucketed once and reused nightly."""
    snap_keys = snapshot.select(F.col(key_col)).distinct().withColumn("_in_snap", F.lit(1))
    first_ids = batch.groupBy(key_col).agg(F.min(id_col).alias("_first_id"))
    return (
        batch.join(snap_keys, key_col, "left")
        .join(first_ids, key_col, "left")
        .withColumn("dup_snapshot", F.when(F.col("_in_snap").isNotNull(), 1).otherwise(0))
        .withColumn(
            "dup_batch", F.when(F.col(id_col) > F.col("_first_id"), 1).otherwise(0)
        )
        .drop("_in_snap", "_first_id")
    )


def containment_pairs(
    df: DataFrame,
    threshold_pct: int = 95,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    min_container_ratio: int = 2,
    hot_df: int = 100_000,
) -> DataFrame:
    """EXACT asymmetric containment join: pairs (a, b) where at least
    ``threshold_pct``% of a's distinct tokens also occur in b — the
    quote/excerpt/subset relationship that symmetric Jaccard dedup
    structurally misses (a 50-token excerpt inside a 5000-token page has
    Jaccard ~0.01 but containment ~1.0).  This is the whole-doc
    companion to span-level substring dedup: it finds WHICH documents
    are engulfed by others, the signal for dropping the fragment and
    keeping the superset.

    Prefix filtering, asymmetric: only the CONTAINED side needs a
    prefix.  Order a's tokens rarest-first (global df, token
    tie-break); keep the first |a| - ceil(t*|a|) + 1.  If b contains
    >= t*|a| of a's tokens, at most ceil(t*|a|) - 1 < t*|a| of them can
    avoid the prefix — pigeonhole — so every qualifying pair shares a
    prefix token and the candidate join runs prefix(a) x posting
    lists(b), never all pairs.  A size bound (|b| >= t*|a|, integers)
    prunes before verification; membership is decided by
    ``100*inter >= t_pct*|a|`` — all integer, no float boundary.

    Shuffles: one token-df agg, one prefix-vs-posting join (cost ∝
    Σ df(rare prefix tokens)), one verify join on ids.

    Hot-token guard (same mechanism as jaccard_prefix_pairs): a token
    common to half the corpus that survives prefixing (short contained
    docs make this routine — their prefix is most of the doc) would
    concentrate its ENTIRE posting list on one join key.  Tokens with
    df > `hot_df` split into m = ceil(df/hot_df) deterministic chunks
    (xxhash64(doc_id) % m) on BOTH sides; the candidate join runs on
    (token, chunk_a, chunk_b), each side replicating m-fold for hot
    tokens only, so per-key candidate volume is bounded by ~hot_df²
    instead of prefix_df × posting_df.  Every (a, b) pair meets under
    exactly one (chunk_a, chunk_b) key and cold tokens take m = 1, so
    the candidate SET — and therefore the oracle — is unchanged: the
    split redistributes work, it never filters.

    Two guards keep the pair set the INTERESTING one: the contained doc
    needs >= min_tokens distinct tokens (trivially small sets are
    contained in everything), and the container must be >=
    min_container_ratio x larger (the excerpt-in-page case; same-size
    high-overlap pairs are the symmetric near-dup family, already
    covered).  On shared-vocabulary corpora these bounds also keep the
    output size sane — at 80%/no-asymmetry this corpus yields ~58% of
    ALL ordered pairs.

    Returns (id_small, id_container, inter, containment) with
    containment = inter/|a| rounded to 4.
    """
    from pyspark.sql import Window

    from prod_data_pipeline_spark.functions.text import distinct_tokens

    t = threshold_pct
    toksets = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("doc_id"), distinct_tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= min_tokens)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tok = toksets.select(
        "doc_id", F.explode("toks").alias("token"), F.size("toks").alias("sz")
    )
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # hot-token chunk count rides the df relation so both join sides agree
    dfreq = dfreq.withColumn(
        "m", F.ceil(F.col("df") / F.lit(hot_df)).cast("int")
    )
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    # prefix AND posting both derive from this relation: persisted, the
    # candidate join's two branches read one cached copy and AQE plans
    # from real stats instead of replaying the dfreq+window pipeline per
    # branch (the same fused-plan cliff jaccard_prefix_pairs had)
    ranked = (
        tok.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chunk = F.pmod(F.xxhash64(F.col("doc_id")), F.col("m")).cast("int")
    rep = F.explode(F.sequence(F.lit(0), F.col("m") - 1))
    # prefix length: sz - ceil(t*sz/100) + 1 = sz - (t*sz + 99) div 100 + 1
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.expr(f"({t} * sz + 99) div 100") + 1
    ).select(
        F.col("doc_id").alias("id_a"),
        "token",
        F.col("sz").alias("sz_a"),
        chunk.alias("ca"),
        rep.alias("cb"),  # meet every posting chunk of this token
    )
    posting = ranked.select(
        F.col("doc_id").alias("id_b"),
        "token",
        F.col("sz").alias("sz_b"),
        rep.alias("ca"),  # meet every prefix chunk of this token
        chunk.alias("cb"),
    )
    cand = (
        prefix.join(posting, ["token", "ca", "cb"])
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("sz_b") >= min_container_ratio * F.col("sz_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = toksets.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = toksets.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .filter(100 * F.col("inter") >= t * F.size("ta"))
        .select(
            F.col("id_a").alias("id_small"),
            F.col("id_b").alias("id_container"),
            F.col("inter").cast("long").alias("inter"),
            F.round(
                F.col("inter").cast("double") / F.size("ta"), 4
            ).alias("containment"),
        )
    )
    out = out.transform(truncate_lineage, eager=True)
    toksets.unpersist()
    ranked.unpersist()
    return out


# Sorted-neighborhood blocking: 16-character sort key, 5-record window.
SNM_KEY_LEN = 16
SNM_WINDOW = 5


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
) -> DataFrame:
    """Sorted-neighborhood blocking (the classic entity-resolution
    alternative to LSH banding): sort the corpus by a normalized prefix
    key (its first SNM_KEY_LEN characters), compare each record only
    against its SNM_WINDOW successors in that order, verify candidates
    by shingle Jaccard.  Catches
    prefix-stable near-dups (shared title/boilerplate head) that land in
    one neighborhood regardless of how later edits perturb MinHash
    bands — the complementary recall profile to docs_near_dup_pairs.

    Scale: the global order comes from operators.ranking's two-pass
    bucketed rank — NO single-partition sort.  The rank relation is slim
    (id, key, rank); the window expansion is a SNM_WINDOW-fold sequence
    explode joined back on rank (equi-join), and shingle sets join in by
    id afterwards, so documents shuffle at most twice and never as
    key-cartesian blocks.  Candidate count is exactly n*SNM_WINDOW — load is
    data-size-linear by construction, the property LSH can't promise
    under adversarial key skew.

    Bucketing correctness: bucketed_global_rank buckets on its FIRST
    order column, which must be numeric and monotone in the sort order.
    `_key_num` packs the space-padded first 7 bytes of the (ASCII
    [a-z0-9]) key big-endian into a bigint — space (0x20) sorts below
    every key character (0x30+), so the numeric order equals the
    byte-lexicographic string order and bucket boundaries can never
    split out of order; full (key, id) ordering inside buckets settles
    the remaining ties.

    Output: (id_a, id_b, rank_gap, jaccard) for verified pairs, where
    id_a precedes id_b in key order and 1 <= rank_gap <= SNM_WINDOW.
    """
    from prod_data_pipeline_spark.operators.ranking import bucketed_global_rank

    key = F.substring(
        F.regexp_replace(
            F.lower(F.substring(F.col(text_col), 1, 4 * SNM_KEY_LEN)), "[^a-z0-9]", ""
        ),
        1,
        SNM_KEY_LEN,
    )
    keyed = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            key.alias("_key"),
            F.array_distinct(shingles(tokens(F.col(text_col)), SHINGLE_N)).alias("_sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keyed_slim = keyed.select(
        "doc_id",
        "_key",
        F.conv(F.hex(F.rpad(F.col("_key"), 7, " ")), 16, 10)
        .cast("bigint")
        .alias("_key_num"),
    )
    ranked = bucketed_global_rank(
        keyed_slim, order_cols=("_key_num", "_key", "doc_id")
    ).select("doc_id", "rank")
    probes = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("rank").alias("rank_a"),
        F.explode(F.sequence(F.col("rank") + 1, F.col("rank") + SNM_WINDOW)).alias(
            "rank_b"
        ),
    )
    cand = probes.join(
        ranked.select(F.col("doc_id").alias("id_b"), F.col("rank").alias("rank_b")),
        "rank_b",
    )
    sh = keyed.select("doc_id", "_sh")
    verified = (
        cand.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sha")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_shb")),
            "id_b",
        )
        .filter((F.size("_sha") > 0) & (F.size("_shb") > 0))
        .withColumn("jaccard", F.round(jaccard(F.col("_sha"), F.col("_shb")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            (F.col("rank_b") - F.col("rank_a")).cast("long").alias("rank_gap"),
            "jaccard",
        )
    )
    verified = verified.transform(truncate_lineage, eager=True)
    keyed.unpersist()
    return verified
