"""Deterministic sampling for training-data mixing.

A pretraining pipeline rarely uses a corpus as-is: sources are mixed at
target proportions (downsample crawl, keep curated reference data whole).
``df.sample()`` is wrong for this at scale — it draws from rand(), so task
retries/speculative duplicates see different rows, and no oracle can
replay it.  These operators derive the keep/drop decision from a hash of a
stable key, which makes sampling:

- deterministic across retries, re-runs, and engines (md5-based buckets
  replay exactly in the DuckDB correctness oracle);
- stable under data growth: a row's fate depends only on (salt, key);
- stratifiable: per-stratum rates are just a CASE over the threshold.

Scale: the filter is a pure projection predicate — no shuffle, pushes to
the scan, and composes with partition pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 32-bit bucket space: md5's first 8 hex chars, uniform over [0, 2^32).
_BUCKET_SPACE = 1 << 32


def hash_bucket(key: Column, salt: str) -> Column:
    """Uniform [0, 2^32) bucket from md5(salt:key) — the first 8 hex chars
    parsed as an integer.  Mirrorable bit-for-bit in ANSI SQL."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")


def hash_sample(
    df: DataFrame,
    rate: float,
    key_col: str,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff its hash bucket falls
    below rate * 2^32.  Same rows on every run."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(hash_bucket(F.col(key_col), salt) < int(rate * _BUCKET_SPACE))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive:
    rates={'crawl': 0.1, 'curated': 1.0} downsamples crawl 10x and keeps
    curated whole; strata not listed get default_rate (0 drops them).
    """
    for stratum, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {stratum!r} must be in [0, 1], got {rate}")
    threshold = F.lit(int(default_rate * _BUCKET_SPACE))
    for stratum, rate in rates.items():
        threshold = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * _BUCKET_SPACE))
        ).otherwise(threshold)
    return df.filter(hash_bucket(F.col(key_col), salt) < threshold)


def mixing_weights(
    df: DataFrame,
    targets: dict[str, float],
    strata_col: str,
) -> DataFrame:
    """Sampling rates that turn the observed source mix into a target mix.

    Given target proportions (summing to 1), computes per-stratum keep
    rates scaled so the most-over-represented source relative to its
    target is kept whole and every other source is downsampled to match —
    i.e. the largest achievable corpus with exactly the target mixture and
    no upsampling.  One narrow groupBy; output is a tiny relation meant to
    feed stratified_sample.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_rows"))
    target_col = F.lit(None).cast("double")
    for stratum, share in targets.items():
        target_col = F.when(F.col(strata_col) == stratum, F.lit(share)).otherwise(
            target_col
        )
    with_t = counts.withColumn("target_share", target_col).filter(
        F.col("target_share").isNotNull()
    )
    # scale chosen so max(rate) == 1: corpus_total = min over strata of n/share
    corpus_total = with_t.select(
        F.min(F.col("n_rows") / F.col("target_share")).alias("m")
    )
    return (
        with_t.crossJoin(F.broadcast(corpus_total))
        .select(
            strata_col,
            "n_rows",
            "target_share",
            F.round((F.col("target_share") * F.col("m")) / F.col("n_rows"), 6).alias(
                "keep_rate"
            ),
        )
        .orderBy(strata_col)
    )


# DSIR features: hashed word bigrams, md5('dsir:<gram>') mod 1024 buckets.
DSIR_NGRAM = 2
DSIR_BUCKETS = 1024
DSIR_SALT = "dsir"


def dsir_importance(
    raw_df: DataFrame,
    target_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every raw document by how much more likely its hashed n-gram
    bigram features are under the TARGET corpus distribution than under the
    raw one — the standard "select crawl data that looks like the curated
    set" pass of an LLM pretraining pipeline.

    Both corpora are reduced to bag-of-hashed-n-gram bucket counts
    (md5-based buckets — engine-portable, retry-stable, mirrored exactly
    by the DuckDB oracle).  Bucket b gets a Laplace-smoothed log ratio
    ``ln p_target(b) - ln p_raw(b)`` rounded to 7 digits; a document's
    importance weight is the count-weighted sum of its buckets' ratios,
    accumulated as exact DECIMAL so partition order never touches the
    result.  Documents with fewer than DSIR_NGRAM tokens have no features and
    score 0 (the neutral weight).

    Scale shape: the raw corpus is reduced ONCE to a per-(doc, bucket)
    count relation (map-side combined; at most DSIR_BUCKETS rows per
    doc and far fewer in practice), which is lineage-cut and read twice —
    for the global raw bucket counts and for the per-doc weight join.
    The ratio relation is exactly DSIR_BUCKETS rows and broadcasts;
    the only corpus-keyed shuffle is the (doc, bucket) partial-agg.  The
    target corpus is scanned once; at 100 TB the target is the small
    curated set, the raw side the crawl.

    Returns (id_col, n_grams, log_w) — one row per raw document, higher
    ``log_w`` = more target-like.
    """
    from prod_data_pipeline_spark.functions.text import shingles, tokens
    from prod_data_pipeline_spark.session import truncate_lineage

    def _doc_buckets(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        t = df.select(*cols, shingles(tokens(F.col(text_col)), DSIR_NGRAM).alias("_g"))
        e = t.select(*cols, F.explode("_g").alias("_gram"))
        b = e.select(
            *cols,
            F.pmod(hash_bucket(F.col("_gram"), DSIR_SALT), F.lit(DSIR_BUCKETS))
            .cast("int")
            .alias("bucket"),
        )
        keys = [id_col, "bucket"] if keep_id else ["bucket"]
        return b.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))

    # Raw side: one corpus scan -> slim (doc, bucket, cnt) relation, read
    # by two consumers (global counts + the weight join) — lazy lineage
    # cut so both read stored blocks and storage follows the returned plan.
    db = _doc_buckets(raw_df, keep_id=True).transform(truncate_lineage, eager=False)
    rc = db.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tc = _doc_buckets(target_df, keep_id=False).withColumnRenamed("cnt", "tc")

    spark = raw_df.sparkSession
    dom = spark.range(DSIR_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    # buckets is exactly DSIR_BUCKETS rows but feeds TWO consumers (totals
    # + ratio); without a lineage cut each consumer replays its upstream —
    # including the full target-corpus scan — once more.
    buckets = (
        dom.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("rc", F.lit(0)).alias("rc"),
        )
        .transform(truncate_lineage, eager=False)
    )
    totals = buckets.agg(
        F.sum("tc").cast("double").alias("tt"), F.sum("rc").cast("double").alias("rt")
    )
    # Laplace(+1) smoothing keeps never-seen buckets finite on both sides;
    # per-bucket ratio rounds to 7 digits BEFORE any sum (the repo's
    # cross-engine ln convention, see docs_unigram_logprob).
    ratio = buckets.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log((F.col("tc") + F.lit(1.0)) / (F.col("tt") + F.lit(float(DSIR_BUCKETS))))
            - F.log((F.col("rc") + F.lit(1.0)) / (F.col("rt") + F.lit(float(DSIR_BUCKETS)))),
            7,
        ).alias("log_ratio"),
    )
    w = (
        db.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            # round the EXACT decimal sum, then cast: rounding after the
            # double cast is engine-divergent exactly at half-way sums
            # (hit in the wild: -8.2157045 → Spark's BigDecimal.valueOf
            # shortest-repr round said ...705, DuckDB's binary-double
            # round said ...704)
            F.round(
                F.sum(
                    F.round(F.col("cnt") * F.col("log_ratio"), 7).cast("decimal(28,7)")
                ),
                6,
            )
            .cast("double")
            .alias("log_w"),
        )
    )
    # Short documents (< DSIR_NGRAM tokens) have no grams: re-enter at weight 0.
    return raw_df.select(id_col).join(w, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("log_w", F.lit(0.0)).alias("log_w"),
    )
