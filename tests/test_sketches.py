"""Count-min sketch invariants: never-underestimate, exactness at ample
width, and mergeability (per-group build + merge == global build)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prod_data_pipeline_spark.operators.sketches import (
    cms_build,
    cms_estimate,
    cms_merge,
)


def _events(spark):
    # 3 groups x keys with known skew: key k appears k+1 times per group
    rows = [(g, f"k{k}") for g in range(3) for k in range(20) for _ in range(k + 1)]
    return spark.createDataFrame(rows, ["g", "key"])


def test_cms_never_underestimates(spark):
    df = _events(spark)
    sk = cms_merge(cms_build(df, "key", depth=4, width=16, group_cols=("g",)))
    keys = df.select("key").distinct()
    est = cms_estimate(sk, keys, "key", depth=4, width=16)
    true = df.groupBy("key").agg(F.count(F.lit(1)).alias("t"))
    joined = est.join(true, "key").collect()
    assert len(joined) == 20
    assert all(r["cms_count"] >= r["t"] for r in joined)


def test_cms_exact_when_wide(spark):
    """With width >> keys, collisions are (overwhelmingly) absent and the
    estimate is exact — depth rows all agree on the true count."""
    df = _events(spark)
    sk = cms_build(df, "key", depth=4, width=4096)
    est = cms_estimate(
        sk, df.select("key").distinct(), "key", depth=4, width=4096
    )
    true = df.groupBy("key").agg(F.count(F.lit(1)).alias("t"))
    assert all(
        r["cms_count"] == r["t"] for r in est.join(true, "key").collect()
    )


def test_cms_merge_equals_global_build(spark):
    """Cell-wise: building per group then merging must equal one global
    build — the property that makes daily sketch rollups sound."""
    df = _events(spark)
    merged = cms_merge(cms_build(df, "key", depth=4, width=16, group_cols=("g",)))
    direct = cms_build(df, "key", depth=4, width=16)
    a = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["row"], r["bucket"]): r["cnt"] for r in direct.collect()}
    assert a == b


def test_cms_weighted(spark):
    df = _events(spark).withColumn("w", F.lit(3))
    sk = cms_build(df, "key", weight_col="w", depth=3, width=64)
    est = cms_estimate(sk, df.select("key").distinct(), "key", depth=3, width=64)
    true = df.groupBy("key").agg((3 * F.count(F.lit(1))).alias("t"))
    assert all(r["cms_count"] >= r["t"] for r in est.join(true, "key").collect())


def test_value_histogram_merge_equals_global_build(spark):
    """Per-group histogram sketches folded with value_histogram_merge must
    equal one global build (merge is addition), and each quantile
    estimate from the merged sketch sits within one bucket width of the
    exact rank value."""
    from prod_data_pipeline_spark.operators.sketches import (
        value_histogram_build,
        value_histogram_merge,
    )

    vals = [round(((7 * i * i + 3 * i) % 49999) / 100.0, 2) for i in range(2000)]
    df = spark.createDataFrame(
        [(i % 5, v) for i, v in enumerate(vals)], "g int, value double"
    )
    merged = value_histogram_merge(
        value_histogram_build(df, "value", by=("g",), n_buckets=64)
    )
    direct = value_histogram_merge(value_histogram_build(df, "value", n_buckets=64))
    a = {r["bucket"]: r["cnt"] for r in merged.collect()}
    b = {r["bucket"]: r["cnt"] for r in direct.collect()}
    assert a == b and sum(a.values()) == len(vals)

    svals = sorted(vals)
    buckets = sorted(a.items())
    width = 50_000 / 64 / 100.0
    for q100 in (10, 25, 50, 75, 90, 99):
        cum = 0
        for bkt, c in buckets:
            cum += c
            if 100 * cum >= q100 * len(vals):
                est = (bkt + 1) * width
                break
        exact = svals[(q100 * len(vals) + 99) // 100 - 1]
        assert abs(est - exact) <= width + 1e-9


def test_value_histogram_clamps_negative_values_to_bucket_zero(spark):
    """Negative values must land in bucket 0, not a negative bucket id
    (where Spark's truncating `div` and DuckDB's flooring `//` also
    disagree); the sketch stays total — counts sum to input rows."""
    from prod_data_pipeline_spark.operators.sketches import value_histogram_build

    df = spark.createDataFrame(
        [(-50.0,), (-0.01,), (0.0,), (250.0,), (1e9,)], "value double"
    )
    rows = {r.bucket: r.cnt for r in value_histogram_build(df, n_buckets=64).collect()}
    assert min(rows) == 0 and max(rows) == 63
    assert rows[0] == 3  # two negatives + 0.0
    assert sum(rows.values()) == 5


def test_cms_inner_product_upper_bounds_selfjoin_size(spark):
    """Self inner product: every row's dot >= F2 = sum f(k)^2, so the MIN
    estimate still upper-bounds it (round-12 join-size family)."""
    from prod_data_pipeline_spark.operators.sketches import cms_inner_product

    df = _events(spark)
    sk = cms_build(df, "key", depth=4, width=16)
    dots = cms_inner_product(sk, sk)
    f2 = df.groupBy("key").count().agg(
        F.sum(F.col("count") * F.col("count"))
    ).collect()[0][0]
    rows = dots.collect()
    assert len(rows) == 4  # one dot per hash row
    assert all(r["dot"] >= f2 for r in rows)


def test_cms_inner_product_exact_when_wide(spark):
    """With width >> keys (no collisions) the inner product IS the true
    join size — both for self-join (F2) and for two different relations."""
    from prod_data_pipeline_spark.operators.sketches import cms_inner_product

    df = _events(spark)
    other = spark.createDataFrame(
        [("k1",)] * 3 + [("k2",)] * 2 + [("zz",)] * 5, ["key"]
    )
    sa = cms_build(df, "key", depth=4, width=4096)
    sb = cms_build(other, "key", depth=4, width=4096)
    # true cross inner product: f_df(k1)*3 + f_df(k2)*2  (zz not in df);
    # _events has key k appearing (k+1) times per group x 3 groups
    true = (3 * 2 * 3) + (3 * 3 * 2)
    est = cms_inner_product(sa, sb).agg(F.min("dot")).collect()[0][0]
    assert est == true
    f2 = df.groupBy("key").count().agg(
        F.sum(F.col("count") * F.col("count"))
    ).collect()[0][0]
    self_est = cms_inner_product(sa, sa).agg(F.min("dot")).collect()[0][0]
    assert self_est == f2


def test_cms_inner_product_merged_daily_equals_global(spark):
    """Sketch-per-day then merge gives the SAME inner product as one
    global build — the incremental-maintenance property the join-size
    queries rely on (cells are counters; merge is addition)."""
    from prod_data_pipeline_spark.operators.sketches import cms_inner_product

    df = _events(spark)
    merged = cms_merge(cms_build(df, "key", depth=4, width=16, group_cols=("g",)))
    direct = cms_build(df, "key", depth=4, width=16)
    a = {(r["row"], r["dot"]) for r in cms_inner_product(merged, merged).collect()}
    b = {(r["row"], r["dot"]) for r in cms_inner_product(direct, direct).collect()}
    assert a == b


def test_cms_build_plan_one_partial_agged_exchange(spark):
    """Scale pin: the sketch build is one wide-then-narrow pass — the only
    key exchange is the (row, bucket) groupBy, and it must be fed by a
    partial aggregate so the shuffle is bounded at depth x width cells
    per task, not corpus-sized."""
    df = _events(spark)
    sk = cms_build(df, "key", depth=4, width=16)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_cms_inner_product_disjoint_keys_empty_relation(spark):
    """r12-advisory: fully disjoint key sets can leave every hash row
    without shared buckets -> zero dot rows; the caller contract is
    COALESCE(MIN(dot), 0), which recovers the provably-correct estimate
    0 instead of NULL."""
    from prod_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    # single-key sketches guarantee bucket disjointness unless the two
    # keys collide in EVERY row's hash — vanishingly unlikely for this
    # fixed pair (asserted via the empty relation below, so a collision
    # would fail loudly, not silently pass)
    a = spark.createDataFrame([("alpha-key-1",)], "k string")
    b = spark.createDataFrame([("omega-key-2",)], "k string")
    sa = cms_build(a, "k", depth=4, width=512)
    sb = cms_build(b, "k", depth=4, width=512)
    dots = cms_inner_product(sa, sb)
    assert dots.count() == 0
    est = dots.agg(
        F.coalesce(F.min("dot"), F.lit(0)).cast("long").alias("cms_est")
    ).collect()[0]
    assert est.cms_est == 0
