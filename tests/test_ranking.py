"""operators.ranking: exact distributed rank / NTILE / quantiles agree
with the single-sort window answers on randomized data, including tie
and tiny-group edges."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from prod_data_pipeline_spark.operators.ranking import (
    bucketed_global_rank,
    exact_quantiles,
    ntile_from_rank,
)


def _rand_df(spark, n=5003, seed=11, dup_every=7):
    rng = random.Random(seed)
    # every dup_every-th row repeats the previous value: exercises ties
    rows, last = [], None
    for i in range(n):
        v = last if (i % dup_every == 0 and last is not None) else rng.uniform(0, 100)
        rows.append((i, v))
        last = v
    return spark.createDataFrame(rows, "id long, v double")


def test_rank_matches_global_sort(spark):
    df = _rand_df(spark)
    mine = bucketed_global_rank(df, ["v", "id"])
    ref = df.withColumn("rrank", F.row_number().over(Window.orderBy("v", "id")))
    assert mine.join(ref, ["id"]).filter(F.col("rank") != F.col("rrank")).count() == 0
    assert mine.count() == df.count()


def test_grouped_rank_and_totals(spark):
    df = _rand_df(spark).withColumn("g", (F.col("id") % 4).cast("int"))
    mine = bucketed_global_rank(df, ["v", "id"], by=["g"])
    w = Window.partitionBy("g").orderBy("v", "id")
    ref = df.withColumn("rrank", F.row_number().over(w))
    assert mine.join(ref, ["id"]).filter(F.col("rank") != F.col("rrank")).count() == 0
    totals = {r["g"]: r["n_total"] for r in mine.select("g", "n_total").distinct().collect()}
    want = {r["g"]: r["cnt"] for r in df.groupBy("g").agg(F.count("*").alias("cnt")).collect()}
    assert totals == want


def test_ntile_fewer_rows_than_buckets(spark):
    """n < k: NTILE assigns bucket == rank (one row per leading bucket);
    the closed form must not trip on its empty-bucket division branch."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, float(i)) for i in range(3)], "id long, v double")
    got = sorted(
        (r["id"], r["d"])
        for r in bucketed_global_rank(df, ["v", "id"])
        .select("id", ntile_from_rank(F.col("rank"), F.col("n_total"), 10).alias("d"))
        .collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3)]


@pytest.mark.parametrize("k", [3, 10])
def test_ntile_from_rank_matches_window_ntile(spark, k):
    df = _rand_df(spark, n=1009)
    mine = bucketed_global_rank(df, ["v", "id"]).select(
        "id", ntile_from_rank(F.col("rank"), F.col("n_total"), k).alias("d")
    )
    ref = df.select("id", F.ntile(k).over(Window.orderBy("v", "id")).alias("rd"))
    assert mine.join(ref, "id").filter(F.col("d") != F.col("rd")).count() == 0


def test_exact_quantiles_matches_percentile(spark):
    df = _rand_df(spark).withColumn("g", (F.col("id") % 3).cast("int"))
    got = {
        (r["g"], r["qname"]): r["quantile"]
        for r in exact_quantiles(
            df, "v", {"p50": 0.5, "p90": 0.9, "p99": 0.99}, by=["g"]
        ).collect()
    }
    ref = df.groupBy("g").agg(
        *[F.percentile("v", p).alias(nm) for nm, p in
          [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]]
    )
    for r in ref.collect():
        for nm in ("p50", "p90", "p99"):
            assert got[(r["g"], nm)] == pytest.approx(r[nm], abs=1e-9)


def test_exact_quantiles_tiny_groups(spark):
    """n=1 and n=2 groups: interpolation degenerates correctly (h=1 ->
    the single value; p=0.5 over two values -> their midpoint)."""
    df = spark.createDataFrame(
        [("a", 42.0), ("b", 10.0), ("b", 20.0)], "g string, v double"
    )
    got = {
        (r["g"], r["qname"]): r["quantile"]
        for r in exact_quantiles(df, "v", {"p50": 0.5, "p99": 0.99}, by=["g"]).collect()
    }
    assert got[("a", "p50")] == 42.0 and got[("a", "p99")] == 42.0
    assert got[("b", "p50")] == pytest.approx(15.0)
    assert got[("b", "p99")] == pytest.approx(10.0 + 0.99 * 10.0)


def test_exact_quantiles_events_shape(spark):
    """Post-swap value pins on the shapes the r15 side-by-side run proved
    bit-identical (recorded in SCALE.md): the real events table, global
    and grouped, against Spark's own percentile_cont; plus the
    fewer-rows-than-buckets group whose exact answers are pinned as
    literals (these were the identity test's assertion values before the
    r16 body swap retired the two-consumer form)."""
    from prod_data_pipeline_spark.sources.readers import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    probs = {"p25": 0.25, "p50": 0.5, "p90": 0.9, "p99": 0.99}
    got_g = {
        (r["event_type"], r["qname"]): r["quantile"]
        for r in exact_quantiles(ev, "value", probs, by=["event_type"]).collect()
    }
    ref_g = ev.groupBy("event_type").agg(
        *[F.percentile("value", p).alias(nm) for nm, p in probs.items()]
    )
    for r in ref_g.collect():
        for nm in probs:
            assert got_g[(r["event_type"], nm)] == pytest.approx(r[nm], abs=1e-9)
    got = {r["qname"]: r["quantile"] for r in exact_quantiles(ev, "value", probs).collect()}
    ref = ev.agg(*[F.percentile("value", p).alias(nm) for nm, p in probs.items()]).first()
    for nm in probs:
        assert got[nm] == pytest.approx(ref[nm], abs=1e-9)
    # tiny group (fewer rows than buckets): ranks 1..3, h interpolation
    tiny = spark.createDataFrame(
        [("g", 1.0), ("g", 5.0), ("g", 9.0), ("h", 2.0)], ["g", "v"]
    )
    a = sorted(map(tuple, exact_quantiles(tiny, "v", {"p50": 0.5}, by=["g"]).collect()))
    assert a == [("g", "p50", 5.0, 3), ("h", "p50", 2.0, 1)]


def test_exact_quantiles_scan_count(spark):
    """The operator cuts its own input, so the final plan of one
    exact_quantiles call reads no parquet at all: the single scan runs
    when the cut input is first materialized."""
    from prod_data_pipeline_spark.sources.readers import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    probs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    q = exact_quantiles(ev, "value", probs, by=["event_type"])
    n = q._jdf.queryExecution().executedPlan().toString().count("Scan parquet")
    assert n == 0, n


def test_rank_operators_read_input_once(spark):
    """Both operators evaluate their input once: the bounds sketch, the
    bucketing pass and the bucket counts all read the operator's own
    lineage cut, so an accumulator-ticking UDF in the input ticks once per
    row."""
    from pyspark.sql.types import DoubleType

    n = 5000

    def ticking_input():
        acc = spark.sparkContext.accumulator(0)

        def tick(x):
            acc.add(1)
            return float(x % 97)

        v = F.udf(tick, DoubleType())(F.col("id"))
        g = (F.col("id") % 3).alias("g")
        return spark.range(0, n, 1, 4).select("id", v.alias("v"), g), acc

    df, acc = ticking_input()
    ranks = [r["rank"] for r in bucketed_global_rank(df, ["v", "id"]).collect()]
    assert sorted(ranks) == list(range(1, n + 1))
    assert acc.value == n, acc.value

    df, acc = ticking_input()
    got = exact_quantiles(df, "v", {"p50": 0.5}, by=["g"]).collect()
    assert len(got) == 3
    assert acc.value == n, acc.value


def test_rank_queries_reliable_checkpoint_mode(tmp_path):
    """With $SPARK_GRAFT_CHECKPOINT_DIR set, the rank operators' input cut
    is a reliable checkpoint instead of a local one; two rank-family
    queries (a plain rank and two chained quantile passes) must still
    match their oracles, and the cut must write RDD blocks under the
    directory.  Runs in a subprocess because a SparkContext checkpoint
    dir cannot be unset once configured."""
    import json
    import os
    import subprocess
    import sys

    from tests.conftest import SF_DIR

    ckpt = tmp_path / "ckpt"
    script = r"""
import glob, json, os, sys
sys.path.insert(0, os.environ["REPO"])
from prod_data_pipeline_spark.session import get_spark
from tests.parity import check_query
spark = get_spark(cpus=4)
for name in ["orders_price_deciles", "events_value_mad_outliers"]:
    check_query(spark, name, os.environ["SF_DIR"])
rdd_dirs = glob.glob(os.path.join(os.environ["SPARK_GRAFT_CHECKPOINT_DIR"], "*", "rdd-*"))
print(json.dumps({"n_rdd_dirs": len(rdd_dirs),
                  "ckpt": spark.sparkContext.getCheckpointDir() is not None}))
"""
    env = dict(
        os.environ,
        REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        SPARK_GRAFT_CHECKPOINT_DIR=str(ckpt),
        SF_DIR=SF_DIR,
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ckpt"] and out["n_rdd_dirs"] >= 1
