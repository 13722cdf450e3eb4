"""Pipeline-semantics tests (SURVEY §5 scenarios 2-4, C1-C6)."""

from __future__ import annotations

import json
import os

import pytest

from prod_data_pipeline_spark.plans.pipeline import (
    DQGateError,
    backfill,
    curate,
    validate_date,
)
from prod_data_pipeline_spark.sources.writers import register_curated_table
from tests.eventgen import generate_raw_events

DATES = ["2025-01-01", "2025-01-02", "2025-01-03"]


def paths(tmp):
    return str(tmp / "raw"), str(tmp / "curated"), str(tmp / "metrics")


def curated_count(spark, curated_base, d):
    part = os.path.join(curated_base, f"ingestion_date={d}")
    if not os.path.exists(part):
        return 0
    return spark.read.parquet(part).count()


def test_happy_path_and_metrics(spark, tmp_path):
    raw, curated, metrics = paths(tmp_path)
    counts = generate_raw_events(raw, DATES[:1])
    report = curate(spark, raw, DATES[0], curated, metrics)
    assert report["status"] == "PASS"
    assert report["profile"]["total_rows"] == counts[DATES[0]]
    assert curated_count(spark, curated, DATES[0]) == counts[DATES[0]]
    with open(os.path.join(metrics, f"ingestion_date={DATES[0]}", "dq_report.json")) as f:
        persisted = json.load(f)
    assert persisted["status"] == "PASS"
    # Curated schema matches the reference's (curated_events.sql:1-11).
    df = spark.read.parquet(os.path.join(curated, f"ingestion_date={DATES[0]}"))
    assert {"event_id", "user_id", "event_type", "event_ts", "amount", "processing_ts"} <= set(
        df.columns
    )
    assert dict(df.dtypes)["event_ts"] == "timestamp"


def test_dq_gate_blocks_write_and_alerts(spark, tmp_path):
    raw, curated, metrics = paths(tmp_path)
    generate_raw_events(raw, DATES[:1], null_user_rate=0.2)  # > 3% ceiling
    alerts = []
    with pytest.raises(DQGateError) as exc:
        curate(spark, raw, DATES[0], curated, metrics, on_failure=alerts.append)
    assert any("null_user_rate" in f for f in exc.value.report["failures"])
    # C2: curated never touched; C3: FAIL report still persisted; C6: alert hook fired.
    assert curated_count(spark, curated, DATES[0]) == 0
    with open(os.path.join(metrics, f"ingestion_date={DATES[0]}", "dq_report.json")) as f:
        assert json.load(f)["status"] == "FAIL"
    assert len(alerts) == 1


def test_gate_failures_each_rule(spark, tmp_path):
    raw, curated, metrics = paths(tmp_path)
    generate_raw_events(raw, [DATES[0]], dup_rate=0.10)
    with pytest.raises(DQGateError, match="dup_event_rate"):
        curate(spark, raw, DATES[0], curated, metrics)
    generate_raw_events(raw, [DATES[1]], invalid_type_rate=0.05)
    with pytest.raises(DQGateError, match="invalid event_type"):
        curate(spark, raw, DATES[1], curated, metrics)
    generate_raw_events(raw, [DATES[2]], null_id_rate=0.05)
    with pytest.raises(DQGateError, match="null event_id"):
        curate(spark, raw, DATES[2], curated, metrics)


def test_idempotent_rerun_and_late_data(spark, tmp_path):
    raw, curated, metrics = paths(tmp_path)
    counts = generate_raw_events(raw, DATES[:2])
    for d in DATES[:2]:
        curate(spark, raw, d, curated, metrics)
    # Rerun same date: identical count, day-2 partition untouched (C1).
    curate(spark, raw, DATES[0], curated, metrics)
    assert curated_count(spark, curated, DATES[0]) == counts[DATES[0]]
    assert curated_count(spark, curated, DATES[1]) == counts[DATES[1]]
    # Late data: append 50 rows to day 1, rerun only that date -> exactly +50.
    late = generate_raw_events(
        raw, [DATES[0]], rows_per_day=50, dup_rate=0.0, seed=123, append=True, id_prefix="late-"
    )
    assert late[DATES[0]] == 50
    curate(spark, raw, DATES[0], curated, metrics)
    assert curated_count(spark, curated, DATES[0]) == counts[DATES[0]] + 50
    assert curated_count(spark, curated, DATES[1]) == counts[DATES[1]]


def test_backfill_aborts_on_first_failure(spark, tmp_path):
    raw, curated, metrics = paths(tmp_path)
    generate_raw_events(raw, [DATES[0], DATES[2]])
    generate_raw_events(raw, [DATES[1]], null_user_rate=0.5)  # poison middle date
    with pytest.raises(DQGateError):
        backfill(spark, raw, DATES[0], DATES[2], curated, metrics)
    assert curated_count(spark, curated, DATES[0]) > 0
    assert curated_count(spark, curated, DATES[1]) == 0
    assert curated_count(spark, curated, DATES[2]) == 0  # never attempted


def test_backfill_happy_path(spark, tmp_path):
    raw, curated, metrics = paths(tmp_path)
    counts = generate_raw_events(raw, DATES)
    result = backfill(spark, raw, DATES[0], DATES[2], curated, metrics)
    assert result.succeeded == DATES
    for d in DATES:
        assert curated_count(spark, curated, d) == counts[d]


def test_catalog_registration_and_golden_sql(spark, tmp_path):
    """S9: the reference's Athena DDL + golden queries run verbatim in
    Spark SQL over the curated table (curated_events.sql:1-36)."""
    raw, curated, metrics = paths(tmp_path)
    counts = generate_raw_events(raw, DATES)
    backfill(spark, raw, DATES[0], DATES[2], curated, metrics)
    register_curated_table(spark, curated, "curated_events_test")
    per_day = spark.sql(
        """
        SELECT ingestion_date, COUNT(*) AS event_count
        FROM curated_events_test GROUP BY ingestion_date ORDER BY ingestion_date
        """
    ).collect()
    assert {r["ingestion_date"]: r["event_count"] for r in per_day} == counts
    nulls = spark.sql(
        """
        SELECT SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
               COUNT(*) AS total FROM curated_events_test
        """
    ).first()
    assert 0 <= nulls["null_user"] < nulls["total"]
    # Partition pruning: a date-filtered scan reads only that partition.
    plan = (
        spark.sql("SELECT * FROM curated_events_test WHERE ingestion_date = '2025-01-02'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    spark.sql("DROP TABLE IF EXISTS curated_events_test")


def test_registered_table_survives_rerun_and_late_partition(spark, tmp_path):
    """A catalog table stays consistent across partition reruns (no stale
    file-listing 404s) and sees late-added partitions — write_curated
    refreshes + re-discovers partitions for tables at its target path."""
    raw, curated, metrics = paths(tmp_path)
    generate_raw_events(raw, DATES[:2], rows_per_day=100, dup_rate=0.0)
    backfill(spark, raw, DATES[0], DATES[1], curated, metrics)
    register_curated_table(spark, curated, "ce_refresh_test")
    try:
        before = spark.sql("SELECT COUNT(*) c FROM ce_refresh_test").first().c
        curate(spark, raw, DATES[0], curated, metrics)  # in-place rerun
        assert spark.sql("SELECT COUNT(*) c FROM ce_refresh_test").first().c == before
        generate_raw_events(raw, [DATES[2]], rows_per_day=60, dup_rate=0.0)
        curate(spark, raw, DATES[2], curated, metrics)  # brand-new partition
        assert spark.sql("SELECT COUNT(*) c FROM ce_refresh_test").first().c == before + 60
    finally:
        spark.sql("DROP TABLE IF EXISTS ce_refresh_test")


def test_arg_validation_and_missing_input(spark, tmp_path):
    raw, curated, metrics = paths(tmp_path)
    with pytest.raises(ValueError):
        validate_date("2025-13-99")
    with pytest.raises(ValueError):
        validate_date("2025-3-1")  # non-zero-padded would miss the partition path
    with pytest.raises(ValueError):
        curate(spark, raw, "01/02/2025", curated, metrics)
    with pytest.raises(FileNotFoundError):
        curate(spark, raw, "2025-01-01", curated, metrics)


def test_sorted_write_clusters_rows_within_files(spark, tmp_path):
    """sort_cols produces files whose rows are event_ts-ordered, giving
    disjoint parquet row-group min/max ranges for scan-time skipping."""
    import glob as globmod

    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.readers import read_events_ndjson
    from prod_data_pipeline_spark.sources.writers import write_curated
    from prod_data_pipeline_spark.plans.pipeline import curate_transform

    raw, curated, _ = paths(tmp_path)
    generate_raw_events(raw, DATES[:1], rows_per_day=300, dup_rate=0.0)
    part = os.path.join(raw, "source_system=app", f"ingestion_date={DATES[0]}")
    df = curate_transform(read_events_ndjson(spark, part), DATES[0])
    write_curated(df, curated, sort_cols=["event_ts"])
    files = globmod.glob(os.path.join(curated, "ingestion_date=*", "*.parquet"))
    assert files
    for f in files:
        ts = [r["event_ts"] for r in spark.read.parquet(f).select("event_ts").collect()]
        assert ts == sorted(ts), f"rows not clustered by event_ts in {f}"


def test_orc_format_roundtrip_with_partition_overwrite(spark, tmp_path):
    """file_format='orc': same partitioned layout, same dynamic-overwrite
    rerun semantics, read back via spark.read.orc."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.plans.pipeline import curate_transform
    from prod_data_pipeline_spark.sources.readers import read_events_ndjson
    from prod_data_pipeline_spark.sources.writers import write_curated

    raw, curated, _ = paths(tmp_path)
    counts = generate_raw_events(raw, DATES[:2], rows_per_day=80, dup_rate=0.0)
    for d in DATES[:2]:
        part = os.path.join(raw, "source_system=app", f"ingestion_date={d}")
        write_curated(
            curate_transform(read_events_ndjson(spark, part), d), curated,
            file_format="orc",
        )
    df = spark.read.orc(curated)
    assert df.count() == sum(counts.values())
    # rerun one date: partition-scoped overwrite, other partition untouched
    part0 = os.path.join(raw, "source_system=app", f"ingestion_date={DATES[0]}")
    write_curated(
        curate_transform(read_events_ndjson(spark, part0), DATES[0]), curated,
        file_format="orc",
    )
    assert spark.read.orc(curated).count() == sum(counts.values())


def test_compact_partition_preserves_rows_and_shrinks_files(spark, tmp_path):
    """Many small files -> one; rows identical; a registered catalog table
    stays readable through the swap."""
    import glob as globmod

    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.plans.pipeline import curate_transform
    from prod_data_pipeline_spark.sources.readers import read_events_ndjson
    from prod_data_pipeline_spark.sources.writers import compact_partition, write_curated

    raw, curated, _ = paths(tmp_path)
    counts = generate_raw_events(raw, DATES[:1], rows_per_day=200, dup_rate=0.0)
    part = os.path.join(raw, "source_system=app", f"ingestion_date={DATES[0]}")
    df = curate_transform(read_events_ndjson(spark, part), DATES[0]).repartition(6)
    write_curated(df, curated)
    pdir = os.path.join(curated, f"ingestion_date={DATES[0]}")
    assert len(globmod.glob(os.path.join(pdir, "*.parquet"))) > 1
    before = {r["event_id"] for r in spark.read.parquet(pdir).collect()}
    register_curated_table(spark, curated, "ce_compact_test")
    try:
        n = compact_partition(spark, curated, DATES[0], sort_cols=["event_ts"])
        assert n == counts[DATES[0]]
        assert len(globmod.glob(os.path.join(pdir, "*.parquet"))) == 1
        after = {r["event_id"] for r in spark.read.parquet(pdir).collect()}
        assert after == before
        assert (
            spark.sql("SELECT COUNT(*) c FROM ce_compact_test").first().c
            == counts[DATES[0]]
        )
        ts = [r["event_ts"] for r in spark.read.parquet(pdir).select("event_ts").collect()]
        assert ts == sorted(ts)
    finally:
        spark.sql("DROP TABLE IF EXISTS ce_compact_test")


def test_additive_schema_evolution_across_partitions(spark, tmp_path):
    """A column added in a later partition: mergeSchema reads the union
    schema, pre-existing partitions yield null for the new column — the
    additive-evolution case the reference deferred (design.md:165)."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.plans.pipeline import curate_transform
    from prod_data_pipeline_spark.sources.readers import read_curated, read_events_ndjson
    from prod_data_pipeline_spark.sources.writers import write_curated

    raw, curated, _ = paths(tmp_path)
    counts = generate_raw_events(raw, DATES[:2], rows_per_day=60, dup_rate=0.0)
    p0 = os.path.join(raw, "source_system=app", f"ingestion_date={DATES[0]}")
    p1 = os.path.join(raw, "source_system=app", f"ingestion_date={DATES[1]}")
    write_curated(curate_transform(read_events_ndjson(spark, p0), DATES[0]), curated)
    evolved = curate_transform(read_events_ndjson(spark, p1), DATES[1]).withColumn(
        "pipeline_version", F.lit(2)
    )
    write_curated(evolved, curated)
    df = read_curated(spark, curated)
    assert "pipeline_version" in df.columns
    assert df.count() == sum(counts.values())
    per_day = {
        str(r["ingestion_date"]): r["n"]
        for r in df.filter(F.col("pipeline_version").isNull())
        .groupBy("ingestion_date").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_day == {DATES[0]: counts[DATES[0]]}  # old partition nulls, new doesn't


def test_dup_event_rows_counts_null_id_group(spark):
    """count(event_id) skips NULLs, but the reference's groupBy('event_id')
    .count() treats all NULL ids as ONE group — n nulls must contribute n-1
    duplicate rows (v3_dq.py:81-83) or the reported dup rate is lower than
    the reference's."""
    from prod_data_pipeline_spark.plans.pipeline import dq_profile

    rows = [("a",), ("a",), ("b",), (None,), (None,), (None,)]
    df = spark.createDataFrame(rows, "event_id string").selectExpr(
        "event_id", "cast(null as string) as user_id", "'login' as event_type"
    )
    p = dq_profile(df)
    assert p["dup_event_rows"] == 3  # 'a' contributes 1, the 3 nulls contribute 2


def test_parallel_backfill_aborts_after_failure(spark, tmp_path):
    """Bounded submission: after the first failure no NEW date starts, so
    dates beyond the in-flight window are never written (sequential
    abort-on-first-failure parity, run_backfill.py:85-87)."""
    raw, curated, metrics = paths(tmp_path)
    dates = [f"2025-02-0{i}" for i in range(1, 6)]
    generate_raw_events(raw, dates[1:], rows_per_day=60, dup_rate=0.0)
    # dates[0] has no raw partition -> fails (fast) with FileNotFoundError
    with pytest.raises(FileNotFoundError):
        backfill(spark, raw, dates[0], dates[-1], curated, metrics, max_parallel=2)
    # With 2 in flight, at most dates[1] (and, in one interleaving, dates[2])
    # could already have started when dates[0] failed; dates[3:] must not
    # exist in ANY interleaving.  The old submit-everything loop wrote all 4.
    for d in dates[3:]:
        assert curated_count(spark, curated, d) == 0
    assert curated_count(spark, curated, dates[0]) == 0


def test_parallel_backfill_matches_sequential(spark, tmp_path):
    """max_parallel>1 writes exactly the partitions sequential does, and a
    poisoned date still raises + never writes its partition."""
    raw, curated, metrics = paths(tmp_path)
    counts = generate_raw_events(raw, DATES, rows_per_day=120, dup_rate=0.0)
    result = backfill(spark, raw, DATES[0], DATES[2], curated, metrics, max_parallel=3)
    assert result.succeeded == DATES
    for d in DATES:
        assert curated_count(spark, curated, d) == counts[d]

    raw2, curated2, metrics2 = (str(tmp_path / p) for p in ("r2", "c2", "m2"))
    generate_raw_events(raw2, [DATES[0], DATES[2]], rows_per_day=120, dup_rate=0.0)
    generate_raw_events(raw2, [DATES[1]], rows_per_day=120, null_user_rate=0.5)
    with pytest.raises(DQGateError):
        backfill(spark, raw2, DATES[0], DATES[2], curated2, metrics2, max_parallel=3)
    assert curated_count(spark, curated2, DATES[1]) == 0
