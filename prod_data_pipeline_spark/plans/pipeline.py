"""The curate pipeline: raw NDJSON -> DQ gate -> curated parquet + metrics.

Spark-native re-expression of the reference's flagship job
(/root/reference/glue/jobs/raw_to_curated_events_v3_dq.py) and backfill
driver (/root/reference/scripts/run_backfill.py):

- C1 idempotent partition-scoped rerun: dynamic partition overwrite replaces
  the AWS-proprietary ``purge_s3_path`` + append (v3_dq.py:152-162).
- C2 fail-fast DQ gate: all checks evaluated BEFORE any curated write; a
  hard failure writes the metrics artifact, raises, and never touches the
  curated table (v3_dq.py:108-150).
- C3 per-run JSON metrics artifact (v3_dq.py:89-106,131-146).
- C4 argument validation fail-fast (v3_dq.py:31-37).
- C5 backfill over a date range, sequential with abort-on-first-failure
  (run_backfill.py:62-89) — in-process, so no 20 s polling loop.
- C6 failure alerting -> an on_failure callback hook plus a pre-flight
  input-existence check (design.md:117-134 describes EventBridge/SNS).

Performance note (SURVEY §3): the reference issued SEVEN Spark actions for
the DQ numbers, re-reading raw JSON each time.  Here the whole profile is
ONE aggregation over a cached DataFrame; the cache also feeds the final
write, so raw input is scanned once per run.  At 100 TB/day that is the
difference between one pass and seven.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod_data_pipeline_spark.schemas import VALID_EVENT_TYPES
from prod_data_pipeline_spark.session import tune
from prod_data_pipeline_spark.sources.readers import read_events_ndjson
from prod_data_pipeline_spark.sources.writers import write_curated, write_json_report


class DQGateError(Exception):
    """Raised when the DQ gate fails; curated data is guaranteed untouched."""

    def __init__(self, report: dict):
        self.report = report
        super().__init__(f"DQ gate failed: {report.get('failures')}")


# Reference thresholds (v3_dq.py:25-26); the rules are v3_dq.py:108-122.
MAX_NULL_USER_RATE = 0.03
MAX_DUP_EVENT_RATE = 0.02


def validate_date(s: str) -> str:
    """C4: --ingestion_date must parse as %Y-%m-%d (v3_dq.py:31-37).

    Stricter than bare strptime, which accepts non-zero-padded dates like
    "2025-3-1" — those would silently miss the zero-padded partition path.
    """
    try:
        parsed = datetime.strptime(s, "%Y-%m-%d")
        if parsed.strftime("%Y-%m-%d") != s:
            raise ValueError("not zero-padded")
    except (ValueError, TypeError) as ex:
        raise ValueError(f"invalid ingestion_date {s!r}: expected YYYY-MM-DD") from ex
    return s


def curate_transform(df: DataFrame, ingestion_date: str) -> DataFrame:
    """P1-P3: literal partition column, ISO-8601 -> timestamp cast, audit
    timestamp (v3_dq.py:58-65)."""
    return (
        df.withColumn("ingestion_date", F.lit(ingestion_date))
        .withColumn("event_ts", F.to_timestamp("event_ts"))
        .withColumn("processing_ts", F.current_timestamp())
    )


def dq_profile(df: DataFrame) -> dict:
    """A1-A6 fused: the reference's seven actions as ONE aggregation pass.

    dup_rows == the reference's sum(count-1) over per-id counts
    (v3_dq.py:81-83) computed as count(id) - count(distinct id).
    """
    row = df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0)).alias("null_event_id"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("null_user_id"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).alias("null_event_type"),
        F.sum(
            F.when(
                F.col("event_type").isNotNull() & ~F.col("event_type").isin(VALID_EVENT_TYPES), 1
            ).otherwise(0)
        ).alias("invalid_event_type"),
        (F.count("event_id") - F.count_distinct(F.col("event_id"))).alias("dup_event_rows"),
    ).first()
    p = {k: int(row[k] or 0) for k in row.asDict()}
    # count(event_id) skips NULLs, but the reference's groupBy('event_id')
    # .count() treats all NULL ids as ONE group — n nulls contribute n-1
    # duplicate rows (v3_dq.py:81-83), so the reported dup rate matches the
    # reference's.  Same single pass — null_event_id is already in the agg.
    if p["null_event_id"] > 1:
        p["dup_event_rows"] += p["null_event_id"] - 1
    total = p["total_rows"]
    # Divide-by-zero-guarded rates (v3_dq.py:86-87).
    p["null_user_rate"] = (p["null_user_id"] / total) if total else 0.0
    p["dup_event_rate"] = (p["dup_event_rows"] / total) if total else 0.0
    return p


def evaluate_dq(profile: dict) -> list[str]:
    """C2 rule set (v3_dq.py:108-126); returns failure strings (empty=PASS)."""
    failures: list[str] = []
    if profile["total_rows"] == 0:
        failures.append("total_rows == 0")
    if profile["null_event_id"] > 0:
        failures.append(f"null event_id rows: {profile['null_event_id']}")
    if profile["null_event_type"] > 0:
        failures.append(f"null event_type rows: {profile['null_event_type']}")
    if profile["invalid_event_type"] > 0:
        failures.append(f"invalid event_type rows: {profile['invalid_event_type']}")
    if profile["null_user_rate"] > MAX_NULL_USER_RATE:
        failures.append(
            f"null_user_rate {profile['null_user_rate']:.4f} > {MAX_NULL_USER_RATE}"
        )
    if profile["dup_event_rate"] > MAX_DUP_EVENT_RATE:
        failures.append(
            f"dup_event_rate {profile['dup_event_rate']:.4f} > {MAX_DUP_EVENT_RATE}"
        )
    return failures


def curate(
    spark: SparkSession,
    raw_base: str,
    ingestion_date: str,
    curated_base: str,
    metrics_base: str,
    source_system: str = "app",
    on_failure: Callable[[dict], None] | None = None,
) -> dict:
    """Run one date end-to-end: read -> transform -> DQ gate -> write.

    Returns the DQ report dict; raises DQGateError (curated untouched) on a
    gate failure, FileNotFoundError if the raw partition is missing (C6
    sensor semantics, design.md:128-134).
    """
    tune(spark)
    validate_date(ingestion_date)

    raw_path = os.path.join(
        raw_base, f"source_system={source_system}", f"ingestion_date={ingestion_date}"
    )
    if not _path_exists(spark, raw_path):
        raise FileNotFoundError(f"raw partition missing: {raw_path}")

    df = curate_transform(read_events_ndjson(spark, raw_path), ingestion_date)
    # One cache feeds the DQ profile AND the final write: raw JSON is parsed
    # exactly once per run (the reference re-read it per action, SURVEY §3).
    df = df.cache()
    try:
        profile = dq_profile(df)
        failures = evaluate_dq(profile)
        report = {
            "ingestion_date": ingestion_date,
            "raw_path": raw_path,
            "profile": profile,
            "thresholds": {
                "max_null_user_rate": MAX_NULL_USER_RATE,
                "max_dup_event_rate": MAX_DUP_EVENT_RATE,
                "valid_event_types": list(VALID_EVENT_TYPES),
            },
            "failures": failures,
            "status": "FAIL" if failures else "PASS",
        }
        # Metrics artifact is written in BOTH outcomes, before the gate can
        # raise (v3_dq.py:131-150 ordering: report -> raise -> write).
        write_json_report(
            report,
            os.path.join(metrics_base, f"ingestion_date={ingestion_date}", "dq_report.json"),
            spark=spark,
        )
        if failures:
            if on_failure is not None:
                on_failure(report)
            raise DQGateError(report)
        # C1: dynamic partition overwrite rewrites exactly this date's
        # partition; reruns are idempotent, other partitions untouched.
        write_curated(df, curated_base)
        return report
    finally:
        df.unpersist()


def daterange(start: str, end: str):
    """Inclusive date range generator (run_backfill.py:11-15 semantics)."""
    d0 = datetime.strptime(validate_date(start), "%Y-%m-%d").date()
    d1 = datetime.strptime(validate_date(end), "%Y-%m-%d").date()
    d = d0
    while d <= d1:
        yield d.isoformat()
        d += timedelta(days=1)


@dataclass
class BackfillResult:
    succeeded: list[str] = field(default_factory=list)
    failed: str | None = None
    reports: dict = field(default_factory=dict)


def backfill(
    spark: SparkSession,
    raw_base: str,
    start: str,
    end: str,
    curated_base: str,
    metrics_base: str,
    source_system: str = "app",
    on_failure: Callable[[dict], None] | None = None,
    max_parallel: int = 1,
) -> BackfillResult:
    """C5: per-date rerun over the range, abort on first failure
    (run_backfill.py:62-89).

    Sequential (max_parallel=1) is the audit-friendly default the reference
    chose (design.md:140-149).  Dates are fully independent — each touches
    only its own raw/curated/metrics partition — so max_parallel>1 submits
    them as concurrent Spark jobs from driver threads (Spark's scheduler
    interleaves fairly).  Parallel failure semantics: every date that was
    already in flight finishes (its partition is either fully written or
    untouched, same as sequential), no new date starts after the first
    failure, and the earliest failed date raises.
    """
    result = BackfillResult()
    dates = list(daterange(start, end))

    def run_one(d: str) -> dict:
        return curate(
            spark, raw_base, d, curated_base, metrics_base,
            source_system, on_failure,
        )

    if max_parallel <= 1:
        for d in dates:
            try:
                result.reports[d] = run_one(d)
                result.succeeded.append(d)
            except Exception:
                result.failed = d
                raise
        return result

    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    # Bounded submission: at most max_parallel dates are ever in flight, and
    # a new date is only submitted after an earlier one completes without a
    # failure having been observed.  (Submitting everything up front and
    # checking `fut.done()` opportunistically does NOT give abort-on-failure:
    # the submit loop finishes in microseconds, so every date would run.)
    with ThreadPoolExecutor(max_workers=max_parallel) as pool:
        pending: dict = {}  # future -> date
        failed: list[tuple[str, Exception]] = []
        remaining = iter(dates)
        while True:
            while not failed and len(pending) < max_parallel:
                d = next(remaining, None)
                if d is None:
                    break
                pending[pool.submit(run_one, d)] = d
            if not pending:
                break
            done, _ = wait(pending, return_when=FIRST_COMPLETED)
            for fut in done:
                fd = pending.pop(fut)
                try:
                    result.reports[fd] = fut.result()
                    result.succeeded.append(fd)
                except Exception as ex:  # noqa: BLE001
                    failed.append((fd, ex))
    if failed:
        failed.sort(key=lambda t: t[0])
        result.failed = failed[0][0]
        raise failed[0][1]
    result.succeeded.sort()
    return result


def _path_exists(spark: SparkSession, path: str) -> bool:
    if "://" not in path:
        return os.path.exists(path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)
