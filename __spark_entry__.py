"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query smoke (sf0.001)
queries()      — every implemented operator from SURVEY.md §2 as a named
                 (spark, sf_dir) -> DataFrame callable
oracle_sql()   — matching ANSI SQL for the DuckDB oracle (since round 7
                 every registered query has one — approximate operators
                 project exact companions + within-declared-bound booleans
                 so their hashes are engine-independent)

Implementation lives in prod_data_pipeline_spark/; this module only adapts
the registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from prod_data_pipeline_spark.plans.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: curated per-day event counts (golden query #1,
    /root/reference/sql/athena/curated_events.sql:17-20) at sf0.001."""
    return QUERIES["events_per_day"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items()}
