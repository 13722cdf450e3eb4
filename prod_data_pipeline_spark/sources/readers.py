"""Sources: schema-enforced NDJSON + parquet table loaders.

Covers SURVEY.md §2.1 S1-S4:
- S1 schema-enforced NDJSON scan (reference v3_dq.py:54-57)
- S2 recursive multi-partition scan (v1.py:26-31)
- S3 partition-pruned scan — expressed as a filter on the partition column
  so Catalyst prunes directories, instead of hand-built paths
- S4 file-provenance column via input_file_name + regexp_extract (v1.py:34-37)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod_data_pipeline_spark.schemas import EVENT_RAW_SCHEMA

# Driver-provided test tables (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; read naive timestamps as session-UTC TIMESTAMP.

    The `events` table stores ``ts`` as parquet TIMESTAMP(MICROS) without a
    timezone annotation, which DuckDB reads as naive UTC.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Naive parquet timestamps read as TIMESTAMP_NTZ unless the session sets
    # parquet.inferTimestampNTZ.enabled=false (session.RUNTIME_CONFS does; this
    # covers externally built sessions).  Session tz is UTC, so the NTZ->LTZ
    # cast preserves the instant and matches DuckDB's naive-UTC reading.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_curated(spark: SparkSession, curated_base: str) -> DataFrame:
    """Read the curated table with additive schema evolution.

    The reference defers schema evolution entirely (design.md:165); Spark
    gives the additive case for free: with mergeSchema, partitions written
    before a column existed read as null for it, and the unified schema is
    the union across partition footers.  Columns may be ADDED over time;
    renames/type changes still require a rewrite (as everywhere).
    """
    return spark.read.option("mergeSchema", "true").parquet(curated_base)


def read_events_ndjson(
    spark: SparkSession,
    path: str,
    recursive: bool = False,
) -> DataFrame:
    """S1/S2: read raw NDJSON events with the enforced schema (no inference)."""
    reader = spark.read.schema(EVENT_RAW_SCHEMA)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.json(path)


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced CSV landing (same contract as the NDJSON path).

    PERMISSIVE mode with a rescue column: rows that fail the schema land
    in `_corrupt_record` instead of silently becoming nulls, so the DQ
    gate can count and fail on them — the reference's enforce-don't-infer
    discipline (v3_dq.py:54-57) applied to CSV.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        EVENT_RAW_SCHEMA.fields + [StructField("_corrupt_record", StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def with_ingestion_date_from_path(df: DataFrame, col: str = "ingestion_date") -> DataFrame:
    """S4: derive the partition value from the source file path.

    Reference: v1.py:34-37 (input_file_name + regexp_extract).  Rows whose
    path does not carry a partition key are dropped, as in v1.py:47.
    """
    out = df.withColumn(
        col,
        F.regexp_extract(F.input_file_name(), r"ingestion_date=(\d{4}-\d{2}-\d{2})", 1),
    )
    return out.filter(F.col(col) != "")
