"""Structured Streaming surface: the curate pipeline as a stream.

The reference explicitly scoped streaming out (docs/design.md:25) and
handled late data by re-running whole dates (docs/design.md:88).  This
module maps those semantics onto Structured Streaming so the same engine
covers both modes:

- ``stream_events``: readStream over the raw NDJSON landing with the same
  enforced schema (no inference — streaming requires explicit schemas
  anyway, which matches the reference's discipline);
- ``streaming_daily_counts``: the daily-partition rollup as a watermarked
  tumbling window — late events inside the watermark update their day,
  events later than the watermark are dropped instead of triggering a
  manual backfill;
- ``streaming_curate``: append-mode partitioned parquet sink with
  checkpointing — the streaming twin of plans.pipeline.curate;
- ``streaming_user_sessions``: custom stateful operator via
  applyInPandasWithState (30-min-gap sessionization, the streaming twin of
  the `user_sessions` batch query);
- ``streaming_dedup_events``: exactly-once event dedup inside the
  watermark horizon via dropDuplicatesWithinWatermark — the streaming twin
  of the batch dup_event_ids DQ check, state bounded by the watermark;
- ``streaming_enriched``: stream-static broadcast join against a
  dimension table — the static side is re-read per micro-batch, so dim
  updates are picked up without restarting the query.
- ``streaming_click_attribution``: stream-stream interval join
  (purchases ⋈ clicks within a lookback window) — both sides watermarked
  so join state is evicted once the event-time horizon passes, the
  streaming twin of the batch time-range join
  (operators.joins.time_range_join).
- ``streaming_session_stats``: native ``F.session_window`` gap sessions
  (JVM-managed state; prefer over the custom-state operator).
- ``streaming_upsert_sink``: foreachBatch CDC apply — per-batch
  latest-per-key compaction merged into a snapshot table
  (operators.cdc.merge_upsert), idempotent under batch replay.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod_data_pipeline_spark.schemas import EVENT_RAW_SCHEMA

# Event-time horizon of the windowed aggregations and the event dedup:
# events later than this are dropped instead of updating their window.
WATERMARK = "2 days"
# Inactivity gap that closes a user session (the batch user_sessions rule).
SESSION_GAP_MINUTES = 30


def stream_events(spark: SparkSession, raw_glob: str, max_files_per_trigger: int = 10) -> DataFrame:
    """readStream over the NDJSON landing zone (one file per partition dir)."""
    return (
        spark.readStream.schema(EVENT_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(raw_glob)
        .withColumn("event_ts", F.to_timestamp("event_ts"))
    )


def streaming_daily_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling daily counts — the reference's per-day partition
    rollup (curated_events.sql:17-20) with late-data handled by the engine
    instead of manual re-runs."""
    return (
        events.withWatermark("event_ts", WATERMARK)
        .groupBy(F.window("event_ts", "1 day").alias("day_window"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.to_date(F.col("day_window.start")).alias("day"),
            "n_events",
            "approx_users",
        )
    )


def streaming_sliding_rates(events: DataFrame) -> DataFrame:
    """Watermarked SLIDING-window event rates: 6-hour windows every 3
    hours, so each event lands in 2 overlapping windows, giving the
    smoothed rate curve an alerting/monitoring consumer reads (tumbling
    windows quantize rate changes to window boundaries; sliding windows
    see them at slide granularity).  State per key is bounded by
    windows-per-slide x the watermark horizon, exactly like the tumbling
    case scaled by the overlap factor."""
    return (
        events.withWatermark("event_ts", WATERMARK)
        .groupBy(F.window("event_ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def streaming_curate(
    spark: SparkSession,
    raw_glob: str,
    curated_base: str,
    checkpoint_dir: str,
):
    """Streaming twin of plans.pipeline.curate: append curated rows as they
    land, partitioned by ingestion_date derived from event_ts.  Returns the
    StreamingQuery (caller manages lifecycle/trigger)."""
    events = stream_events(spark, raw_glob)
    curated = events.withColumn("ingestion_date", F.date_format("event_ts", "yyyy-MM-dd")).withColumn(
        "processing_ts", F.current_timestamp()
    )
    return (
        curated.writeStream.format("parquet")
        .option("path", curated_base)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("ingestion_date")
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_events(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id: keeps the first occurrence seen,
    drops re-deliveries that arrive within the watermark horizon.

    dropDuplicatesWithinWatermark bounds the dedup state: an event_id is
    remembered only until the watermark passes it, so state size tracks
    the (event-time) horizon instead of growing with the whole stream —
    the property that makes exactly-once dedup viable on an unbounded
    100 TB/day feed.  Re-deliveries later than the watermark are a
    DQ/backfill concern (handled by the batch path), not a streaming one.
    """
    return events.withWatermark("event_ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_enriched(events: DataFrame, dim: DataFrame, on: str = "event_type") -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table.

    The static side is broadcast (dimension tables are small by
    definition) and re-resolved every micro-batch, so a dim refresh lands
    without restarting the query.  Stream-static inner/left joins are
    stateless — no watermark needed, nothing accumulates.
    """
    return events.join(F.broadcast(dim), on, "left")


def streaming_click_attribution(
    events: DataFrame,
    lookback_minutes: int = 10,
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks (``view_item`` events) in the preceding
    ``lookback_minutes``.

    Both sides carry a 30-minute watermark and the join condition bounds
    event time on BOTH ends, so Spark can evict buffered rows once the watermark
    passes them — state is proportional to the lookback horizon, not the
    stream length.  An unbounded condition (plain equi-join of streams)
    would accumulate state forever; this is the scale-safe form.

    Pass the same stream twice or two independent streams; the split into
    clicks/purchases happens here so callers can't mismatch filters.
    """
    # Distinct column names on each side: both branches share the same
    # lineage (one stream filtered twice), so same-name Column references
    # would resolve ambiguously (a trivially-true `user_id == user_id`).
    clicks = (
        events.filter(F.col("event_type") == "view_item")
        .select(
            F.col("user_id").alias("click_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("event_ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("click_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTES")
        ),
        "inner",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")


def streaming_user_sessions(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user session counting with an
    inactivity gap, via applyInPandasWithState (GroupState keeps last-seen
    timestamp + session count per user across micro-batches)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("n_sessions", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", TimestampType()),
            StructField("n_sessions", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        for pdf in pdfs:
            for ts in pdf["event_ts"].sort_values():
                if pd.isna(ts):
                    continue
                if last_ts is None or (ts - last_ts).value // 1000 > gap_us:
                    n_sessions += 1
                n_events += 1
                last_ts = ts
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_session_stats(events: DataFrame) -> DataFrame:
    """Native session-window aggregation: per-user sessions delimited by a
    SESSION_GAP_MINUTES inactivity gap, via ``F.session_window`` — Spark merges
    overlapping windows and finalizes a session once the watermark passes
    its close.

    This is the built-in twin of ``streaming_user_sessions``
    (applyInPandasWithState): prefer this form — state is managed JVM-side
    with no Python boundary; reach for the custom-state operator only when
    the per-group logic outgrows an aggregation (e.g. emitting
    mid-session updates)."""
    return (
        events.withWatermark("event_ts", WATERMARK)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("event_ts"), f"{SESSION_GAP_MINUTES} minutes").alias(
                "session"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_upsert_sink(
    events: DataFrame,
    snapshot_path: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    order_col: str = "event_ts",
):
    """Streaming CDC apply: maintain a latest-state snapshot table from an
    event stream via foreachBatch + operators.cdc.merge_upsert.

    Each micro-batch is first compacted to its own latest-per-key rows
    (a batch can re-deliver a key many times), then merged into the
    snapshot and swapped in (write to tmp dir, rename snapshot aside,
    rename tmp into place).  The swap is TWO renames, so it is not
    atomic by itself; the crash window between them is covered by
    recovery at the top of every batch — if the snapshot is missing but
    the ``.old`` directory exists, the previous snapshot is restored
    before merging, so accumulated state is never silently discarded.
    (For a single-rename commit, sources/manifest.py's pointer-file
    protocol is the stronger primitive.)  With that, the checkpoint
    makes delivery effectively exactly-once: a replayed batch re-merges
    the same rows, and merge_upsert is idempotent.

    Scale: the snapshot rewrite is proportional to the SNAPSHOT size, not
    the stream history — on a real deployment back this with a table
    format's MERGE for partition-level rewrites; the operator composition
    (per-batch compaction -> keyed merge) is identical.
    """
    import os
    import shutil

    from prod_data_pipeline_spark.operators.cdc import latest_snapshot, merge_upsert

    key_cols = keys or ["event_id"]

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        old = snapshot_path + ".old"
        # Crash recovery: a failure between the two swap renames below
        # leaves snapshot_path absent with the prior state in .old —
        # restore it instead of reinitializing from this batch alone.
        if not os.path.exists(snapshot_path) and os.path.exists(old):
            os.rename(old, snapshot_path)
        compact = latest_snapshot(batch, key_cols, order_col)
        if os.path.exists(snapshot_path):
            current = spark.read.parquet(snapshot_path)
            merged = merge_upsert(current, compact.select(*current.columns), key_cols, order_col)
        else:
            merged = compact
        tmp = snapshot_path + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(snapshot_path):
            os.rename(snapshot_path, old)
        os.rename(tmp, snapshot_path)
        if os.path.exists(old):
            shutil.rmtree(old)

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_manifest_sink(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
):
    """EXACTLY-ONCE streaming ingest into a manifest-committed snapshot
    table: each micro-batch appends via sources.manifest.commit_snapshot,
    and the batch id is recorded IN the manifest — atomic with the
    version pointer — as the transaction marker (`meta.last_batch_id`,
    the Delta txn-version idiom).  When structured streaming replays a
    batch after a crash (its checkpoint commits the offset range only
    AFTER foreachBatch returns), the sink sees batch_id <=
    last_batch_id and skips: no double-append, no marker-file crash
    window, because the marker and the data commit are one atomic
    pointer swap.

    This upgrades streaming_upsert_sink's two-rename swap to the
    manifest's single-rename commit AND gives streaming output time
    travel, zone/bloom data skipping, changelogs, and vacuum — the
    streaming half of the table-format story.  Per-trigger small files
    are the known cost; rewrite_small_files is the matching nightly
    compaction."""
    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        manifest_commit_batch(batch, batch_id, table_path, stats_cols, bloom_cols)

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def manifest_commit_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
) -> bool:
    """The sink's per-batch transaction (exposed so crash-replay is
    directly testable): skip if this batch id is already recorded in the
    current manifest, else append-commit with the id as atomic metadata.
    Returns True iff a commit happened.

    Reading the HEAD manifest's meta is sufficient because
    sources.manifest._publish carries ``last_batch_id`` forward (per-key
    MAX) across EVERY commit — compaction, replace_where, delete,
    rollback — the Delta txn appId->version idiom.  Without that carry,
    a maintenance commit landing between a batch commit and the stream
    checkpoint write would reset the marker and a crash-replayed batch
    would double-append."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        current_version,
        read_manifest,
    )

    v = current_version(table_path)
    if v is not None:
        last = read_manifest(table_path, v).meta.get("last_batch_id", -1)
        if batch_id <= last:
            return False  # replayed batch: already committed atomically
    commit_snapshot(
        batch,
        table_path,
        mode="append",
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        meta={"last_batch_id": batch_id},
    )
    return True


def streaming_incremental_dedup(
    docs: DataFrame,
    snapshot_keys: DataFrame,
    key_col: str = "fp",
    watermark_col: str | None = None,
) -> DataFrame:
    """Streaming twin of operators.dedup.incremental_dedup: ingest a
    document stream, dropping anything already in the static snapshot AND
    anything already seen earlier in the stream.

    Two stages, both state-bounded:
      1. stream-static LEFT ANTI join against the snapshot's compact key
         relation (broadcast — it is fingerprints, never document text;
         re-resolved each micro-batch so a snapshot refresh lands without
         a restart);
      2. streaming dropDuplicates on the key for the within-stream
         kept-first rule.  With `watermark_col` set the state is bounded
         by a 1-day watermark (dropDuplicatesWithinWatermark) — the
         unbounded-stream-safe form; without it, plain dropDuplicates
         keeps all-keys state and is only for bounded replays/tests.

    The batch operator's kept-first rule picks MIN(id); the streaming rule
    is arrival-order — equivalent whenever ids are assigned in arrival
    order, which is the invariant the batch docstring already assumes.
    """
    fresh = docs.join(
        F.broadcast(snapshot_keys.select(key_col)), key_col, "left_anti"
    )
    if watermark_col is not None:
        return fresh.withWatermark(watermark_col, "1 day").dropDuplicatesWithinWatermark(
            [key_col]
        )
    return fresh.dropDuplicates([key_col])


def streaming_cms_sink(
    events: DataFrame,
    key_col: str,
    sketch_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 512,
):
    """Streaming frequency sketch: maintain a mergeable count-min sketch
    of `key_col` occurrences from a stream via foreachBatch +
    operators.sketches — the streaming twin of events_cms_heavy_hitters'
    batch build.

    Each micro-batch builds its own bounded sketch (at most depth x width
    rows regardless of batch size) and writes it to a DETERMINISTIC
    per-batch delta directory ``batch=<batch_id>`` in overwrite mode.
    CMS merge is addition — NOT idempotent — so replay safety cannot come
    from re-merging (the upsert sink's trick); it comes from the
    deterministic path: a batch replayed after a crash overwrites its own
    delta rather than double-counting.  `read_cms` unions the deltas and
    folds them with cms_merge, which an engine can do lazily at query
    time or compact periodically — sketch state grows as
    batches x depth x width rows, independent of stream volume.  Read the
    merged sketch back with cms_estimate at the same (depth, width).
    """
    from prod_data_pipeline_spark.operators.sketches import cms_build

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        sk = cms_build(batch, key_col, depth=depth, width=width)
        sk.write.mode("overwrite").parquet(
            os.path.join(sketch_path, f"batch={batch_id}")
        )

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cms(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Fold the per-batch sketch deltas into one current sketch."""
    from prod_data_pipeline_spark.operators.sketches import cms_merge

    return cms_merge(spark.read.parquet(os.path.join(sketch_path, "batch=*")))


def streaming_histogram_sink(
    events: DataFrame,
    value_col: str,
    sketch_path: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
):
    """Streaming quantile sketch: maintain the mergeable equal-width
    value histogram (operators.sketches.value_histogram_build) from a
    stream via foreachBatch — the streaming twin of
    events_value_sketch_quantiles' batch build, completing the
    every-mergeable-sketch-has-a-streaming-twin symmetry (CMS already
    has one).  Same replay-safety design as streaming_cms_sink:
    histogram merge is addition (not idempotent), so each micro-batch's
    bounded delta (at most n_buckets rows) lands in a DETERMINISTIC
    ``batch=<id>`` directory in overwrite mode — a crash-replayed batch
    overwrites its own delta instead of double-counting."""
    from prod_data_pipeline_spark.operators.sketches import value_histogram_build

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        sk = value_histogram_build(batch, value_col, n_buckets=n_buckets)
        sk.write.mode("overwrite").parquet(
            os.path.join(sketch_path, f"batch={batch_id}")
        )

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_histogram(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Fold the per-batch histogram deltas into one current sketch."""
    from prod_data_pipeline_spark.operators.sketches import value_histogram_merge

    return value_histogram_merge(
        spark.read.parquet(os.path.join(sketch_path, "batch=*"))
    )


def streaming_content_blocks(pages: DataFrame) -> DataFrame:
    """Streaming twin of the boilerplate gate (operators.text
    .markup_blocks): classify every markup block of a crawled-page stream
    and emit the content blocks — the gate every crawl pipeline runs AT
    INGEST, before anything is stored or deduped, here as a continuous
    query.

    The classifier is pure projections + one explode (tag-pair split,
    anchor counting, integer density rules), so the streaming plan is
    STATELESS — no watermark, no state store, arbitrary input rate; the
    downstream per-doc assembly (extract_main_content's groupBy) belongs
    in the batch layer or a foreachBatch sink where the micro-batch
    bounds it."""
    from prod_data_pipeline_spark.operators.text import markup_blocks

    return markup_blocks(pages).filter(F.col("is_good"))
