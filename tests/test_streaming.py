"""Structured Streaming surface: availableNow micro-batch runs against the
same NDJSON fixtures as the batch pipeline."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prod_data_pipeline_spark.streaming.curate_stream import (
    stream_events,
    streaming_curate,
    streaming_daily_counts,
    streaming_sliding_rates,
    streaming_user_sessions,
)
from prod_data_pipeline_spark.schemas import EVENT_RAW_SCHEMA
from tests.eventgen import generate_raw_events

DATES = ["2025-01-01", "2025-01-02"]


@pytest.fixture()
def raw(tmp_path):
    base = str(tmp_path / "raw")
    counts = generate_raw_events(base, DATES, rows_per_day=200, dup_rate=0.0)
    return base, counts


def _glob(base):
    return os.path.join(base, "source_system=app", "ingestion_date=*", "*.json")


def test_streaming_curate_writes_partitions(spark, raw, tmp_path):
    base, counts = raw
    curated = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_curate(spark, _glob(base), curated, ckpt)
    q.awaitTermination(120)
    df = spark.read.parquet(curated)
    assert df.count() == sum(counts.values())
    got = {
        str(r["ingestion_date"]): r["n"]  # partition col type is inferred as date on read
        for r in df.groupBy("ingestion_date").agg(F.count("*").alias("n")).collect()
    }
    assert got == counts
    assert dict(df.dtypes)["event_ts"] == "timestamp"


def test_streaming_daily_counts_complete_mode(spark, raw, tmp_path):
    base, counts = raw
    agg = streaming_daily_counts(stream_events(spark, _glob(base)))
    q = (
        agg.writeStream.format("memory")
        .queryName("daily_counts_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r["day"]): r["n_events"] for r in spark.sql("SELECT * FROM daily_counts_t").collect()}
    assert rows == counts


def test_streaming_late_data_resumes_from_checkpoint(spark, raw, tmp_path):
    """Late-arriving file + restart from the same checkpoint: the windowed
    aggregation state survives and the affected day's count grows by
    exactly the late rows (inside the 2-day watermark) — the streaming twin
    of the batch backfill scenario."""
    base, counts = raw
    ckpt = str(tmp_path / "ckpt_late")

    def run_once():
        agg = streaming_daily_counts(stream_events(spark, _glob(base)))
        q = (
            agg.writeStream.format("memory")
            .queryName("late_counts_t")
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            str(r["day"]): r["n_events"]
            for r in spark.sql("SELECT * FROM late_counts_t").collect()
        }

    first = run_once()
    assert first == counts
    # 40 late events land in an existing day's partition dir as a new file
    late_day = DATES[1]
    generate_raw_events(
        base, [late_day], rows_per_day=40, dup_rate=0.0, filename="late.json"
    )
    second = run_once()
    assert second[late_day] == counts[late_day] + 40
    assert second[DATES[0]] == counts[DATES[0]]


def test_streaming_sessions_match_batch(spark, raw):
    """The stateful streaming sessionizer agrees with the batch window
    implementation on a single availableNow pass."""
    base, _ = raw
    sess = streaming_user_sessions(stream_events(spark, _glob(base)))
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_out = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, max(n_sessions) n_sessions, max(n_events) n_events "
            "FROM sessions_t GROUP BY user_id"
        ).collect()
    }
    # Batch oracle: same gap logic with window functions.
    from pyspark.sql import Window

    batch = (
        spark.read.schema(
            "event_id string, user_id string, event_type string, event_ts string, amount double"
        )
        .json(_glob(base))
        .withColumn("event_ts", F.to_timestamp("event_ts"))
        .filter(F.col("event_ts").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("event_ts")
    gap = F.unix_micros(F.col("event_ts")) - F.unix_micros(F.lag("event_ts").over(w))
    batch_out = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in batch.withColumn(
            "is_new", F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("is_new").alias("n_sessions"), F.count("*").alias("n_events"))
        .collect()
    }
    assert stream_out == batch_out


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per event_id across a
    10% injected re-delivery rate."""
    from prod_data_pipeline_spark.streaming.curate_stream import streaming_dedup_events

    base = str(tmp_path / "rawdup")
    counts = generate_raw_events(base, DATES, rows_per_day=200, dup_rate=0.10)
    deduped = streaming_dedup_events(stream_events(spark, _glob(base)))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total_rows = sum(counts.values())
    out = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_t").first()
    assert out["n"] == out["d"]          # no duplicate survived
    assert out["n"] < total_rows         # duplicates existed and were dropped


def test_streaming_enriched_stream_static_join(spark, raw):
    """Stream-static broadcast join: every output row carries its dim
    attribute; unmatched types survive with a null (left join)."""
    from prod_data_pipeline_spark.streaming.curate_stream import streaming_enriched

    base, counts = raw
    dim = spark.createDataFrame(
        [("login", "auth"), ("purchase", "commerce"), ("view_item", "browse")],
        ["event_type", "category"],
    )
    enriched = streaming_enriched(stream_events(spark, _glob(base)), dim)
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT count(*) AS n, sum(CASE WHEN category IS NULL THEN 1 ELSE 0 END) AS unmatched, "
        "count(DISTINCT category) AS cats FROM enriched_t"
    ).first()
    assert rows["n"] == sum(counts.values())  # left join drops nothing
    assert rows["cats"] >= 2


def test_streaming_click_attribution_matches_batch(spark, raw):
    """Stream-stream interval join equals the batch interval join over the
    same fixture (availableNow drains everything, so no late-drop delta)."""
    from prod_data_pipeline_spark.streaming.curate_stream import (
        streaming_click_attribution,
    )

    # Dense fixture: enough events per user that same-user click→purchase
    # pairs inside the lookback actually occur.
    base = raw[0] + "_dense"
    generate_raw_events(base, DATES, rows_per_day=4000, dup_rate=0.0)
    joined = streaming_click_attribution(
        stream_events(spark, _glob(base)), lookback_minutes=60
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT purchase_id, click_id FROM attrib_t").collect()
    }

    ev = (
        spark.read.json(_glob(base))
        .withColumn("event_ts", F.to_timestamp("event_ts"))
    )
    c = ev.filter(F.col("event_type") == "view_item").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("event_ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("event_ts").alias("purchase_ts"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 60 MINUTES")),
        ).collect()
    }
    assert got == want
    assert len(want) > 0  # the fixture actually exercises the join


def test_streaming_session_window_matches_batch(spark, raw):
    """Native session_window agg: per-user session count equals the batch
    lag-gap sessionization over the same fixture."""
    from prod_data_pipeline_spark.streaming.curate_stream import (
        streaming_session_stats,
    )
    from pyspark.sql import Window

    base, counts = raw
    sess = streaming_session_stats(stream_events(spark, _glob(base)))
    q = (
        sess.writeStream.format("memory")
        .queryName("native_sess_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["n"]
        for r in spark.sql(
            "SELECT user_id, count(*) AS n FROM native_sess_t "
            "WHERE user_id IS NOT NULL GROUP BY user_id"
        ).collect()
    }

    ev = (
        spark.read.json(_glob(base))
        .withColumn("event_ts", F.to_timestamp("event_ts"))
        .filter(F.col("user_id").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("event_ts")
    batch = (
        ev.withColumn("prev", F.lag("event_ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev").isNull()
                | (F.unix_timestamp("event_ts") - F.unix_timestamp("prev") > 1800)
            ).cast("long"),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n"))
    )
    want = {r["user_id"]: r["n"] for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_upsert_sink_matches_batch_snapshot(spark, tmp_path):
    """foreachBatch CDC apply: after draining a stream with injected
    re-deliveries, the maintained snapshot equals the batch
    latest_snapshot over the same raw data."""
    from prod_data_pipeline_spark.operators.cdc import latest_snapshot
    from prod_data_pipeline_spark.streaming.curate_stream import streaming_upsert_sink

    base = str(tmp_path / "rawup")
    generate_raw_events(base, DATES, rows_per_day=300, dup_rate=0.10)
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt_upsert")

    q = streaming_upsert_sink(
        stream_events(spark, _glob(base)), snap, ckpt, keys=["event_id"]
    )
    q.awaitTermination(180)

    got = {
        r["event_id"]: r["event_ts"]
        for r in spark.read.parquet(snap).collect()
        if r["event_id"] is not None
    }
    batch = (
        spark.read.json(_glob(base))
        .withColumn("event_ts", F.to_timestamp("event_ts"))
        .filter(F.col("event_id").isNotNull())
    )
    want = {
        r["event_id"]: r["event_ts"]
        for r in latest_snapshot(batch, ["event_id"], "event_ts").collect()
    }
    assert got.keys() == want.keys()
    assert got == want


def test_streaming_upsert_sink_recovers_snapshot_from_old(spark, tmp_path):
    """Crash-window recovery: a failure between the sink's two swap
    renames leaves snapshot_path absent and the prior state in `.old`.
    The next batch must restore it instead of reinitializing the snapshot
    from that batch alone."""
    import os

    from prod_data_pipeline_spark.streaming.curate_stream import streaming_upsert_sink

    base1 = str(tmp_path / "raw1")
    generate_raw_events(base1, DATES[:1], rows_per_day=200, dup_rate=0.0)
    snap = str(tmp_path / "snapshot")

    q = streaming_upsert_sink(
        stream_events(spark, _glob(base1)), snap, str(tmp_path / "ckpt1"), keys=["event_id"]
    )
    q.awaitTermination(180)
    first_keys = {r["event_id"] for r in spark.read.parquet(snap).collect()}
    assert len(first_keys) > 0

    # Simulate the torn swap: snapshot renamed aside, crash before tmp
    # was renamed into place.
    os.rename(snap, snap + ".old")

    base2 = str(tmp_path / "raw2")
    generate_raw_events(base2, DATES[1:2], rows_per_day=200, dup_rate=0.0)
    q2 = streaming_upsert_sink(
        stream_events(spark, _glob(base2)), snap, str(tmp_path / "ckpt2"), keys=["event_id"]
    )
    q2.awaitTermination(180)

    final_keys = {r["event_id"] for r in spark.read.parquet(snap).collect()}
    assert first_keys <= final_keys, "accumulated state was discarded"
    assert len(final_keys) > len(first_keys)
    assert not os.path.exists(snap + ".old")


def test_streaming_sliding_rates_match_batch(spark, raw, tmp_path):
    """Sliding-window rates (6h window / 3h slide) from the stream equal
    the same windowed aggregation computed in batch over the same files —
    every event in both of its overlapping windows, none dropped."""
    base, _ = raw
    agg = streaming_sliding_rates(stream_events(spark, _glob(base)))
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_rates_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), str(r["window_end"])): r["n_events"]
        for r in spark.sql("SELECT * FROM sliding_rates_t").collect()
    }

    from prod_data_pipeline_spark.sources.readers import read_events_ndjson

    batch_src = read_events_ndjson(spark, _glob(base)).withColumn(
        "event_ts", F.to_timestamp("event_ts")
    )
    batch = (
        batch_src.groupBy(F.window("event_ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(str(r["w"]["start"]), str(r["w"]["end"])): r["n"] for r in batch}
    assert got == want
    # overlap sanity: total windowed rows = 2x raw rows (each event in 2 windows)
    assert sum(got.values()) == 2 * batch_src.count()


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """The streaming twin keeps exactly one doc per fresh fingerprint —
    the same kept fingerprint set as the batch incremental_dedup
    (src0-9 = static snapshot, src10-19 replayed as the stream)."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.functions.text import tokens
    from prod_data_pipeline_spark.operators.dedup import incremental_dedup
    from prod_data_pipeline_spark.streaming.curate_stream import (
        streaming_incremental_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = F.md5(F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 12)))
    sn = F.substring(F.col("source"), 4, 10).cast("int")
    d = docs.select("doc_id", "source", "text", sn.alias("sn"), fp.alias("fp"))
    snapshot = d.filter(F.col("sn") < 10).select("doc_id", "source", "fp")
    batch = d.filter(F.col("sn") >= 10).select("doc_id", "source", "text", "fp")

    stream_dir = str(tmp_path / "docstream")
    batch.write.json(stream_dir)
    stream = spark.readStream.schema(batch.schema).json(stream_dir)

    out = streaming_incremental_dedup(stream, snapshot)
    q = (
        out.writeStream.format("memory")
        .queryName("incdedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got_fps = {r["fp"] for r in spark.sql("SELECT fp FROM incdedup_t").collect()}
    got_n = spark.sql("SELECT count(*) AS n FROM incdedup_t").first()["n"]

    flagged = incremental_dedup(batch.select("doc_id", "source", "fp"), snapshot)
    expected = flagged.filter((F.col("dup_snapshot") == 0) & (F.col("dup_batch") == 0))
    exp_fps = {r["fp"] for r in expected.select("fp").collect()}
    assert got_fps == exp_fps, "streaming kept a different fingerprint set"
    assert got_n == len(exp_fps), "streaming kept more than one doc per fingerprint"


def test_streaming_cms_sink_matches_batch_sketch(spark, raw, tmp_path):
    """Per-batch sketch deltas folded with cms_merge must equal one batch
    build over the whole stream (merge == addition), and estimates read
    back with default arguments must never underestimate the true counts."""
    from prod_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from prod_data_pipeline_spark.streaming.curate_stream import (
        read_cms,
        stream_events,
        streaming_cms_sink,
    )

    base, _ = raw
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    ev = stream_events(spark, _glob(base), max_files_per_trigger=1)  # >1 batch
    q = streaming_cms_sink(ev, "user_id", sketch, ckpt, depth=4, width=128)
    q.awaitTermination(120)

    merged = read_cms(spark, sketch)
    batch_ev = spark.read.json(_glob(base), schema=EVENT_RAW_SCHEMA)
    direct = cms_build(batch_ev, "user_id", depth=4, width=128)
    a = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["row"], r["bucket"]): r["cnt"] for r in direct.collect()}
    assert a == b

    keys = batch_ev.select("user_id").distinct()
    est = cms_estimate(merged, keys, "user_id", depth=4, width=128)
    true = batch_ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("t"))
    assert all(r["cms_count"] >= r["t"] for r in est.join(true, "user_id").collect())

    # round-12 join-size family: the inner-product estimate computed from
    # the STREAMING-maintained sketch must equal the batch build's (cells
    # identical => dots identical), and upper-bound the exact self-join
    # size — the planner signal stays available at ingest time.
    from prod_data_pipeline_spark.operators.sketches import cms_inner_product

    sdots = {(r["row"], r["dot"]) for r in cms_inner_product(merged, merged).collect()}
    bdots = {(r["row"], r["dot"]) for r in cms_inner_product(direct, direct).collect()}
    assert sdots == bdots
    f2 = true.agg(F.sum(F.col("t") * F.col("t"))).collect()[0][0]
    assert min(d for _, d in sdots) >= f2


def test_streaming_histogram_sink_matches_batch_sketch(spark, raw, tmp_path):
    """Per-batch histogram deltas folded with value_histogram_merge must
    equal one batch build over the whole stream (merge == addition), and
    every quantile estimate from the merged sketch must sit within one
    bucket width of the exact value."""
    from prod_data_pipeline_spark.operators.sketches import (
        value_histogram_build,
        value_histogram_merge,
    )
    from prod_data_pipeline_spark.streaming.curate_stream import (
        read_histogram,
        stream_events,
        streaming_histogram_sink,
    )

    base, _ = raw
    sketch = str(tmp_path / "hsketch")
    ckpt = str(tmp_path / "hckpt")
    ev = stream_events(spark, _glob(base), max_files_per_trigger=1)  # >1 batch
    q = streaming_histogram_sink(ev, "amount", sketch, ckpt, n_buckets=32)
    q.awaitTermination(120)

    merged = read_histogram(spark, sketch)
    batch_ev = spark.read.json(_glob(base), schema=EVENT_RAW_SCHEMA)
    direct = value_histogram_merge(
        value_histogram_build(batch_ev, "amount", n_buckets=32)
    )
    a = {r["bucket"]: r["cnt"] for r in merged.collect()}
    b = {r["bucket"]: r["cnt"] for r in direct.collect()}
    assert a == b and a, "stream-folded sketch differs from one batch build"

    # quantile estimates within one bucket width (500.00/32 dollars)
    vals = sorted(
        r["amount"] for r in batch_ev.select("amount").collect() if r["amount"] is not None
    )
    buckets = sorted(a.items())
    n = sum(c for _, c in buckets)
    width = 50_000 / 32 / 100.0
    for q100 in (25, 50, 75, 90):
        cum = 0
        for bkt, c in buckets:
            cum += c
            if 100 * cum >= q100 * n:
                est = (bkt + 1) * width
                break
        exact = vals[(q100 * len(vals) + 99) // 100 - 1]
        assert abs(est - exact) <= width + 1e-9, (q100, est, exact)


def test_streaming_content_blocks_matches_batch(spark, tmp_path):
    """The streaming boilerplate gate is stateless, so its output over a
    bounded replay must equal the batch markup_blocks filter block-for-
    block (ids, positions, types, token counts)."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.operators.text import (
        markup_blocks,
        synthetic_markup_pages,
    )
    from prod_data_pipeline_spark.streaming.curate_stream import (
        streaming_content_blocks,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    pages = synthetic_markup_pages(docs).select("doc_id", "html")

    stream_dir = str(tmp_path / "pagestream")
    pages.write.json(stream_dir)
    stream = spark.readStream.schema(pages.schema).json(stream_dir)

    out = streaming_content_blocks(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("cblocks_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    key = lambda r: (  # noqa: E731
        r["doc_id"], r["block_pos"], r["block_type"], r["n_tokens"],
        r["n_link_tokens"], r["n_stop_tokens"],
    )
    got = sorted(key(r) for r in spark.sql("SELECT * FROM cblocks_t").collect())
    exp = sorted(
        key(r) for r in markup_blocks(pages).filter(F.col("is_good")).collect()
    )
    assert got == exp and len(got) > 0
