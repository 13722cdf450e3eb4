"""Manifest-committed snapshot tables: atomicity, time travel, vacuum."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from prod_data_pipeline_spark.sources.manifest import (
    commit_snapshot,
    current_version,
    read_snapshot,
    snapshots,
    vacuum,
)
from prod_data_pipeline_spark.sources.readers import read_events_csv


def test_commit_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df1 = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    s1 = commit_snapshot(df1, t, mode="append")
    assert (s1.version, s1.n_rows) == (1, 100)

    df2 = spark.range(100, 150).withColumn("v", F.col("id") * 2)
    s2 = commit_snapshot(df2, t, mode="append")
    assert (s2.version, s2.n_rows) == (2, 150)
    assert read_snapshot(spark, t).count() == 150

    # overwrite: new version lists ONLY the new files; old files untouched
    df3 = spark.range(0, 7).withColumn("v", F.lit(0).cast("long"))
    s3 = commit_snapshot(df3, t, mode="overwrite")
    assert (s3.version, s3.n_rows) == (3, 7)
    assert read_snapshot(spark, t).count() == 7

    # time travel: every historical version still reads exactly
    assert read_snapshot(spark, t, version=1).count() == 100
    assert read_snapshot(spark, t, version=2).count() == 150
    assert [s.version for s in snapshots(t)] == [1, 2, 3]
    assert current_version(t) == 3


def test_reader_isolation_from_concurrent_commit(spark, tmp_path):
    """A reader that resolved version N keeps reading N's files even after
    an overwrite commits version N+1 (no torn reads)."""
    t = str(tmp_path / "tbl2")
    commit_snapshot(spark.range(0, 50), t)
    old = read_snapshot(spark, t)  # plan pinned to v1's file list
    commit_snapshot(spark.range(0, 3), t, mode="overwrite")
    assert old.count() == 50          # unaffected by the new commit
    assert read_snapshot(spark, t).count() == 3


def test_vacuum_removes_only_expired_files(spark, tmp_path):
    t = str(tmp_path / "tbl3")
    commit_snapshot(spark.range(0, 10), t)
    commit_snapshot(spark.range(10, 20), t, mode="overwrite")
    commit_snapshot(spark.range(20, 30), t, mode="overwrite")
    # keep_last < 1 would expire the head itself: refused before any delete
    files_before = {f for s in snapshots(t) for f in s.files}
    with pytest.raises(ValueError, match="keep_last"):
        vacuum(t, keep_last=0)
    assert all(os.path.exists(f) for f in files_before)
    assert read_snapshot(spark, t).count() == 10
    deleted = vacuum(t, keep_last=2)
    assert deleted  # v1's files went away
    assert read_snapshot(spark, t).count() == 10          # current fine
    assert read_snapshot(spark, t, version=2).count() == 10  # kept version fine
    with pytest.raises(Exception):
        read_snapshot(spark, t, version=1).count()        # expired


def test_read_events_csv_schema_enforced(spark, tmp_path):
    p = str(tmp_path / "ev.csv")
    with open(p, "w") as f:
        f.write("event_id,user_id,event_type,event_ts,amount\n")
        f.write("e1,u1,login,2025-01-01T00:00:00Z,\n")
        f.write("e2,u2,purchase,2025-01-01T01:00:00Z,12.5\n")
        f.write("e3,u3,purchase,2025-01-01T02:00:00Z,not_a_number\n")
    df = read_events_csv(spark, p)
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["event_id"] for r in good} == {"e1", "e2"}
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt_record"]


def test_zone_map_pruning_reads_fewer_files_same_answer(spark, tmp_path):
    """Range-clustered commit + zone maps: a selective read opens only the
    overlapping files, and the result equals the full-scan filter."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import (
        prune_files,
        read_manifest,
    )

    t = str(tmp_path / "tbl")
    df = (
        spark.range(0, 10_000)
        .withColumn("v", F.col("id").cast("long"))
        .repartitionByRange(8, "v")
        .sortWithinPartitions("v")
    )
    snap = commit_snapshot(df, t, stats_cols=("v",))
    assert len(snap.files) == 8
    assert all("v" in snap.stats[f] for f in snap.files)

    kept = prune_files(snap, "v", 2000, 2600)
    assert 0 < len(kept) < len(snap.files)

    pruned = read_snapshot(spark, t, prune=("v", 2000, 2600))
    full = read_snapshot(spark, t).filter(F.col("v").between(2000, 2600))
    assert sorted(r["v"] for r in pruned.collect()) == sorted(
        r["v"] for r in full.collect()
    )
    # the manifest round-trips the stats (reader process != writer process)
    snap2 = read_manifest(t, snap.version)
    assert snap2.stats == snap.stats


def test_zone_map_append_merges_stats_and_unclustered_files_survive(spark, tmp_path):
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import prune_files

    t = str(tmp_path / "tbl")
    lo = spark.range(0, 100).withColumn("v", F.col("id").cast("long")).coalesce(1)
    hi = spark.range(5000, 5100).withColumn("v", F.col("id").cast("long")).coalesce(1)
    commit_snapshot(lo, t, stats_cols=("v",))
    s2 = commit_snapshot(hi, t, mode="append", stats_cols=("v",))
    assert len(s2.files) == 2 and len(s2.stats) == 2

    assert len(prune_files(s2, "v", 0, 10)) == 1
    assert len(prune_files(s2, "v", 5050, 5060)) == 1
    assert len(prune_files(s2, "v", 200, 300)) == 0
    # zero-overlap read: empty result, schema intact
    empty = read_snapshot(spark, t, prune=("v", 200, 300))
    assert empty.count() == 0 and "v" in empty.columns

    # a commit WITHOUT stats keeps its files unprunable (sound default)
    s3 = commit_snapshot(
        spark.range(9000, 9100).withColumn("v", F.col("id").cast("long")).coalesce(1),
        t,
        mode="append",
    )
    assert len(prune_files(s3, "v", 0, 10)) == 2  # old low file + statless file


def test_bloom_pruning_point_lookup(spark, tmp_path):
    """Blooms prune point lookups on a column the layout is NOT sorted by:
    hash-partitioned files each hold a disjoint key subset, and a key's
    probe keeps (at least) the one file that truly has it while the
    filtered read stays exact."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import prune_files_eq

    t = str(tmp_path / "tbl")
    df = (
        spark.range(0, 4000)
        .withColumn("k", F.concat(F.lit("user"), F.col("id")))
        .repartition(8, "k")  # hash layout: zone maps on k would be useless
    )
    snap = commit_snapshot(df, t, bloom_cols=("k",))
    assert len(snap.files) == 8 and len(snap.blooms) == 8

    kept = prune_files_eq(snap, "k", "user1234")
    assert 1 <= len(kept) < len(snap.files)  # 3 probes vs 1024 bits: FP-rare
    rows = spark.read.parquet(*kept).filter(F.col("k") == "user1234").collect()
    assert len(rows) == 1 and rows[0]["id"] == 1234

    # absent key: blooms may keep a false-positive file, never ALL of them
    assert len(prune_files_eq(snap, "k", "nosuchkey")) < len(snap.files)


def test_snapshot_changelog_between_versions(spark, tmp_path):
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import snapshot_changelog

    t = str(tmp_path / "tbl")
    v1_df = spark.range(0, 10).withColumn("v", F.col("id") * 10)
    commit_snapshot(v1_df, t)
    v2_df = spark.range(5, 12).withColumn("v", F.col("id") * 100)
    commit_snapshot(v2_df, t, mode="overwrite")

    diff = snapshot_changelog(spark, t, 1, 2, keys=["id"]).collect()
    status = {r["id"]: r["diff_status"] for r in diff}
    assert all(status[i] == "left_only" for i in range(0, 5))
    assert all(status[i] == "changed" for i in range(5, 10))
    assert all(status[i] == "right_only" for i in (10, 11))


def test_delete_where_rewrites_only_pruned_files(spark, tmp_path):
    """GDPR-shape targeted delete: the new version lacks the key, only the
    bloom-pruned files are rewritten (others carry over by identical
    path), prior versions still contain the rows until vacuum expires
    them."""
    import os

    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import (
        delete_where,
        read_manifest,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    df = (
        spark.range(0, 4000)
        .withColumn("k", F.concat(F.lit("user"), F.col("id") % 100))
        .repartition(8, "k")
    )
    v1 = commit_snapshot(df, t, bloom_cols=("k",))

    v2 = delete_where(spark, t, "k", "user7")
    assert v2.version == v1.version + 1 and v2.mode == "delete"
    # the key is gone from the current version, everything else intact
    cur = read_snapshot(spark, t)
    assert cur.filter(F.col("k") == "user7").count() == 0
    assert cur.count() == 4000 - 40 and v2.n_rows == 4000 - 40
    # only files the bloom could not clear were rewritten
    carried = set(v1.files) & set(v2.files)
    rewritten_src = set(v1.files) - carried
    assert carried, "delete rewrote every file despite bloom pruning"
    assert rewritten_src, "delete rewrote nothing"
    # carried files keep their blooms; every file still tracked
    assert set(v2.blooms) == set(v2.files)
    # time travel: the old version still shows the rows
    old = read_snapshot(spark, t, version=v1.version)
    assert old.filter(F.col("k") == "user7").count() == 40
    # vacuum expires the old version's exclusive files
    removed = vacuum(t, keep_last=1)
    assert set(removed) == rewritten_src
    assert all(os.path.exists(f) for f in v2.files)
    assert read_snapshot(spark, t).count() == 4000 - 40


def test_delete_where_unsafe_render_type_skips_bloom_pruning(spark, tmp_path):
    """A float key's Python str() can diverge from Spark's CAST(col AS
    STRING) (scientific notation), so the bloom probe could falsely
    prove absence and the delete would silently keep matching rows.
    For such types pruning must be skipped — every file becomes a
    rewrite candidate and the delete stays CORRECT, just unpruned."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import (
        _bloom_value_render_safe,
        delete_where,
        read_snapshot,
    )

    # rendering divergence is real: Python 1e+20 vs Spark 1.0E20
    assert str(1e20) == "1e+20"
    assert not _bloom_value_render_safe(1e20)
    assert not _bloom_value_render_safe(True)  # Python "True" vs Spark "true"
    assert _bloom_value_render_safe("user7")
    assert _bloom_value_render_safe(42)
    import datetime

    assert _bloom_value_render_safe(datetime.date(2024, 1, 2))
    assert not _bloom_value_render_safe(datetime.datetime(2024, 1, 2, 3, 4, 5))

    t = str(tmp_path / "tbl")
    df = (
        spark.range(0, 400)
        .withColumn("v", F.when(F.col("id") % 10 == 0, 1e20).otherwise(F.col("id").cast("double")))
        .repartition(4, "v")
    )
    commit_snapshot(df, t, bloom_cols=("v",))
    v2 = delete_where(spark, t, "v", 1e20)
    cur = read_snapshot(spark, t)
    assert cur.filter(F.col("v") == 1e20).count() == 0, "float delete missed rows"
    assert cur.count() == 400 - 40 and v2.n_rows == 400 - 40


def test_rewrite_small_files_binpacks_and_preserves_rows(spark, tmp_path):
    """Compaction rewrites only the small files (coalesced), carries large
    files by identical path, preserves the exact row multiset, keeps
    time travel to the pre-compaction version, and vacuum then removes
    the obsolete small files."""
    from prod_data_pipeline_spark.sources.manifest import rewrite_small_files

    t = str(tmp_path / "tbl")
    # three appends, each fragmented into 4 files -> 12 small files
    for lo in (0, 400, 800):
        df = (
            spark.range(lo, lo + 400)
            .withColumn("v", F.col("id") * 3)
            .repartition(4)
        )
        commit_snapshot(df, t, mode="append", stats_cols=("id",))
    v3 = snapshots(t)[-1]
    assert len(v3.files) == 12

    s = rewrite_small_files(spark, t, target_file_bytes=1 << 30)
    assert s.version == 4 and s.mode == "compact"
    assert len(s.files) == 1  # everything fits one target bin
    assert s.meta == {"compacted_files": 12, "new_files": 1}
    cur = read_snapshot(spark, t)
    assert cur.count() == 1200 and s.n_rows == 1200
    assert {r["id"] for r in cur.select("id").collect()} == set(range(1200))
    # stats re-collected for the new file (zone pruning still works)
    assert set(s.stats) == set(s.files)
    # time travel intact, then vacuum drops the 12 obsolete files
    assert read_snapshot(spark, t, version=3).count() == 1200
    removed = vacuum(t, keep_last=1)
    assert set(removed) == set(v3.files)
    assert read_snapshot(spark, t).count() == 1200

    # idempotent-ish: a second pass with one (large-enough-group) file no-ops
    s2 = rewrite_small_files(spark, t, target_file_bytes=1 << 30)
    assert s2.version == s.version


def test_rollback_restores_version_without_copying(spark, tmp_path):
    """Rollback commits the target version's file list as a NEW version:
    content equals the target exactly, no files are copied, history is
    append-only, and rolling back past vacuumed files raises."""
    from prod_data_pipeline_spark.sources.manifest import read_manifest, rollback

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 50).withColumn("v", F.col("id")), t)
    commit_snapshot(
        spark.range(0, 9).withColumn("v", F.lit(-1).cast("long")), t, mode="overwrite"
    )
    assert read_snapshot(spark, t).count() == 9

    s3 = rollback(t, 1)
    assert (s3.version, s3.mode, s3.meta) == (3, "rollback", {"rolled_back_to": 1})
    assert s3.files == read_manifest(t, 1).files  # same paths, nothing copied
    cur = read_snapshot(spark, t)
    assert cur.count() == 50
    assert cur.filter(F.col("v") < 0).count() == 0
    # the bad overwrite remains inspectable history
    assert read_snapshot(spark, t, version=2).count() == 9

    with pytest.raises(ValueError):
        rollback(t, 99)
    # vacuum keeps only the current version; v2's files are gone -> rollback
    # to v2 must refuse loudly instead of committing a broken manifest
    vacuum(t, keep_last=1)
    with pytest.raises(FileNotFoundError):
        rollback(t, 2)


def test_streaming_manifest_sink_exactly_once(spark, tmp_path):
    """The streaming sink appends each micro-batch as a manifest commit
    with the batch id recorded atomically; a replayed batch id is a
    no-op (the crash-replay path), and a real availableNow run lands the
    full input exactly once."""
    from prod_data_pipeline_spark.sources.manifest import read_manifest
    from prod_data_pipeline_spark.streaming.curate_stream import (
        streaming_manifest_sink,
    )

    src = str(tmp_path / "src")
    batch_df = spark.range(0, 120).withColumn("v", F.col("id") * 7)
    batch_df.coalesce(1).write.format("json").save(src)
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema("id long, v long").format("json").load(src)
    )
    q = streaming_manifest_sink(stream, t, ckpt, stats_cols=("id",))
    q.awaitTermination(120)
    assert read_snapshot(spark, t).count() == 120
    v = current_version(t)
    assert read_manifest(t, v).meta["last_batch_id"] == 0

    # same checkpoint, no new input: no batch fires, nothing changes
    q2 = streaming_manifest_sink(
        spark.readStream.schema("id long, v long").format("json").load(src),
        t,
        ckpt,
        stats_cols=("id",),
    )
    q2.awaitTermination(120)
    assert read_snapshot(spark, t).count() == 120
    assert current_version(t) == v  # no spurious commit

    # crash replay: structured streaming re-delivers batch 0 when the
    # crash hit AFTER the manifest commit but BEFORE the checkpoint's
    # offset commit — the per-batch transaction must be a no-op
    from prod_data_pipeline_spark.streaming.curate_stream import (
        manifest_commit_batch,
    )

    static = spark.read.schema("id long, v long").format("json").load(src)
    assert manifest_commit_batch(static, 0, t, stats_cols=("id",)) is False
    assert read_snapshot(spark, t).count() == 120
    assert current_version(t) == v
    # the NEXT batch id commits normally
    assert manifest_commit_batch(static.limit(5), 1, t, stats_cols=("id",)) is True
    assert read_snapshot(spark, t).count() == 125
    assert read_manifest(t, current_version(t)).meta["last_batch_id"] == 1


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two writers appending in parallel must BOTH commit (serialized by
    the table's commit lock, each merging against the head current at
    its publish instant) — no lost update, versions distinct, all rows
    present."""
    from concurrent.futures import ThreadPoolExecutor

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 10).withColumn("v", F.col("id")), t)

    def append(lo):
        return commit_snapshot(
            spark.range(lo, lo + 100).withColumn("v", F.col("id")), t
        )

    with ThreadPoolExecutor(2) as ex:
        s1, s2 = list(ex.map(append, [1000, 2000]))
    assert {s1.version, s2.version} == {2, 3}
    cur = read_snapshot(spark, t)
    assert cur.count() == 210
    ids = {r["id"] for r in cur.select("id").collect()}
    assert set(range(1000, 1100)) <= ids and set(range(2000, 2100)) <= ids


def test_rewriting_ops_abort_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """A delete whose prune/rewrite plan was computed against version v
    must ABORT (ConcurrentCommit) if another writer advances the table
    before it publishes — composing blindly could miss rows of the key
    that the concurrent append introduced."""
    import prod_data_pipeline_spark.sources.manifest as M

    t = str(tmp_path / "tbl")
    df = (
        spark.range(0, 200)
        .withColumn("k", F.concat(F.lit("u"), F.col("id") % 10))
        .repartition(4, "k")
    )
    commit_snapshot(df, t, bloom_cols=("k",))

    real = M._collect_file_stats
    state = {"injected": False}

    def sneaky(spark_, written, stats_cols, bloom_cols):
        out = real(spark_, written, stats_cols, bloom_cols)
        if not state["injected"]:
            state["injected"] = True  # guard against recursion via the inner commit
            M.commit_snapshot(
                spark_.range(1000, 1010).withColumn("k", F.lit("u7")), t
            )
        return out

    monkeypatch.setattr(M, "_collect_file_stats", sneaky)
    with pytest.raises(M.ConcurrentCommit):
        M.delete_where(spark, t, "k", "u7")
    # the table is untouched by the aborted delete: the concurrent append
    # is the head, and every u7 row (old and new) is still present
    cur = read_snapshot(spark, t)
    assert cur.filter(F.col("k") == "u7").count() == 20 + 10


def _stale_head_table(spark, t):
    """Two partition-clustered commits (p=1, p=2) with zone maps and
    blooms on ``k`` plus one pending MOR delete, so every rewriting
    operation below has real work to plan against the head."""
    import prod_data_pipeline_spark.sources.manifest as M

    for p in (1, 2):
        commit_snapshot(
            spark.range(p * 100, p * 100 + 100)
            .withColumn("k", F.concat(F.lit("u"), F.col("id") % 10))
            .withColumn("p", F.lit(p))
            .repartition(2),
            t,
            stats_cols=("k", "p"),
            bloom_cols=("k",),
        )
    M.delete_where_mor(t, "k", "u3")


_STALE_HEAD_OPS = {
    "delete_where": lambda M, spark, t: M.delete_where(spark, t, "k", "u7"),
    "delete_where_mor": lambda M, spark, t: M.delete_where_mor(t, "k", "u5"),
    "compact_deletes": lambda M, spark, t: M.compact_deletes(spark, t),
    "commit_replace_where": lambda M, spark, t: M.commit_replace_where(
        spark.range(0, 10)
        .withColumn("k", F.lit("u1"))
        .withColumn("p", F.lit(1)),
        t, "p", 1, stats_cols=("k",), bloom_cols=("k",),
    ),
    "rewrite_small_files": lambda M, spark, t: M.rewrite_small_files(spark, t),
    "rollback": lambda M, spark, t: M.rollback(t, 1),
}


@pytest.mark.parametrize("op", sorted(_STALE_HEAD_OPS))
def test_stale_head_aborts_every_planned_operation(spark, tmp_path, monkeypatch, op):
    """Every operation that plans against the head (prune set, rewrite
    set, drop set, rollback base) must raise ConcurrentCommit when an
    append lands between its plan and its publish, leaving that append
    as the head.  The race is injected at the publish call itself, so it
    hits each operation at the same point whatever its write phase."""
    import prod_data_pipeline_spark.sources.manifest as M

    t = str(tmp_path / "tbl")
    _stale_head_table(spark, t)

    real = M._publish
    state = {"injected": None}

    def racing_publish(*args, **kwargs):
        if state["injected"] is None:
            state["injected"] = False  # guard against recursion via the inner commit
            state["injected"] = M.commit_snapshot(
                spark.range(5000, 5010)
                .withColumn("k", F.lit("u7"))
                .withColumn("p", F.lit(3)),
                t,
            )
        return real(*args, **kwargs)

    monkeypatch.setattr(M, "_publish", racing_publish)
    with pytest.raises(M.ConcurrentCommit):
        _STALE_HEAD_OPS[op](M, spark, t)
    injected = state["injected"]
    assert injected and injected.mode == "append"
    assert current_version(t) == injected.version
    assert M.read_manifest(t, injected.version) == injected


def test_additive_schema_evolution_on_manifest_table(spark, tmp_path):
    """An append that carries a NEW column coexists with pre-evolution
    files: the read returns the union schema with NULLs for old rows;
    the read of a homogeneous version is unaffected."""
    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 30).withColumn("v", F.col("id")), t)
    commit_snapshot(
        spark.range(30, 40)
        .withColumn("v", F.col("id"))
        .withColumn("source", F.lit("crawl2")),
        t,
        mode="append",
    )
    cur = read_snapshot(spark, t)
    assert set(cur.columns) == {"id", "v", "source"}
    assert cur.count() == 40
    assert cur.filter(F.col("source").isNull()).count() == 30
    assert cur.filter(F.col("source") == "crawl2").count() == 10
    # time travel to the pre-evolution version: old schema, no phantom col
    old = read_snapshot(spark, t, version=1)
    assert set(old.columns) == {"id", "v"}


def test_clean_orphans_removes_aborted_rewrite_files(spark, tmp_path, monkeypatch):
    """The data files an aborted (ConcurrentCommit) delete prepared are
    referenced by no manifest; clean_orphans removes them after the
    grace window while leaving every referenced file — including the
    concurrent append's — untouched.  A fresh unreferenced file inside
    the grace window is presumed in-flight and survives."""
    import prod_data_pipeline_spark.sources.manifest as M

    t = str(tmp_path / "tbl")
    df = (
        spark.range(0, 200)
        .withColumn("k", F.concat(F.lit("u"), F.col("id") % 10))
        .repartition(4, "k")
    )
    commit_snapshot(df, t, bloom_cols=("k",))

    real = M._collect_file_stats
    state = {"injected": False}

    def sneaky(spark_, written, stats_cols, bloom_cols):
        out = real(spark_, written, stats_cols, bloom_cols)
        if not state["injected"]:
            state["injected"] = True
            M.commit_snapshot(spark_.range(0, 5).withColumn("k", F.lit("zz")), t)
        return out

    monkeypatch.setattr(M, "_collect_file_stats", sneaky)
    with pytest.raises(M.ConcurrentCommit):
        M.delete_where(spark, t, "k", "u7")
    monkeypatch.setattr(M, "_collect_file_stats", real)

    referenced = set()
    for s in M.snapshots(t):
        referenced.update(s.files)
    all_files = {
        os.path.join(r, n)
        for r, _, names in os.walk(os.path.join(t, "data"))
        for n in names
    }
    orphans = all_files - referenced
    assert orphans, "aborted delete should have left orphan files"

    # inside the grace window nothing is deleted (presumed in-flight)
    assert M.clean_orphans(t, older_than_s=3600) == []
    removed = M.clean_orphans(t, older_than_s=0)
    assert set(removed) == orphans
    # table unharmed: both commits fully readable
    cur = read_snapshot(spark, t)
    assert cur.count() == 205
    assert cur.filter(F.col("k") == "u7").count() == 20


def test_commit_replace_where_idempotent_partition_rerun(spark, tmp_path):
    """The reference's purge-then-rewrite daily rerun (C1), on manifest
    tables: replacing one date's content drops exactly that partition's
    files, keeps the others byte-identical, reruns converge, misrouted
    frames are rejected, and ambiguous (statless/straddling) layouts
    refuse to guess."""
    from prod_data_pipeline_spark.sources.manifest import commit_replace_where

    t = str(tmp_path / "tbl")

    def day_frame(day, lo, n):
        return (
            spark.range(lo, lo + n)
            .withColumn("day", F.lit(day))
            .withColumn("v", F.col("id"))
            .coalesce(1)
        )

    # the natural per-partition ingest: one commit per day, clustered files
    for i, day in enumerate(["2025-01-01", "2025-01-02", "2025-01-03"]):
        s1 = commit_snapshot(day_frame(day, 100 * i, 100), t, stats_cols=("day",))

    # replace day 2 with a 10-row reingest
    re2 = (
        spark.range(1000, 1010)
        .withColumn("day", F.lit("2025-01-02"))
        .withColumn("v", F.col("id"))
    )
    s2 = commit_replace_where(re2, t, "day", "2025-01-02")
    assert s2.mode == "replace_where" and s2.meta["replace_where"] == ["day", "2025-01-02"]
    cur = read_snapshot(spark, t)
    assert cur.filter(F.col("day") == "2025-01-02").count() == 10
    assert cur.filter(F.col("day") != "2025-01-02").count() == 200
    # untouched partitions' files carried over by identical path
    d1_files = set(s1.files) & set(s2.files)
    assert d1_files and all("2025-01-02" not in "" for f in d1_files)

    # IDEMPOTENT rerun: same ingest again -> same table content
    s3 = commit_replace_where(re2, t, "day", "2025-01-02")
    cur3 = read_snapshot(spark, t)
    assert cur3.count() == 210 and s3.n_rows == 210
    assert cur3.filter(F.col("day") == "2025-01-02").count() == 10
    # time travel still shows the original 100-row day 2 (v3 = all 3 days)
    assert (
        read_snapshot(spark, t, version=3)
        .filter(F.col("day") == "2025-01-02")
        .count()
        == 100
    )

    # misrouted frame (wrong day rows) is rejected before any write
    with pytest.raises(ValueError, match="outside the target partition"):
        commit_replace_where(
            spark.range(0, 5).withColumn("day", F.lit("2025-01-03")).withColumn("v", F.col("id")),
            t,
            "day",
            "2025-01-02",
        )

    # a table whose files lack day stats refuses to guess
    t2 = str(tmp_path / "tbl2")
    commit_snapshot(day_frame("2025-01-02", 0, 50), t2)  # no stats_cols
    with pytest.raises(ValueError, match="missing/straddling stats"):
        commit_replace_where(re2, t2, "day", "2025-01-02")


def test_table_lifecycle_ingest_compact_replace_rollback(spark, tmp_path):
    """The composed maintenance loop a real deployment runs: streaming
    ingest (many small files) -> partition-preserving compaction ->
    daily partition replace (must still be provable AFTER compaction)
    -> rollback of a bad replace -> vacuum.  Plain coalescing would mix
    days in one file and make replace_where refuse; partition_col
    compaction is what keeps the loop closed."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_replace_where,
        read_manifest,
        rewrite_small_files,
        rollback,
    )

    t = str(tmp_path / "tbl")
    # per-batch ingests: 2 days x 3 batches, each batch fragmented
    for b in range(3):
        for day in ("2025-02-01", "2025-02-02"):
            commit_snapshot(
                spark.range(100 * b, 100 * b + 100)
                .withColumn("day", F.lit(day))
                .withColumn("v", F.col("id"))
                .repartition(2),
                t,
                stats_cols=("day",),
            )
    assert len(read_manifest(t, current_version(t)).files) == 12

    s = rewrite_small_files(spark, t, target_file_bytes=1 << 30, partition_col="day")
    assert s.mode == "compact" and len(s.files) == 2  # one file per day
    for f in s.files:
        mn, mx = s.stats[f]["day"]
        assert mn == mx  # provably single-partition: replaceability kept
    assert read_snapshot(spark, t).count() == 600

    # the daily replace STILL WORKS on the compacted table
    re1 = (
        spark.range(0, 7)
        .withColumn("day", F.lit("2025-02-01"))
        .withColumn("v", F.lit(-1).cast("long"))
    )
    s2 = commit_replace_where(re1, t, "day", "2025-02-01")
    cur = read_snapshot(spark, t)
    assert cur.filter(F.col("day") == "2025-02-01").count() == 7
    assert cur.filter(F.col("day") == "2025-02-02").count() == 300

    # the replace was bad: roll back to the compacted version
    s3 = rollback(t, s.version)
    cur = read_snapshot(spark, t)
    assert cur.count() == 600
    assert cur.filter(F.col("v") < 0).count() == 0

    # retention: drop everything but the restored head; table still whole
    vacuum(t, keep_last=1)
    assert read_snapshot(spark, t).count() == 600
    assert s2.version < s3.version  # history stayed append-only throughout


def test_concurrent_append_stress_four_writers(spark, tmp_path):
    """Heavier race: four writers, two appends each, all eight commits
    must land with distinct versions and the full row content."""
    from concurrent.futures import ThreadPoolExecutor

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 1).withColumn("v", F.col("id")), t)

    def worker(w):
        out = []
        for j in range(2):
            lo = 10_000 * (2 * w + j + 1)
            out.append(
                commit_snapshot(
                    spark.range(lo, lo + 50).withColumn("v", F.col("id")), t
                ).version
            )
        return out

    with ThreadPoolExecutor(4) as ex:
        versions = [v for vs in ex.map(worker, range(4)) for v in vs]
    assert sorted(versions) == list(range(2, 10))
    cur = read_snapshot(spark, t)
    assert cur.count() == 1 + 8 * 50
    ids = {r["id"] for r in cur.select("id").collect()}
    for w in range(4):
        for j in range(2):
            lo = 10_000 * (2 * w + j + 1)
            assert set(range(lo, lo + 50)) <= ids


def test_batch_marker_survives_maintenance_commits(spark, tmp_path):
    """Exactly-once under composition (round-6 advisor, high): the
    last_batch_id transaction marker must survive EVERY kind of commit
    landing between a batch commit and the stream checkpoint write —
    compaction, replace_where, delete, rollback.  _publish carries the
    marker forward with per-key MAX, so a crash-replayed batch stays a
    no-op no matter what maintenance ran in between."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_replace_where,
        delete_where,
        read_manifest,
        rewrite_small_files,
        rollback,
    )
    from prod_data_pipeline_spark.streaming.curate_stream import (
        manifest_commit_batch,
    )

    t = str(tmp_path / "tbl")
    day = lambda d, a, b: (  # noqa: E731
        spark.range(a, b).withColumn("day", F.lit(d)).withColumn("v", F.col("id"))
    )
    # two streaming batches land
    assert manifest_commit_batch(day("2025-03-01", 0, 60).repartition(3), 0, t,
                                 stats_cols=("day",)) is True
    assert manifest_commit_batch(day("2025-03-02", 60, 120).repartition(3), 1, t,
                                 stats_cols=("day",)) is True

    # nightly compaction (the advertised composition) lands BETWEEN the
    # batch commit and the (crashed) checkpoint write
    s = rewrite_small_files(spark, t, target_file_bytes=1 << 30,
                            partition_col="day")
    assert s.mode == "compact"
    assert s.meta["last_batch_id"] == 1  # carried, not reset

    # crash replay of batch 1 must STILL be a no-op
    assert manifest_commit_batch(day("2025-03-02", 60, 120), 1, t,
                                 stats_cols=("day",)) is False
    assert read_snapshot(spark, t).count() == 120  # no double-append

    # replace_where, delete_where and rollback all carry it too
    s2 = commit_replace_where(day("2025-03-01", 0, 10), t, "day", "2025-03-01")
    assert s2.meta["last_batch_id"] == 1
    s3 = delete_where(spark, t, "v", 61)
    assert read_manifest(t, s3.version).meta["last_batch_id"] == 1
    s4 = rollback(t, s2.version)
    assert read_manifest(t, s4.version).meta["last_batch_id"] == 1
    assert manifest_commit_batch(day("2025-03-02", 60, 120), 1, t,
                                 stats_cols=("day",)) is False
    # the next real batch still commits and advances the marker
    assert manifest_commit_batch(day("2025-03-03", 200, 205), 2, t,
                                 stats_cols=("day",)) is True
    assert read_manifest(t, current_version(t)).meta["last_batch_id"] == 2


def test_replace_where_refuses_single_value_file_hiding_nulls(spark, tmp_path):
    """NULL soundness (round-6 advisor, medium): min/max ignore NULLs, so
    a file whose zone map reads [v, v] may still hold rows whose
    partition value is NULL — those rows are OUTSIDE the replaced
    partition and must never be dropped with it.  With null counts
    tracked, the commit refuses instead of silently deleting them."""
    from prod_data_pipeline_spark.sources.manifest import commit_replace_where

    t = str(tmp_path / "tbl")
    mixed = spark.createDataFrame(
        [(i, "2025-04-01", i) for i in range(20)]
        + [(100 + i, None, 100 + i) for i in range(5)],
        "id long, day string, v long",
    ).coalesce(1)  # ONE file: bounds [2025-04-01, 2025-04-01] + 5 NULL rows
    commit_snapshot(mixed, t, stats_cols=("day",))

    re = (
        spark.range(0, 3)
        .withColumn("day", F.lit("2025-04-01"))
        .withColumn("v", F.col("id"))
    )
    with pytest.raises(ValueError, match="NULL counts"):
        commit_replace_where(re, t, "day", "2025-04-01")
    # nothing changed; the NULL rows are intact
    assert read_snapshot(spark, t).filter(F.col("day").isNull()).count() == 5


def test_replace_where_all_null_file_keeps_and_null_partition_replaces(
    spark, tmp_path
):
    """All-NULL files (round-6 advisor, low): a file whose partition-col
    stats are [None, None] provably cannot contain a non-null target, so
    it is KEPT (not 'ambiguous forever'); and value=None replaces the
    NULL partition itself, keeping zero-null files."""
    from prod_data_pipeline_spark.sources.manifest import commit_replace_where

    t = str(tmp_path / "tbl")
    d1 = (
        spark.range(0, 30)
        .withColumn("day", F.lit("2025-04-01"))
        .withColumn("v", F.col("id"))
        .coalesce(1)
    )
    commit_snapshot(d1, t, stats_cols=("day",))
    nulls = spark.createDataFrame(
        [(1000 + i, None, 1000 + i) for i in range(8)],
        "id long, day string, v long",
    ).coalesce(1)
    commit_snapshot(nulls, t, mode="append", stats_cols=("day",))

    # replacing the real day KEEPS the all-null file untouched
    re = (
        spark.range(0, 5)
        .withColumn("day", F.lit("2025-04-01"))
        .withColumn("v", F.col("id"))
    )
    s = commit_replace_where(re, t, "day", "2025-04-01")
    cur = read_snapshot(spark, t)
    assert cur.filter(F.col("day") == "2025-04-01").count() == 5
    assert cur.filter(F.col("day").isNull()).count() == 8

    # replacing the NULL partition drops the all-null file, keeps the day
    re_null = spark.createDataFrame(
        [(2000, None, 2000)], "id long, day string, v long"
    )
    s2 = commit_replace_where(re_null, t, "day", None)
    cur2 = read_snapshot(spark, t)
    assert cur2.filter(F.col("day").isNull()).count() == 1
    assert cur2.filter(F.col("day") == "2025-04-01").count() == 5
    assert s2.version == s.version + 1


def test_publish_refuses_manifest_listing_missing_files(spark, tmp_path):
    """Publish-time existence guard (round-6 advisor, low): if an orphan
    cleanup misjudged its grace window and deleted an in-flight commit's
    prepared files, the subsequent publish must raise rather than commit
    a manifest with dangling references."""
    t = str(tmp_path / "tbl")
    s1 = commit_snapshot(spark.range(0, 50).withColumn("v", F.col("id")), t)

    # simulate the victim: a prepared file vanishes before publish —
    # an append's merged file list includes the previous version's files,
    # so deleting one of those triggers the same guard
    os.remove(s1.files[0])
    with pytest.raises(FileNotFoundError, match="refusing to publish"):
        commit_snapshot(
            spark.range(50, 60).withColumn("v", F.col("id")), t, mode="append"
        )
    # the table pointer never moved
    assert current_version(t) == s1.version


def test_multi_writer_full_op_matrix_serializes(spark, tmp_path):
    """Round-6 verdict directive #7: the FULL op matrix racing under
    thread pressure — appends + compaction + replace_where + rollback,
    4 writers — must serialize.  After the dust settles, every committed
    version is replayed and checked against its predecessor with the
    op's own transition invariant (append adds exactly its payload,
    compact preserves the multiset, replace_where swaps exactly one
    partition, rollback reproduces its target), every manifest's
    recorded n_rows matches an actual read, and every listed file
    exists.  Any lost update, ordering bug, or torn commit surfaces as
    a multiset diff on some version transition."""
    import time as _time
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    from prod_data_pipeline_spark.sources.manifest import (
        ConcurrentCommit,
        commit_replace_where,
        compact_deletes,
        delete_where_mor,
        read_manifest,
        rewrite_small_files,
        rollback,
    )

    t = str(tmp_path / "tbl")

    def day_frame(d, lo, n):
        return (
            spark.range(lo, lo + n)
            .withColumn("day", F.lit(d))
            .withColumn("v", F.col("id") * 2)
            .coalesce(1)
        )

    seed = day_frame("2025-05-01", 0, 30)
    commit_snapshot(seed, t, stats_cols=("day",))

    append_payloads: dict[int, tuple[str, int, int]] = {}
    replace_payloads: dict[int, tuple[str, int, int]] = {}
    mor_payloads: dict[int, int] = {}

    def appender(w):
        d = f"2025-05-0{w + 2}"
        for j in range(3):
            lo = 100_000 * (10 * w + j + 1)
            s = commit_snapshot(
                day_frame(d, lo, 20), t, mode="append", stats_cols=("day",)
            )
            append_payloads[s.version] = (d, lo, 20)

    def compactor():
        for _ in range(4):
            try:
                rewrite_small_files(
                    spark, t, target_file_bytes=1 << 30, partition_col="day"
                )
            except ConcurrentCommit:
                pass
            _time.sleep(0.05)

    def replacer():
        for j in range(3):
            lo = 7_000_000 + 100 * j
            for _ in range(12):  # bounded retry under contention
                try:
                    s = commit_replace_where(
                        day_frame("2025-05-01", lo, 10), t, "day", "2025-05-01"
                    )
                    replace_payloads[s.version] = ("2025-05-01", lo, 10)
                    break
                except ConcurrentCommit:
                    _time.sleep(0.02)

    def mor_deleter():
        # ids from the seed partition; the replacer may wipe them first, in
        # which case the delete is a logical no-op — the transition
        # invariant (cur == prev minus matching rows) holds either way
        for did in (3, 11, 17):
            for _ in range(12):
                try:
                    s2 = delete_where_mor(t, "id", did)
                    if s2.mode == "mor-delete":  # a real entry landed
                        mor_payloads[s2.version] = did
                    break
                except ConcurrentCommit:
                    _time.sleep(0.02)
            _time.sleep(0.03)

    def delete_compactor():
        for _ in range(2):
            _time.sleep(0.1)
            for _ in range(12):
                try:
                    compact_deletes(spark, t)
                    break
                except ConcurrentCommit:
                    _time.sleep(0.02)

    def rollbacker():
        for _ in range(2):
            for _ in range(12):
                try:
                    rollback(t, current_version(t))
                    break
                except ConcurrentCommit:
                    _time.sleep(0.02)
            _time.sleep(0.05)

    with ThreadPoolExecutor(7) as ex:
        futs = [
            ex.submit(appender, 0),
            ex.submit(appender, 1),
            ex.submit(compactor),
            ex.submit(replacer),
            ex.submit(rollbacker),
            ex.submit(mor_deleter),
            ex.submit(delete_compactor),
        ]
        for f in futs:
            f.result()  # surface worker exceptions

    def multiset(version):
        df = read_snapshot(spark, t, version=version)
        return Counter(
            (r["id"], r["day"], r["v"]) for r in df.select("id", "day", "v").collect()
        )

    def payload_multiset(d, lo, n):
        return Counter((i, d, i * 2) for i in range(lo, lo + n))

    head = current_version(t)
    assert head >= 1 + 6 + 3 + 2  # appends, replaces and rollbacks all landed
    assert multiset(1) == payload_multiset("2025-05-01", 0, 30)
    for ver in range(1, head + 1):
        m = read_manifest(t, ver)
        for f in m.files:
            assert os.path.exists(f), f"v{ver} lists a missing file"
        cur = multiset(ver)
        if m.deletes:
            # MOR entries pending: n_rows is the PHYSICAL count, hidden
            # rows still occupy files until a compaction folds them in
            assert sum(cur.values()) <= m.n_rows, f"v{ver} logical > physical"
        else:
            assert sum(cur.values()) == m.n_rows, f"v{ver} n_rows drifted"
        if ver == 1:
            continue
        prev = multiset(ver - 1)
        if m.mode == "append":
            d, lo, n = append_payloads[ver]
            assert cur == prev + payload_multiset(d, lo, n), f"v{ver} append"
        elif m.mode == "compact":
            assert cur == prev, f"v{ver} compaction changed rows"
        elif m.mode == "replace_where":
            d, lo, n = replace_payloads[ver]
            in_d = Counter({k: c for k, c in cur.items() if k[1] == d})
            out_d = Counter({k: c for k, c in cur.items() if k[1] != d})
            prev_out = Counter({k: c for k, c in prev.items() if k[1] != d})
            assert in_d == payload_multiset(d, lo, n), f"v{ver} replaced content"
            assert out_d == prev_out, f"v{ver} touched other partitions"
        elif m.mode == "rollback":
            assert cur == multiset(m.meta["rolled_back_to"]), f"v{ver} rollback"
        elif m.mode == "mor-delete":
            did = mor_payloads[ver]
            expect = Counter({k: c for k, c in prev.items() if k[0] != did})
            assert cur == expect, f"v{ver} MOR delete"
        elif m.mode == "merge-deletes":
            assert cur == prev, f"v{ver} delete compaction changed rows"
            assert not m.deletes, f"v{ver} entries survived the merge"
        else:
            raise AssertionError(f"unexpected mode {m.mode} at v{ver}")

    # deterministic post-race rollback to an OLDER version reconciles too
    target = head - 3
    s = rollback(t, target)
    assert multiset(s.version) == multiset(target)


def test_generalized_txn_map_carries_per_key_max(spark, tmp_path):
    """The generalized txn marker map (meta['txn'], the Delta
    appId->version idiom for MULTIPLE writers) merges per-key MAX across
    commits: an old replayed marker can never regress a newer one, and
    commits without any txn meta still carry the map forward."""
    from prod_data_pipeline_spark.sources.manifest import read_manifest

    t = str(tmp_path / "tbl")
    df = lambda lo: spark.range(lo, lo + 5).withColumn("v", F.col("id"))  # noqa: E731
    commit_snapshot(df(0), t, meta={"txn": {"appA": 5}})
    s2 = commit_snapshot(df(10), t, mode="append")  # no txn meta at all
    assert read_manifest(t, s2.version).meta["txn"] == {"appA": 5}
    # stale appA marker (3 < 5) must NOT regress; appB merges in
    s3 = commit_snapshot(df(20), t, mode="append", meta={"txn": {"appA": 3, "appB": 1}})
    assert read_manifest(t, s3.version).meta["txn"] == {"appA": 5, "appB": 1}
    s4 = commit_snapshot(df(30), t, mode="overwrite", meta={"txn": {"appB": 2}})
    assert read_manifest(t, s4.version).meta["txn"] == {"appA": 5, "appB": 2}


# --- merge-on-read equality deletes (round 12) ------------------------------


def _mor_table(spark, tmp_path, name="mor"):
    """3 commits of 10 rows each, user_id bloom+stats tracked so pruning
    scopes MOR deletes to the files that may hold the key."""
    from prod_data_pipeline_spark.sources.manifest import commit_snapshot

    t = str(tmp_path / name)
    for lo in (0, 10, 20):
        df = (
            spark.range(lo, lo + 10)
            .withColumn("user_id", F.col("id"))
            .withColumn("v", F.col("id") * 2)
            .coalesce(1)
        )
        commit_snapshot(
            df, t, mode="append", stats_cols=("user_id",), bloom_cols=("user_id",)
        )
    return t


def test_mor_delete_hides_rows_without_touching_files(spark, tmp_path):
    from prod_data_pipeline_spark.sources.manifest import (
        delete_where_mor,
        read_manifest,
        read_snapshot,
    )

    t = _mor_table(spark, tmp_path)
    before = read_manifest(t, 3)
    s = delete_where_mor(t, "user_id", 15)
    assert s.version == 4
    # zero data movement: identical file list, physical row count unchanged
    assert s.files == before.files
    assert s.n_rows == before.n_rows
    assert len(s.deletes) == 1
    (entry,) = s.deletes.values()
    # pruning scoped the entry to the one file that may hold user_id=15
    assert len(entry["applies_to"]) == 1
    # the delete is immediately invisible to readers
    got = read_snapshot(spark, t)
    assert got.count() == 29
    assert got.filter(F.col("user_id") == 15).count() == 0
    # time travel to the pre-delete version still shows the row
    assert read_snapshot(spark, t, version=3).filter(
        F.col("user_id") == 15
    ).count() == 1


def test_mor_delete_sequencing_reinserted_key_survives(spark, tmp_path):
    """The Iceberg sequence semantics: a key appended AFTER the delete is
    outside every applies_to and stays visible, while the old rows stay
    hidden."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        delete_where_mor,
        read_snapshot,
    )

    t = _mor_table(spark, tmp_path)
    delete_where_mor(t, "user_id", 7)
    assert read_snapshot(spark, t).filter(F.col("user_id") == 7).count() == 0
    # re-insert the key (new file, new version)
    df = (
        spark.range(7, 8)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.lit(999).cast("long"))
        .coalesce(1)
    )
    commit_snapshot(
        df, t, mode="append", stats_cols=("user_id",), bloom_cols=("user_id",)
    )
    got = read_snapshot(spark, t).filter(F.col("user_id") == 7).collect()
    assert [r.v for r in got] == [999]  # new row visible, old row hidden


def test_mor_delete_noop_when_pruning_proves_absence(spark, tmp_path):
    from prod_data_pipeline_spark.sources.manifest import delete_where_mor

    t = _mor_table(spark, tmp_path)
    s = delete_where_mor(t, "user_id", 9999)
    assert s.version == 3  # no version bump, no entry
    assert not (s.deletes or {})


def test_cow_delete_noop_when_pruning_proves_absence(spark, tmp_path):
    """A copy-on-write delete of a value the bloom/zone indexes prove
    absent from every file publishes nothing, as the MOR delete: the head
    version and every file under the table directory stay as they were."""
    from prod_data_pipeline_spark.sources.manifest import (
        current_version,
        delete_where,
    )

    t = str(tmp_path / "noop")
    commit_snapshot(
        spark.range(0, 10).withColumn("k", F.col("id")).coalesce(1),
        t,
        stats_cols=("k",),
        bloom_cols=("k",),
    )

    def listing():
        return sorted(
            os.path.join(d, f) for d, _, files in os.walk(t) for f in files
        )

    before = listing()
    s = delete_where(spark, t, "k", 999)
    assert s.version == 1 and current_version(t) == 1
    assert listing() == before


def test_compact_deletes_folds_entries_and_preserves_content(spark, tmp_path):
    from prod_data_pipeline_spark.sources.manifest import (
        compact_deletes,
        delete_where_mor,
        read_snapshot,
    )

    t = _mor_table(spark, tmp_path)
    delete_where_mor(t, "user_id", 3)
    delete_where_mor(t, "user_id", 25)
    logical = sorted(r.user_id for r in read_snapshot(spark, t).collect())
    s = compact_deletes(spark, t)
    assert not (s.deletes or {})
    assert s.n_rows == 28  # physical == logical after the merge
    after = sorted(r.user_id for r in read_snapshot(spark, t).collect())
    assert after == logical
    # idempotent: nothing pending -> no version bump
    assert compact_deletes(spark, t).version == s.version
    # prior versions keep MOR semantics via time travel
    assert read_snapshot(spark, t, version=5).count() == 28
    assert read_snapshot(spark, t, version=3).count() == 30


def test_binpack_compaction_folds_pending_mor_deletes(spark, tmp_path):
    """rewrite_small_files must not resurrect hidden rows: pending entries
    fold into the packed files and drop from the manifest."""
    from prod_data_pipeline_spark.sources.manifest import (
        delete_where_mor,
        read_manifest,
        read_snapshot,
        rewrite_small_files,
    )

    t = _mor_table(spark, tmp_path)
    delete_where_mor(t, "user_id", 12)
    s = rewrite_small_files(spark, t)  # everything is tiny: full pack
    assert s.mode == "compact"
    assert not (s.deletes or {})
    assert s.n_rows == 29
    got = read_snapshot(spark, t)
    assert got.count() == 29
    assert got.filter(F.col("user_id") == 12).count() == 0


def test_cow_delete_folds_pending_mor_on_shared_files(spark, tmp_path):
    """A copy-on-write delete whose rewrite set overlaps a pending MOR
    entry applies BOTH predicates — the rewritten file cannot resurrect
    the MOR-hidden rows."""
    from prod_data_pipeline_spark.sources.manifest import (
        delete_where,
        delete_where_mor,
        read_snapshot,
    )

    t = _mor_table(spark, tmp_path)
    delete_where_mor(t, "user_id", 11)  # same file as 12 (10..19)
    s = delete_where(spark, t, "user_id", 12)  # COW rewrite of that file
    got = read_snapshot(spark, t)
    assert got.count() == 28
    assert got.filter(F.col("user_id").isin(11, 12)).count() == 0
    # the MOR entry's only scoped file was rewritten -> entry dropped
    assert not (s.deletes or {})


def test_mor_delete_null_safety_and_value_type_guard(spark, tmp_path):
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        delete_where_mor,
        read_snapshot,
    )

    t = str(tmp_path / "mor_null")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 5)], "id long, user_id long"
    ).coalesce(1)
    commit_snapshot(df, t, stats_cols=("user_id",))
    delete_where_mor(t, "user_id", 5)
    got = read_snapshot(spark, t).collect()
    # NULL rows survive a value delete (null-safe equality)
    assert sorted(r.id for r in got) == [2]
    import pytest as _pytest

    with _pytest.raises(TypeError):
        delete_where_mor(t, "user_id", object())


def test_rewrite_paths_never_destroy_reinserted_keys(spark, tmp_path):
    """THE sequencing hazard of folding pending MOR deletes into rewrites
    (caught in round-12 review): a key re-inserted AFTER the delete lives
    in a file outside the entry's applies_to, and a union-wide filter in
    any rewrite path would silently destroy it.  Both compaction flavors
    and the COW delete must apply entries scoped per file."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        compact_deletes,
        delete_where,
        delete_where_mor,
        read_snapshot,
        rewrite_small_files,
    )

    def reinsert(t, uid, v):
        df = (
            spark.range(uid, uid + 1)
            .withColumn("user_id", F.col("id"))
            .withColumn("v", F.lit(v).cast("long"))
            .coalesce(1)
        )
        commit_snapshot(
            df, t, mode="append", stats_cols=("user_id",), bloom_cols=("user_id",)
        )

    # bin-pack compaction
    t = _mor_table(spark, tmp_path, "seq_binpack")
    delete_where_mor(t, "user_id", 11)
    reinsert(t, 11, 901)
    rewrite_small_files(spark, t)  # packs ALL files incl. the re-insert
    got = read_snapshot(spark, t).filter(F.col("user_id") == 11).collect()
    assert [r.v for r in got] == [901], "bin-pack destroyed the re-inserted key"

    # dedicated delete compaction
    t = _mor_table(spark, tmp_path, "seq_merge")
    delete_where_mor(t, "user_id", 11)
    reinsert(t, 11, 902)
    # second entry scoping the re-inserted file: its rewrite set now spans
    # a file the FIRST entry must not touch
    delete_where_mor(t, "user_id", 12)
    s = compact_deletes(spark, t)
    assert not (s.deletes or {})
    got = read_snapshot(spark, t).filter(F.col("user_id").isin(11, 12)).collect()
    assert [(r.user_id, r.v) for r in got] == [(11, 902)]

    # copy-on-write delete overlapping the scoped file
    t = _mor_table(spark, tmp_path, "seq_cow")
    delete_where_mor(t, "user_id", 11)
    reinsert(t, 11, 903)
    delete_where(spark, t, "user_id", 12)  # rewrites the 10..19 file
    got = read_snapshot(spark, t).filter(F.col("user_id").isin(11, 12)).collect()
    assert [(r.user_id, r.v) for r in got] == [(11, 903)]


def test_mor_delete_rejects_null_value(spark, tmp_path):
    """value=None would hide every NULL-keyed row via eqNullSafe — the
    exact opposite of the family's null-safe contract — so it refuses."""
    import pytest as _pytest

    from prod_data_pipeline_spark.sources.manifest import delete_where_mor

    t = _mor_table(spark, tmp_path, "mor_nullval")
    with _pytest.raises(TypeError):
        delete_where_mor(t, "user_id", None)


def test_binpack_survives_fully_hidden_small_set(spark, tmp_path):
    """All rows of every small file hidden by pending MOR deletes: the
    partitioned bin-pack writes ZERO files and must still commit cleanly
    (empty-write guard), dropping the now-scopeless entry."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        delete_where_mor,
        read_snapshot,
        rewrite_small_files,
    )

    t = str(tmp_path / "hidden_small")
    big = (
        spark.range(0, 2000)
        .withColumn("user_id", F.col("id"))
        .withColumn("day", F.lit("2025-06-01"))
        .coalesce(1)
    )
    commit_snapshot(big, t, stats_cols=("user_id", "day"))
    for _ in range(2):
        tiny = (
            spark.range(0, 5)
            .withColumn("user_id", F.lit(99999).cast("long"))
            .withColumn("day", F.lit("2025-06-02"))
            .coalesce(1)
        )
        commit_snapshot(tiny, t, mode="append", stats_cols=("user_id", "day"))
    delete_where_mor(t, "user_id", 99999)  # scopes ONLY the tiny files
    big_file_bytes = max(
        os.path.getsize(f)
        for f in __import__(
            "prod_data_pipeline_spark.sources.manifest", fromlist=["read_manifest"]
        ).read_manifest(t, 4).files
    )
    s = rewrite_small_files(
        spark, t, target_file_bytes=big_file_bytes, partition_col="day"
    )
    assert s.mode == "compact"
    assert not (s.deletes or {})
    assert s.n_rows == 2000
    assert read_snapshot(spark, t).count() == 2000


def test_zone_prune_type_mismatched_probe_keeps_files(spark, tmp_path):
    """r12-advisory: a probe whose Python type doesn't order against the
    stored bounds (str "15" vs int stats) degrades to unpruned instead of
    raising TypeError from the zone comparison."""
    from prod_data_pipeline_spark.sources.manifest import (
        prune_files,
        prune_files_eq,
        read_manifest,
    )

    t = _mor_table(spark, tmp_path)
    snap = read_manifest(t, 3)
    # zone map alone: unorderable probe keeps every file (sound, unpruned)
    assert prune_files(snap, "user_id", "15", "15") == list(snap.files)
    # the equality path still prunes via the BLOOM (hashes the rendered
    # string, identical for 15 and "15"): no crash, and the intersection
    # recovers the same single-file scope the int probe yields
    assert prune_files_eq(snap, "user_id", "15") == prune_files_eq(
        snap, "user_id", 15
    )


def test_replace_where_type_mismatched_value_fails_clean(spark, tmp_path):
    """The straddle comparison in commit_replace_where treats an
    unorderable probe as ambiguous -> the documented ValueError, not an
    uncaught TypeError."""
    from prod_data_pipeline_spark.sources.manifest import commit_replace_where

    t = _mor_table(spark, tmp_path)
    df = (
        spark.range(0, 1)
        .withColumn("user_id", F.lit("x"))
        .withColumn("v", F.lit(0).cast("long"))
    )
    with pytest.raises(ValueError, match="straddling|outside the target"):
        commit_replace_where(df, t, "user_id", "x", stats_cols=("user_id",))


def test_mor_delete_on_schema_evolved_column(spark, tmp_path):
    """r12-advisory: files written BEFORE a column existed carry no
    stats/bloom for it, so pruning keeps them in the delete's scope; the
    grouped read must not throw unresolved-column on those groups.  A
    non-NULL delete value provably matches nothing there (the column
    reads all-NULL), so the filter is skipped; rows in post-evolution
    files still hide."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        delete_where_mor,
        read_snapshot,
    )

    t = _mor_table(spark, tmp_path)  # 30 rows, no "tier" column
    evolved = (
        spark.range(100, 110)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", (F.col("id") % 2).cast("long"))
        .coalesce(1)
    )
    commit_snapshot(
        evolved, t, mode="append", stats_cols=("tier",), bloom_cols=("tier",)
    )
    s = delete_where_mor(t, "tier", 1)
    (entry,) = s.deletes.values()
    # the pre-evolution files have no stats for "tier": pruning keeps them
    assert len(entry["applies_to"]) > 1
    got = read_snapshot(spark, t)
    assert got.count() == 30 + 5  # old rows intact, tier=1 rows hidden
    assert got.filter(F.col("tier") == 1).count() == 0
    assert got.filter(F.col("tier").isNull()).count() == 30


def test_mor_delete_mixed_schema_group_never_resurrects(spark, tmp_path):
    """A delete entry scoping BOTH pre- and post-evolution files puts them
    in ONE read group; schema sampling without mergeSchema may pick an
    old footer and hide the column the new files carry.  The grouped read
    must merge the group's footers before deciding the column is absent —
    otherwise compaction (plain spark.read) would skip the filter and
    RESURRECT deleted rows into the rewritten files."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        compact_deletes,
        delete_where_mor,
        read_snapshot,
    )

    t = _mor_table(spark, tmp_path)  # 30 rows across 3 files, no "tier"
    evolved = (
        spark.range(100, 110)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", (F.col("id") % 2).cast("long"))
        .coalesce(1)
    )
    commit_snapshot(
        evolved, t, mode="append", stats_cols=("tier",), bloom_cols=("tier",)
    )
    delete_where_mor(t, "tier", 1)  # scopes old files too (no stats)
    # compaction reads the mixed group with a PLAIN reader and rewrites:
    # the 5 tier=1 rows must stay gone afterwards, the other 35 survive
    s = compact_deletes(spark, t)
    assert not (s.deletes or {})
    assert s.n_rows == 35
    got = read_snapshot(spark, t)
    assert got.count() == 35
    assert got.filter(F.col("tier") == 1).count() == 0
    assert got.filter(F.col("tier") == 0).count() == 5
    assert got.filter(F.col("tier").isNull()).count() == 30


def test_mixed_width_groups_union_and_binpack(spark, tmp_path):
    """Review finding (r13): a schema-evolved MOR delete promotes exactly
    the groups it scopes to the merged (wider) schema; an unscoped
    old-schema group then has fewer columns, and the final union — and
    bin-pack compaction, which has no merge knob — must widen instead of
    crashing NUM_COLUMNS_MISMATCH."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        delete_where_mor,
        read_snapshot,
        rewrite_small_files,
    )

    t = _mor_table(spark, tmp_path)  # 30 old-schema rows
    evolved = (
        spark.range(100, 110)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", (F.col("id") % 2).cast("long"))
        .coalesce(1)
    )
    commit_snapshot(
        evolved, t, mode="append", stats_cols=("tier",), bloom_cols=("tier",)
    )
    delete_where_mor(t, "tier", 1)  # scopes every existing file
    # append one MORE old-schema file AFTER the delete: outside every
    # applies_to -> its group keeps the narrow sampled schema
    late = (
        spark.range(200, 205)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.col("id") * 2)
        .coalesce(1)
    )
    commit_snapshot(late, t, mode="append", stats_cols=("user_id",))
    # default (non-merged) read crosses the mixed-width groups
    got = read_snapshot(spark, t)
    assert got.count() == 30 + 5 + 5
    assert got.filter(F.col("user_id") >= 200).count() == 5
    # bin-pack folds the pending delete across the mixed-width groups
    s = rewrite_small_files(spark, t, target_file_bytes=1 << 20)
    assert s.n_rows == 40
    final = read_snapshot(spark, t)
    assert final.count() == 40
    assert final.filter(F.col("tier") == 1).count() == 0


def test_cow_delete_on_schema_evolved_column(spark, tmp_path):
    """Review finding (r13): copy-on-write delete_where on an evolved
    column kept crashing UNRESOLVED_COLUMN whenever the plain read
    sampled a pre-evolution footer (nondeterministic by uuid dir
    order).  The rewrite read now merges footers like the MOR path."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        delete_where,
        read_snapshot,
    )

    t = _mor_table(spark, tmp_path)
    evolved = (
        spark.range(100, 110)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", (F.col("id") % 2).cast("long"))
        .coalesce(1)
    )
    commit_snapshot(
        evolved, t, mode="append", stats_cols=("tier",), bloom_cols=("tier",)
    )
    s = delete_where(spark, t, "tier", 1)
    assert not (s.deletes or {})
    got = read_snapshot(spark, t)
    assert got.count() == 35
    assert got.filter(F.col("tier") == 1).count() == 0
    assert got.filter(F.col("tier").isNull()).count() == 30


def test_binpack_never_drops_evolved_column(spark, tmp_path):
    """Rewrites must read with merged footers even with NO pending
    deletes: bin-packing an evolved table off a sampled pre-evolution
    footer would silently DROP the evolved column's data from the
    rewritten files (reads may project; rewrites must not lose
    columns)."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        read_snapshot,
        rewrite_small_files,
    )

    t = _mor_table(spark, tmp_path)  # 3 small old-schema files
    evolved = (
        spark.range(100, 110)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", (F.col("id") % 2).cast("long"))
        .coalesce(1)
    )
    commit_snapshot(
        evolved, t, mode="append", stats_cols=("tier",), bloom_cols=("tier",)
    )
    s = rewrite_small_files(spark, t, target_file_bytes=1 << 20)
    assert s.mode == "compact"
    got = read_snapshot(spark, t)
    assert got.count() == 40
    # the evolved column's data survived the rewrite
    assert "tier" in got.columns
    assert got.filter(F.col("tier") == 1).count() == 5
    assert got.filter(F.col("tier") == 0).count() == 5


def test_authoritative_schema_recorded_and_stable_across_mor_state(spark, tmp_path):
    """r13 advisory: a default read's width must be a MANIFEST fact, not a
    function of footer sampling plus pending-delete scoping.  Before this,
    a schema-evolved MOR delete widened exactly the scoped groups, so the
    same table could expose `tier` before compaction and hide it after."""
    from prod_data_pipeline_spark.sources.manifest import (
        compact_deletes,
        delete_where_mor,
        read_manifest,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(0, 30).withColumn("v", F.col("id") * 2).coalesce(3)
    commit_snapshot(base, t, mode="append", stats_cols=("id",))
    evolved = (
        spark.range(100, 110)
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", (F.col("id") % 2).cast("long"))
        .coalesce(1)
    )
    s2 = commit_snapshot(evolved, t, mode="append", stats_cols=("tier",))
    assert [f["name"] for f in s2.schema["fields"]] == ["id", "v", "tier"]

    # DEFAULT read: full recorded width already
    cols_before = read_snapshot(spark, t).columns
    delete_where_mor(t, "tier", 1)
    cols_pending = read_snapshot(spark, t).columns
    compact_deletes(spark, t)
    cols_after = read_snapshot(spark, t).columns
    assert cols_before == cols_pending == cols_after == ["id", "v", "tier"]
    # the compaction carried the schema forward in the manifest itself
    v = current_version(t)
    assert read_manifest(t, v).schema == s2.schema
    # pre-evolution rows read the evolved column as NULL on a default read
    got = read_snapshot(spark, t)
    assert got.filter(F.col("tier").isNull()).count() == 30
    assert got.filter(F.col("tier") == 1).count() == 0


def test_schema_evolution_is_additive_only(spark, tmp_path):
    """A same-name type conflict is a corrupt evolution: fail at commit
    time, not as a read-side cast surprise."""
    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 5).withColumn("v", F.col("id") * 2), t)
    bad = spark.range(5, 8).withColumn("v", F.lit("s"))
    with pytest.raises(ValueError, match="additive-only"):
        commit_snapshot(bad, t, mode="append")


@pytest.mark.parametrize("field", ["schema", "file_rows"])
def test_manifest_missing_schema_or_file_rows_is_rejected(spark, tmp_path, field):
    """Every version records its schema and per-file row counts; a
    manifest without either is refused by name (table, version, field)
    on read, on the next commit and on history, never guessed from
    footers or recounted."""
    import json

    from prod_data_pipeline_spark.sources.manifest import read_manifest

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 10).withColumn("v", F.col("id") * 2), t)
    mpath = str(tmp_path / "tbl" / "manifests" / "v1.json")
    with open(mpath) as f:
        m = json.load(f)
    del m[field]
    with open(mpath, "w") as f:
        json.dump(m, f)

    msg = re.escape(f"manifest v1 of {t} has no '{field}' field")
    with pytest.raises(ValueError, match=msg):
        read_manifest(t, 1)
    with pytest.raises(ValueError, match=msg):
        read_snapshot(spark, t)
    with pytest.raises(ValueError, match=msg):
        snapshots(t)
    with pytest.raises(ValueError, match=msg):
        commit_snapshot(spark.range(10, 15).withColumn("v", F.col("id")), t)
    assert current_version(t) == 1


def test_rollback_restores_schema_with_files(spark, tmp_path):
    from prod_data_pipeline_spark.sources.manifest import rollback

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 5).withColumn("v", F.col("id")), t)
    commit_snapshot(
        spark.range(5, 8)
        .withColumn("v", F.col("id"))
        .withColumn("extra", F.lit(1).cast("long")),
        t,
        mode="append",
    )
    assert read_snapshot(spark, t).columns == ["id", "v", "extra"]
    s3 = rollback(t, 1)
    assert [f["name"] for f in s3.schema["fields"]] == ["id", "v"]
    assert read_snapshot(spark, t).columns == ["id", "v"]


def test_narrow_append_on_schema_recorded_table(spark, tmp_path):
    """Appending a frame MISSING a recorded column keeps the table's full
    width (the union schema never narrows); the narrow commit's rows read
    the absent column as NULL on a default read."""
    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark.range(0, 10)
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", F.lit(7).cast("long")),
        t,
    )
    s2 = commit_snapshot(
        spark.range(10, 14).withColumn("v", F.lit(0).cast("long")), t, mode="append"
    )
    assert [f["name"] for f in s2.schema["fields"]] == ["id", "v", "tier"]
    got = read_snapshot(spark, t)
    assert got.columns == ["id", "v", "tier"]
    assert got.filter(F.col("tier").isNull()).count() == 4
    assert got.filter(F.col("tier") == 7).count() == 10


def test_replace_where_evolves_schema_additively(spark, tmp_path):
    """A partition replacement whose frame carries a NEW column widens the
    recorded schema; kept files from other partitions read it as NULL."""
    from prod_data_pipeline_spark.sources.manifest import commit_replace_where

    t = str(tmp_path / "tbl")
    for day in (0, 1):
        frame = (
            spark.range(day * 10, day * 10 + 10)
            .withColumn("day", F.lit(day).cast("long"))
            .withColumn("v", F.col("id") * 2)
            .coalesce(1)
        )
        commit_snapshot(frame, t, mode="append", stats_cols=("day",))
    repl = (
        spark.range(100, 105)
        .withColumn("day", F.lit(1).cast("long"))
        .withColumn("v", F.col("id"))
        .withColumn("flag", F.lit(True))
        .coalesce(1)
    )
    s2 = commit_replace_where(repl, t, "day", 1, stats_cols=("day",))
    assert [f["name"] for f in s2.schema["fields"]] == ["id", "day", "v", "flag"]
    got = read_snapshot(spark, t)
    assert got.columns == ["id", "day", "v", "flag"]
    assert got.filter(F.col("day") == 1).count() == 5
    assert got.filter((F.col("day") == 0) & F.col("flag").isNull()).count() == 10
    assert got.filter(F.col("flag")).count() == 5


def test_delete_on_unknown_column_fails_fast(spark, tmp_path):
    """With a recorded schema, a delete targeting a column the table does
    not have raises instead of silently no-opping (non-NULL value) or —
    the dangerous case — reading the phantom column as all-NULL and
    deleting every row in the rewrite set (delete_where(col, None))."""
    from prod_data_pipeline_spark.sources.manifest import (
        delete_where,
        delete_where_mor,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(0, 10).withColumn("v", F.col("id") * 2), t)
    with pytest.raises(ValueError, match="not in the table schema"):
        delete_where(spark, t, "no_such_col", None)
    with pytest.raises(ValueError, match="not in the table schema"):
        delete_where_mor(t, "no_such_col", 1)
    assert read_snapshot(spark, t).count() == 10


def test_append_after_full_delete_keeps_recorded_schema(spark, tmp_path):
    """Deleting EVERY row leaves a version with schema recorded but zero
    files; a later narrower/conflicting append must keep evolving against
    the recorded schema, not silently reset the width or skip the
    additive-only type check (r14 advisory #2)."""
    from prod_data_pipeline_spark.sources.manifest import delete_where

    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark.range(0, 10)
        .withColumn("v", F.col("id") * 2)
        .withColumn("tier", F.lit(1).cast("long")),
        t,
    )
    s2 = delete_where(spark, t, "tier", 1)  # COW: every row shares tier=1
    assert s2.files == [] or read_snapshot(spark, t).count() == 0
    assert [f["name"] for f in s2.schema["fields"]] == ["id", "v", "tier"]

    # narrower append: the recorded union must keep every column
    s3 = commit_snapshot(spark.range(20, 25), t, mode="append")
    assert [f["name"] for f in s3.schema["fields"]] == ["id", "v", "tier"]
    got = read_snapshot(spark, t)
    assert got.columns == ["id", "v", "tier"]
    assert got.count() == 5 and got.filter(F.col("v").isNull()).count() == 5

    # type conflict against the carried schema still fails fast
    with pytest.raises(ValueError, match="additive-only"):
        commit_snapshot(
            spark.range(30, 32).withColumn("v", F.lit("s")), t, mode="append"
        )


def test_returned_snapshot_equals_stored_manifest(spark, tmp_path):
    """Every commit path returns exactly the record it wrote: the
    Snapshot handed back by the operation equals ``read_manifest`` of
    its version, field for field (meta carry-forward, schema, indexes
    and delete entries included)."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_replace_where,
        compact_deletes,
        delete_where,
        delete_where_mor,
        read_manifest,
        rewrite_small_files,
        rollback,
    )

    t = str(tmp_path / "tbl")

    def part(lo, p, keys):
        return (
            spark.range(lo, lo + 50)
            .withColumn("k", F.concat(F.lit("u"), F.col("id") % 5 + keys))
            .withColumn("p", F.lit(p))
            .coalesce(1)
        )

    indexes = dict(stats_cols=("k", "p"), bloom_cols=("k",))
    steps = [
        lambda: commit_snapshot(
            part(0, 1, 0), t, **indexes,
            meta={"last_batch_id": 0, "txn": {"app": 3}},
        ),
        # an append carrying a new column
        lambda: commit_snapshot(
            part(100, 2, 5).withColumn("extra", F.lit("x")), t, **indexes
        ),
        # an append of no rows: its part file records 0 rows
        lambda: commit_snapshot(part(300, 3, 0).limit(0), t, **indexes),
        lambda: delete_where_mor(t, "k", "u7"),
        lambda: delete_where(spark, t, "k", "u2"),
        lambda: commit_replace_where(part(200, 1, 0), t, "p", 1, **indexes),
        lambda: rewrite_small_files(spark, t, partition_col="p"),
        lambda: delete_where_mor(t, "k", "u8"),
        lambda: compact_deletes(spark, t),
        lambda: rollback(t, 2),
    ]
    modes = []
    n_empty_files = 0
    for step in steps:
        s = step()
        modes.append(s.mode)
        assert read_manifest(t, s.version) == s, s.mode
        # the recorded per-file row counts are the files' physical counts
        # (zero-row files included) and n_rows is their sum
        assert sorted(s.file_rows) == sorted(s.files), s.mode
        for f in s.files:
            assert s.file_rows[f] == spark.read.parquet(f).count(), (s.mode, f)
            n_empty_files += s.file_rows[f] == 0
        assert s.n_rows == sum(s.file_rows.values()), s.mode
    assert modes == [
        "append", "append", "append", "mor-delete", "delete",
        "replace_where", "compact", "mor-delete", "merge-deletes", "rollback",
    ]
    assert n_empty_files > 0


def test_table_operations_take_row_counts_from_the_manifest(
    spark, tmp_path, monkeypatch
):
    """Rewrites and replacements take ``n_rows`` from the recorded
    per-file row counts: delete_where, rewrite_small_files (with a MOR
    delete pending) and compact_deletes run no DataFrame.count job, and
    commit_replace_where runs exactly one, its out-of-partition
    validation of the incoming frame."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_replace_where,
        compact_deletes,
        delete_where,
        delete_where_mor,
        rewrite_small_files,
    )

    t = _mor_table(spark, tmp_path)  # 30 rows in 3 files
    days = str(tmp_path / "days")
    for day in (0, 1):
        frame = spark.range(day * 10, day * 10 + 10).withColumn("day", F.lit(day))
        commit_snapshot(frame.coalesce(1), days, stats_cols=("day",))

    # the session's concrete DataFrame class: it overrides
    # pyspark.sql.DataFrame.count
    frame_cls = type(spark.range(0))
    calls = []
    real_count = frame_cls.count

    def counting(self):
        calls.append(1)
        return real_count(self)

    monkeypatch.setattr(frame_cls, "count", counting)

    def counts_and_rows(op):
        calls.clear()
        snap = op()
        return len(calls), snap.n_rows

    delete_where_mor(t, "user_id", 12)
    # physical rows: the hidden user_id=12 row stays until a rewrite folds it
    assert counts_and_rows(lambda: delete_where(spark, t, "user_id", 3)) == (0, 29)
    assert counts_and_rows(lambda: rewrite_small_files(spark, t)) == (0, 28)
    delete_where_mor(t, "user_id", 25)
    assert counts_and_rows(lambda: compact_deletes(spark, t)) == (0, 27)
    repl = spark.range(100, 105).withColumn("day", F.lit(1)).coalesce(1)
    assert counts_and_rows(
        lambda: commit_replace_where(repl, days, "day", 1, stats_cols=("day",))
    ) == (1, 15)
