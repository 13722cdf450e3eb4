"""Manifest-committed snapshot tables: atomic commits + time travel on
bare parquet.

The reference rewrites partition directories in place and relies on
readers not racing the rewrite (glue/jobs/raw_to_curated_events_v3_dq.py:
113-121).  Directory listing as the source of truth breaks down at scale
(eventually-consistent object stores, multi-writer races, no history), so
table formats (Iceberg/Delta/Hudi — all public designs) replace it with
**manifests**: an immutable list of data files per version plus one tiny
mutable pointer.  This module implements that pattern minimally:

    table/
      data/<commit-uuid>/part-*.parquet   -- immutable, append-only
      manifests/v{N}.json                 -- file list + stats, immutable
      _current                            -- pointer file: latest version

- **Writers** add data files under a fresh commit dir, write the next
  manifest, then swap the pointer (write-tmp + atomic rename).  Old data
  files are NEVER touched — an `overwrite` commit just stops listing them.
- **Readers** resolve the pointer (or an explicit version — time travel)
  and read exactly the listed files: no directory listing, no torn reads,
  and a reader holding version N is immune to any concurrent commit.
- **Strict format**: every version records the table schema and each
  listed file's physical row count (``file_rows``), measured once when
  the file was written.  Reads project to the recorded schema and no
  operation re-reads footers or recounts rows; ``read_manifest`` rejects
  a version missing either field instead of guessing.
- **Scale**: the manifest holds file paths + row counts, kilobytes per
  thousand files; the pointer swap is the only coordination point.
- **Concurrency**: commits serialize under a single-host ``flock`` on the
  table's commit lock (``_publish``); concurrent appends compose, and an
  operation whose plan was made against an older head raises
  ``ConcurrentCommit`` instead of publishing.  (Real formats add manifest
  trees and a catalog compare-and-swap for multi-host writers.)
- **Path scope**: data files go through Spark writers (any Hadoop FS),
  but manifest/pointer IO and post-write file discovery use driver-local
  Python IO (`os.listdir`/`open`/`os.rename`), so `table_path` must be a
  driver-visible POSIX path in this implementation.  Pointing it at an
  object store requires routing those few calls through the Hadoop
  FileSystem API (`spark._jvm.org.apache.hadoop.fs.FileSystem`) — the
  protocol itself is unchanged; only the IO shim differs.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field, replace
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Snapshot:
    """One committed table version: the manifest record.  The only list
    of the manifest's fields — ``_publish`` writes ``asdict`` of it (field
    order = JSON key order) and ``read_manifest`` reads it back."""

    version: int
    files: list[str]
    # physical rows across ``files``: the sum of ``file_rows`` (_carry)
    n_rows: int
    # "append" | "overwrite" | "delete" | "mor-delete" | "merge-deletes"
    # | "replace_where" | "compact" | "rollback"
    mode: str
    # authoritative table schema (Spark StructType jsonValue, all fields
    # nullable), recorded at commit time and evolved ADDITIVELY: previous
    # columns keep position and type, columns new to a commit append.
    # Readers project to it (spark.read.schema), so a table's width is a
    # manifest fact — stable across footer sampling and pending MOR
    # delete state — and reads pay ZERO footer scans, the Iceberg/Delta
    # schema-in-metadata design.
    schema: dict
    # per-file physical row count {file: n}, measured by the scan that
    # collects a new file's stats and carried with the file from then on
    # (MOR-hidden rows included until a rewrite folds them in).
    file_rows: dict
    # zone maps: {file: {col: [min, max]}} for the columns the writer chose
    # to track (commit_snapshot stats_cols=...).  Files written before stats
    # were tracked simply have no entry and are never pruned away.
    stats: dict = field(default_factory=dict)
    # per-file bloom filters: {file: {col: [set bit positions]}} for
    # equality pruning on high-cardinality keys (commit_snapshot
    # bloom_cols=...); md5-derived positions, 1024 bits x 3 hashes.
    blooms: dict = field(default_factory=dict)
    # per-file NULL counts: {file: {col: n_null}} for the stats columns —
    # kept SEPARATE from the [min, max] zone maps (the Iceberg
    # null_value_counts design) because min/max ignore NULLs: a file whose
    # range is exactly [v, v] may still hold NULL rows, and replace_where
    # must not delete those with the partition.  Files committed before
    # null tracking have no entry (treated as unknown — conservative).
    nulls: dict = field(default_factory=dict)
    # commit metadata, atomic with the version (e.g. the streaming sink's
    # last_batch_id transaction marker, a rollback's source version).
    meta: dict = field(default_factory=dict)
    # merge-on-read equality deletes: {delete_id: {"col": c, "value": v,
    # "applies_to": [files]}}.  Each entry hides rows where col == value
    # from the listed files WITHOUT rewriting them (delete_where_mor);
    # applies_to is the bloom/zone-pruned possible-match set AT DELETE
    # TIME, which is also what scopes the delete like an Iceberg sequence
    # number: files appended later are absent from the list, so a
    # re-inserted key survives.  read_snapshot applies the filters;
    # compact_deletes folds them back into data files.
    deletes: dict = field(default_factory=dict)


class ConcurrentCommit(Exception):
    """Another writer advanced the table between this operation's snapshot
    read and its publish; the operation's plan (prune set, rewrite set,
    rollback base) is stale.  Re-run the operation against the new head —
    the Iceberg optimistic-concurrency contract."""


def _manifest_dir(table_path: str) -> str:
    return os.path.join(table_path, "manifests")


@contextmanager
def _commit_lock(table_path: str):
    """The table's exclusive commit lock — a single-host ``flock`` held by
    every publish, ``vacuum`` and ``clean_orphans``, so none of them can
    observe another half-done.  Auto-releases on process death."""
    import fcntl

    mdir = _manifest_dir(table_path)
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, "_commit.lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        yield


def _publish(
    table_path: str, build, op: str | None = None, head: int | None = None
) -> Snapshot:
    """Serialized manifest publish — the table's single coordination
    point.  Writers prepare data files and stats OUTSIDE this call
    (arbitrarily slow, fully parallel); under the commit lock the head is
    re-read, ``build(prev, version)`` returns the Snapshot for head+1
    (``prev`` is the head's Snapshot, None on an empty table), the
    manifest is written, and the pointer swaps.  The critical section is
    a couple of local file writes — at warehouse scale this lock is the
    catalog's compare-and-swap, and the behavior is identical: concurrent
    appends serialize and compose; conflicting rewrites abort and retry.

    ``op`` names an operation that planned against version ``head`` (its
    prune set, rewrite set, drop set or rollback base): if another commit
    landed since, the plan is stale and ``ConcurrentCommit`` is raised
    before anything is written.  Appends pass no ``op`` — they compose
    with whatever head is current.

    A crash inside the section leaves at worst an unreferenced vN.json
    that the next committer overwrites via tmp+rename before swapping the
    pointer — readers can never observe a partial commit.

    Two invariants are enforced HERE, for every commit path, so no
    individual operation can forget them:

    - **Transaction markers carry forward** (the Delta txn appId->version
      idiom): the streaming sink's ``last_batch_id`` (and the generalized
      ``txn`` map) from the previous head's meta are merged into every
      new manifest's meta, taking the per-key MAX.  Without this, any
      non-streaming commit landing between a batch commit and the stream
      checkpoint write (a nightly compaction, a replace_where, a
      rollback) would reset the marker, and a crash-replayed batch would
      silently re-append its rows.

    - **Every listed file must exist at publish time**: a commit whose
      Spark write phase outlived ``clean_orphans``'s grace window could
      otherwise publish a manifest referencing already-deleted files —
      torn reads forever after.  Raising here turns that silent
      corruption into a loud retryable failure (clean_orphans holds this
      same lock, so the check and the swap cannot interleave with a
      cleanup scan)."""
    with _commit_lock(table_path):
        prev_v = current_version(table_path)
        if op is not None and prev_v != head:
            raise ConcurrentCommit(
                f"table advanced v{head} -> v{prev_v} during {op}; re-run"
            )
        prev = read_manifest(table_path, prev_v) if prev_v is not None else None
        version = (prev_v or 0) + 1
        snap = build(prev, version)
        if prev is not None:
            meta = dict(snap.meta)
            if "last_batch_id" in prev.meta or "last_batch_id" in meta:
                meta["last_batch_id"] = max(
                    prev.meta.get("last_batch_id", -1),
                    meta.get("last_batch_id", -1),
                )
            if "txn" in prev.meta or "txn" in meta:
                merged_txn = dict(prev.meta.get("txn") or {})
                for app, ver in (meta.get("txn") or {}).items():
                    merged_txn[app] = max(ver, merged_txn.get(app, -1))
                meta["txn"] = merged_txn
            snap = replace(snap, meta=meta)
        missing = [f for f in snap.files if not os.path.exists(f)]
        if missing:
            raise FileNotFoundError(
                f"refusing to publish v{version}: {len(missing)} listed "
                f"file(s) do not exist (first: {missing[0]}) — was "
                "clean_orphans run with older_than_s shorter than this "
                "commit's write phase?"
            )
        mpath = os.path.join(_manifest_dir(table_path), f"v{version}.json")
        with open(mpath + ".tmp", "w") as f:
            json.dump(asdict(snap), f)
        os.rename(mpath + ".tmp", mpath)
        ptr = _pointer_path(table_path)
        with open(ptr + ".tmp", "w") as f:
            f.write(str(version))
        os.rename(ptr + ".tmp", ptr)  # the commit point: atomic on POSIX
    return snap


def _pointer_path(table_path: str) -> str:
    return os.path.join(table_path, "_current")


def current_version(table_path: str) -> int | None:
    p = _pointer_path(table_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def read_manifest(table_path: str, version: int) -> Snapshot:
    """The Snapshot stored as ``version``; raises ValueError when the
    record lacks the schema or the per-file row counts every version
    must carry."""
    with open(os.path.join(_manifest_dir(table_path), f"v{version}.json")) as f:
        record = json.load(f)
    for key in ("schema", "file_rows"):
        if record.get(key) is None:
            raise ValueError(
                f"manifest v{version} of {table_path} has no {key!r} field"
            )
    return Snapshot(**record)


def _read_head(table_path: str, version: int | None = None) -> Snapshot:
    """The Snapshot of ``version``, by default the current head; raises
    FileNotFoundError when the table has no committed version."""
    v = current_version(table_path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version at {table_path}")
    return read_manifest(table_path, v)


def snapshots(table_path: str) -> list[Snapshot]:
    """All committed versions, oldest first (the table's history)."""
    v = current_version(table_path)
    return [read_manifest(table_path, i) for i in range(1, (v or 0) + 1)]


def _stats_repr(value):
    """The zone-map representation of a Python value — used both to store
    bounds (_collect_file_stats) and to probe them, so equality and order
    comparisons against stored bounds are coherent (temporal / decimal
    values go through str(); ISO strings sort like the values)."""
    return (
        value
        if isinstance(value, (int, float, str, bool, type(None)))
        else str(value)
    )


def _collect_file_stats(
    spark: SparkSession,
    written: list[str],
    stats_cols: tuple[str, ...],
    bloom_cols: tuple[str, ...] = (),
) -> tuple[dict, dict, dict, dict]:
    """One scan of the just-written files: per-file row count plus min/max
    zone maps AND null counts for `stats_cols`.  Cost is a single
    combiner-friendly agg over data the page cache still holds — the
    write-side toll every zone-mapped table format pays (Iceberg/Delta
    collect the same stats from parquet footers at commit time; null
    counts are Iceberg's null_value_counts, required because min/max
    ignore NULLs and replace_where must know whether a single-value file
    also hides NULL rows)."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nl_{c}")
        )
    for c in bloom_cols:
        # per-file SET of bloom bit positions (bounded by _BLOOM_BITS entries
        # per hash row, whatever the file's cardinality) — the whole bloom
        # filter IS this set, serialized into the manifest
        for j in range(_BLOOM_K):
            aggs.append(F.collect_set(_bloom_pos_col(c, j)).alias(f"__bf_{c}_{j}"))
    rows = (
        spark.read.parquet(*written)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(*aggs)
        .collect()
    )

    rows_by_base = {}
    by_base = {}
    bloom_by_base = {}
    null_by_base = {}
    for r in rows:
        base = os.path.basename(r["__f"])
        rows_by_base[base] = r["__n"]
        if stats_cols:
            by_base[base] = {
                c: [_stats_repr(r[f"__mn_{c}"]), _stats_repr(r[f"__mx_{c}"])]
                for c in stats_cols
            }
            null_by_base[base] = {c: int(r[f"__nl_{c}"]) for c in stats_cols}
        if bloom_cols:
            bloom_by_base[base] = {
                c: sorted(
                    {p for j in range(_BLOOM_K) for p in r[f"__bf_{c}_{j}"] or []}
                )
                for c in bloom_cols
            }
    # a ZERO-ROW part file never surfaces in the groupBy above (no rows to
    # group); record it explicitly as 0 rows and [None, None] bounds + 0
    # nulls, which downstream consumers already treat soundly (prune keeps
    # it a no-op, replace_where classifies it all-null ⇒
    # keepable/droppable, never 'missing stats forever')
    file_rows = {f: rows_by_base.get(os.path.basename(f), 0) for f in written}
    if stats_cols:
        for f in written:
            base = os.path.basename(f)
            if base not in by_base:
                by_base[base] = {c: [None, None] for c in stats_cols}
                null_by_base[base] = {c: 0 for c in stats_cols}
    stats = {f: by_base[os.path.basename(f)] for f in written if os.path.basename(f) in by_base}
    blooms = {
        f: bloom_by_base[os.path.basename(f)]
        for f in written
        if os.path.basename(f) in bloom_by_base
    }
    nulls = {
        f: null_by_base[os.path.basename(f)]
        for f in written
        if os.path.basename(f) in null_by_base
    }
    return file_rows, stats, blooms, nulls


_BLOOM_BITS = 1024
_BLOOM_K = 3


def _bloom_positions_py(value) -> list[int]:
    """The k bloom bit positions of a value — md5-derived so the DRIVER
    (plain Python, no JVM) computes the identical positions the Spark-side
    collection did: position_j = int(md5("bf{j}:" + str(value))[:12], 16)
    mod _BLOOM_BITS, for j < _BLOOM_K.  Values hash by str() form on both
    sides."""
    import hashlib

    s = str(value)
    return [
        int(hashlib.md5(f"bf{j}:{s}".encode()).hexdigest()[:12], 16) % _BLOOM_BITS
        for j in range(_BLOOM_K)
    ]


def _bloom_value_render_safe(value) -> bool:
    """True iff Python ``str(value)`` is guaranteed to equal Spark's
    ``CAST(col AS STRING)`` rendering — the identity the bloom probe
    depends on.  str and int round-trip identically; datetime.date does
    too ("2024-01-02" on both sides).  bool does NOT (Python "True" vs
    Spark "true"), floats diverge in scientific-notation territory
    (Python "1e+20" vs Spark "1.0E20"), and timestamp/decimal renderings
    carry engine-specific precision trimming — for those a bloom could
    falsely "prove absence", which would make ``delete_where`` silently
    keep rows it was asked to delete.  Callers must skip bloom pruning
    (treat every file as a candidate) when this returns False."""
    import datetime

    if isinstance(value, bool) or isinstance(value, datetime.datetime):
        return False
    return isinstance(value, (str, int, datetime.date))


def _bloom_pos_col(col: str, j: int):
    from pyspark.sql import functions as F

    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bf{j}:"), F.col(col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_BLOOM_BITS),
    ).cast("int")


def _schema_value(df: DataFrame) -> dict:
    """A frame's schema as the manifest-recorded jsonValue, every field
    forced nullable (pre-evolution rows read an evolved column as NULL,
    so the authoritative schema can never promise non-null)."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(f.name, f.dataType, True) for f in df.schema.fields]
    ).jsonValue()


def _reader(spark: SparkSession, snap: "Snapshot"):
    """The reader for ``snap``'s files — every read and every rewrite
    (COW delete, delete compaction, bin-pack): projection to the recorded
    schema, so pre-evolution files read evolved columns as NULL and no
    footer is opened to decide the width."""
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(snap.schema))


def _require_schema_column(snap: "Snapshot", col: str, op: str) -> None:
    """Fail fast when a delete targets a column the recorded schema does
    not contain: SQL errors on an unknown column, and before this guard a
    typo'd ``delete_where(col, None)`` read the phantom column as
    all-NULL and deleted EVERY row in its rewrite set."""
    names = [f["name"] for f in snap.schema["fields"]]
    if col not in names:
        raise ValueError(
            f"{op}({col!r}): column not in the table schema {names}"
        )


def _evolve_schema_value(prev: "Snapshot | None", df: DataFrame) -> dict:
    """Additive schema evolution at commit time: previous columns keep
    their position and type; columns new to ``df`` append in frame order.
    A same-name type conflict is a corrupt evolution and fails fast.  A
    recorded schema keeps evolving additively even when the previous
    version has NO files (every row deleted): deletes carry the schema
    forward, so an append to an emptied table must not silently reset
    the recorded width/column order or skip the type-conflict check."""
    from pyspark.sql.types import StructField, StructType

    if prev is None:
        return _schema_value(df)
    base = StructType.fromJson(prev.schema)
    fields = [StructField(f.name, f.dataType, True) for f in base.fields]
    have = {f.name: f.dataType for f in fields}
    for f in df.schema.fields:
        if f.name not in have:
            fields.append(StructField(f.name, f.dataType, True))
        elif f.dataType != have[f.name]:
            raise ValueError(
                f"schema evolution is additive-only: column {f.name!r} is "
                f"{have[f.name].simpleString()} in the table but "
                f"{f.dataType.simpleString()} in the commit"
            )
    return StructType(fields).jsonValue()


class _NewFiles(NamedTuple):
    """A commit's freshly written data files and what one scan of them
    measured (see _collect_file_stats)."""

    files: list[str]
    file_rows: dict
    stats: dict
    blooms: dict
    nulls: dict


_NO_NEW_FILES = _NewFiles([], {}, {}, {}, {})


def _write_data_files(
    df: DataFrame,
    table_path: str,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    write=None,
) -> _NewFiles:
    """Write a commit's data files into a fresh, immutable
    ``data/<commit-uuid>`` dir — ``df.write`` by default, ``write(dir)``
    for a custom layout — then scan them once for row count, zone maps,
    null counts and blooms.  The write may leave no part file at all
    (every row filtered away); nothing is scanned then."""
    data_dir = os.path.join(table_path, "data", uuid.uuid4().hex)
    if write is None:
        df.write.mode("error").parquet(data_dir)
    else:
        write(data_dir)
    written = [
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    ]
    if not written:
        return _NO_NEW_FILES
    return _NewFiles(
        written,
        *_collect_file_stats(
            df.sparkSession, written, tuple(stats_cols), tuple(bloom_cols)
        ),
    )


def _tracked_cols(snap: Snapshot) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """The stats and bloom columns ``snap`` tracks — what a rewrite
    re-collects for the files it writes."""
    return (
        tuple(sorted({c for per_file in snap.stats.values() for c in per_file})),
        tuple(sorted({c for per_file in snap.blooms.values() for c in per_file})),
    )


def commit_snapshot(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    meta: dict | None = None,
) -> Snapshot:
    """Commit a new table version.

    Data files are written to an immutable per-commit directory; the new
    manifest lists them (plus, for append, every file of the previous
    version); the `_current` pointer is swapped last via atomic rename.
    A crash before the swap leaves orphan files but NO visible change —
    readers can never observe a partial commit.

    MULTI-WRITER SAFE: the publish runs under the table's commit lock
    (`_publish`) with the merged file list rebuilt against whatever head
    is current at publish time, so concurrent appends serialize and both
    land — no lost updates.  The six operations that plan against the
    head (delete_where, delete_where_mor, compact_deletes,
    commit_replace_where, rewrite_small_files, rollback) instead raise
    ConcurrentCommit when the head moved under them, the
    optimistic-concurrency contract.

    `stats_cols` opts columns into per-file min/max **zone maps** stored in
    the manifest: readers prune whole files whose range cannot match a
    predicate (read_snapshot `prune=`) without opening them — at object-
    store scale this turns a selective scan over N files into a scan over
    the few files whose zone overlaps, the same data-skipping design as
    Iceberg/Delta file stats.  Pruning pays off in proportion to how well
    the writer CLUSTERED the column (sources.writers write_range_ordered /
    write_zordered exist for exactly that).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    new = _write_data_files(df, table_path, stats_cols, bloom_cols)

    def build(prev: Snapshot | None, version: int) -> Snapshot:
        # an append carries every file of the head CURRENT AT PUBLISH, so
        # two parallel appenders both land; the appended files are absent
        # from every MOR delete's applies_to, so a re-inserted key is
        # visible — the sequence-number semantics
        base = prev if mode == "append" else None
        return Snapshot(
            version,
            mode=mode,
            meta=meta or {},
            # evolved against the ACTUAL head (under the commit lock), so
            # a concurrent append's new columns are never dropped
            schema=_evolve_schema_value(base, df),
            **_carry(base, base.files if base else [], new),
        )

    return _publish(table_path, build)


def prune_files(snap: Snapshot, col: str, lo, hi) -> list[str]:
    """Files of `snap` that may contain rows with lo <= col <= hi, by zone
    map.  A file is skipped ONLY when its recorded [min, max] provably
    cannot overlap; files without stats for `col` are always kept (sound
    by construction — pruning can never drop a matching row).  Bounds
    compare with Python ordering, so pass values of the column's type
    (or its str() form for temporal columns, whose ISO strings sort).
    A probe whose Python type does not order against a file's stored
    bounds (e.g. str "5" vs int stats) keeps that file — degrading to
    unpruned, never raising, so a type-mismatched equality delete stays
    merely slower instead of crashing the commit path."""
    kept = []
    for f in snap.files:
        rng = snap.stats.get(f, {}).get(col)
        if rng is None or rng[0] is None or rng[1] is None:
            kept.append(f)
            continue
        mn, mx = rng
        try:
            disjoint = mx < lo or mn > hi
        except TypeError:
            disjoint = False  # unorderable probe: keep the file (sound)
        if not disjoint:
            kept.append(f)
    return kept


def prune_files_eq(snap: Snapshot, col: str, value) -> list[str]:
    """Files of `snap` that may contain rows with col == value, by BOTH
    skipping indexes: the point lookup is also the degenerate range
    [value, value], so a file is dropped when its zone map proves the
    value outside [min, max] OR its bloom proves absence (some probe bit
    unset) — the intersection is strictly tighter than either alone
    (round 12: a stats-only table now scopes equality deletes without
    requiring blooms).  False positives only — a kept file may still
    lack the value; a dropped file provably cannot contain it.  Files
    tracking neither index for `col` are always kept.

    Pruning applies only to value types whose Python str() rendering
    provably matches Spark's CAST(col AS STRING) (str / int / date);
    for any other type (float, bool, timestamp, decimal) every file is
    kept — correct, just unpruned — because a rendering mismatch would
    turn the indexes' false-positive-only contract into false NEGATIVES,
    and delete_where would silently skip rows it must delete."""
    if not _bloom_value_render_safe(value):
        return list(snap.files)
    rendered = _stats_repr(value)
    zone_kept = set(prune_files(snap, col, rendered, rendered))
    probes = _bloom_positions_py(value)
    kept = []
    for f in snap.files:
        if f not in zone_kept:
            continue  # zone map proves the value cannot occur in f
        setbits = snap.blooms.get(f, {}).get(col)
        if setbits is None:
            kept.append(f)
            continue
        bits = set(setbits)
        if all(p in bits for p in probes):
            kept.append(f)
    return kept


def _carry_deletes(prev_deletes: dict, kept_files: list[str]) -> dict:
    """Intersect every merge-on-read delete entry's applies_to with the
    files that survive a commit; entries whose scope empties are dropped
    (every file they hid rows from was rewritten or removed)."""
    kept = set(kept_files)
    out = {}
    for did, e in prev_deletes.items():
        scoped = [f for f in e["applies_to"] if f in kept]
        if scoped:
            out[did] = {**e, "applies_to": scoped}
    return out


def _carry(base: Snapshot | None, carried: list[str], new: _NewFiles) -> dict:
    """The per-file fields of a commit that lists ``carried`` files of
    ``base`` untouched, then ``new``: carried files keep their row
    counts, stats, blooms and null counts, and the MOR delete entries
    scoping them — rewritten files had their pending entries folded in.
    ``n_rows`` is the sum of the listed files' row counts: the one place
    a version's row count is computed."""
    keep = set(carried)

    def merged(old: dict, fresh: dict) -> dict:
        return {**{f: x for f, x in old.items() if f in keep}, **fresh}

    file_rows = merged(base.file_rows if base else {}, new.file_rows)
    return dict(
        files=carried + new.files,
        n_rows=sum(file_rows.values()),
        file_rows=file_rows,
        stats=merged(base.stats if base else {}, new.stats),
        blooms=merged(base.blooms if base else {}, new.blooms),
        nulls=merged(base.nulls if base else {}, new.nulls),
        deletes=_carry_deletes(base.deletes if base else {}, carried),
    )


def _grouped_delete_read(reader, entries: dict, files: list):
    """Read ``files`` with every applicable MOR delete entry applied — to
    exactly the files each entry scopes, never the whole union.  An
    entry's filter must NOT touch files outside its applies_to: a file
    APPENDED AFTER the delete may legitimately re-insert the deleted key
    (the sequencing contract), and a union-wide filter would silently
    destroy it.  Files are grouped by their applicable entry-set (one or
    two groups in practice), each group filtered once, and the groups
    unioned — the shared kernel behind read_snapshot and every rewrite
    path (COW delete, bin-pack compaction, delete compaction).  ``reader``
    projects to the recorded schema (_reader), so every group has the
    table's full width and every entry's column resolves: a file written
    before the column existed reads it as NULL, which a value delete
    never matches."""
    from pyspark.sql import functions as F

    scopes = {did: set(e["applies_to"]) for did, e in (entries or {}).items()}
    if not scopes:
        return reader.parquet(*files)
    groups: dict = {}
    for f in files:
        key = frozenset(did for did, sc in scopes.items() if f in sc)
        groups.setdefault(key, []).append(f)
    parts = []
    for key in sorted(groups, key=sorted):
        df = reader.parquet(*groups[key])
        for did in sorted(key):
            e = entries[did]
            df = df.filter(~F.col(e["col"]).eqNullSafe(F.lit(e["value"])))
        parts.append(df)
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Read a table version (default: current).  Time travel = pass an
    older version; the files it lists are immutable, so the read is
    reproducible forever (until a vacuum).

    `prune=(col, lo, hi)` applies zone-map data skipping: only files whose
    recorded [min, max] range can overlap [lo, hi] are opened, and the
    predicate is re-applied to the surviving rows, so the result equals
    `read_snapshot(...).filter(lo <= col <= hi)` exactly — skipping is a
    physical optimization, never a semantic one.

    Schema: the read projects to EXACTLY the version's recorded schema
    (`spark.read.schema(...)`), so the width is a manifest fact: stable
    across footer sampling, pending MOR delete state, and compaction,
    with NULLs for pre-evolution rows and zero footer scans, the
    Iceberg/Delta schema-in-metadata design."""
    from pyspark.sql import functions as F

    snap = _read_head(table_path, version)
    reader = _reader(spark, snap)

    def _with_deletes(files: list[str]) -> DataFrame:
        # apply merge-on-read equality deletes to exactly the files each
        # entry scopes (grouped by entry-set — _grouped_delete_read)
        return _grouped_delete_read(reader, snap.deletes, files)

    if prune is None:
        return _with_deletes(snap.files)
    col, lo, hi = prune
    kept = prune_files(snap, col, lo, hi)
    if not kept:
        # zone maps prove zero matches: an empty frame with the right schema
        return (
            reader.parquet(*snap.files)
            .filter(F.lit(False))
            .filter(F.col(col).between(lo, hi))
        )
    return _with_deletes(kept).filter(F.col(col).between(lo, hi))


def delete_where(
    spark: SparkSession,
    table_path: str,
    col: str,
    value,
) -> Snapshot:
    """Targeted row deletion (the GDPR right-to-be-forgotten shape) as a
    new immutable version: bloom/zone pruning identifies the files that
    MAY contain ``col == value``; only those are rewritten without the
    matching rows, and every other file carries over UNTOUCHED — file
    paths (and bytes) identical in the new manifest, so write
    amplification is proportional to the key's file footprint, not the
    table.  With a bloom-filtered key column the rewrite set is the few
    files whose filter can't prove absence — the copy-on-write DELETE
    Iceberg/Delta implement, driven entirely by the manifest.

    Deleted rows remain physically present in PRIOR versions until
    ``vacuum()`` expires them — the standard two-step: the delete is
    immediately invisible to readers of the current version, and the
    retention window bounds when the bytes are actually gone (for a
    compliance clock, follow with ``vacuum(keep_last=1)``).

    Rows where ``col`` IS NULL are never deleted (null-safe inequality),
    matching SQL ``DELETE WHERE col = value`` semantics.  Stats and
    blooms for rewritten files are re-collected over the SAME columns
    the snapshot already tracked; carried-over files keep theirs.
    Returns the new Snapshot; no-ops (returns the current snapshot, no
    version bump) when pruning proves the value absent from every file.
    """
    from pyspark.sql import functions as F

    snap = _read_head(table_path)
    _require_schema_column(snap, col, "delete_where")
    rewrite = set(prune_files_eq(snap, col, value))
    if not rewrite:
        return snap  # bloom/zone proof: nothing to delete
    carried = [f for f in snap.files if f not in rewrite]

    # fold pending MOR deletes in — scoped to exactly the files each entry
    # covers (a union-wide filter would destroy a key re-inserted by a
    # later append) — then apply this delete's own predicate.  The read
    # has the recorded width, so the rewritten files keep every evolved
    # column's data.
    src = _grouped_delete_read(_reader(spark, snap), snap.deletes, sorted(rewrite))
    kept_rows = src.filter(~F.col(col).eqNullSafe(F.lit(value)))
    new = _write_data_files(kept_rows, table_path, *_tracked_cols(snap))

    # the prune/rewrite plan was computed against the head; a concurrent
    # commit may have added files containing the key
    return _publish(
        table_path,
        lambda _, version: Snapshot(
            version,
            mode="delete",
            schema=snap.schema,  # a delete never changes the width
            **_carry(snap, carried, new),
        ),
        op="delete",
        head=snap.version,
    )


def delete_where_mor(table_path: str, col: str, value) -> Snapshot:
    """Merge-on-read targeted deletion (Iceberg equality-delete / Delta
    deletion-vector shape): instead of rewriting the files that may hold
    ``col == value`` (delete_where's copy-on-write), commit a manifest
    DELETE ENTRY scoping them — readers filter the hidden rows out at
    scan time, and no data byte moves.  The write cost is O(manifest):
    at 100 TB this is the difference between a sub-second GDPR delete
    and rewriting terabytes on the delete path, deferring the rewrite to
    the next scheduled compaction (compact_deletes / rewrite_small_files
    both fold pending entries in).

    Scoping = sequencing: ``applies_to`` is the bloom/zone-pruned
    possible-match file set AT DELETE TIME, so rows of the SAME key
    appended later live in files outside the list and stay visible —
    the Iceberg sequence-number semantics without per-file sequence
    bookkeeping (the trade: applies_to is file-list-sized; a production
    format stores a sequence number instead — documented, deliberate).
    Applying the entry's filter to a file outside applies_to would be a
    provable no-op anyway, which is what makes rewrites safe to apply
    pending filters across their whole input.

    ``value`` must be a non-NULL JSON-representable scalar
    (str/int/float/bool) — it round-trips through the manifest.
    ``value=None`` is REJECTED: ``eqNullSafe(NULL)`` would hide every
    NULL-keyed row, contradicting the family's null-safe contract (NULL
    rows are never deleted by a value delete); replacing the NULL
    partition is commit_replace_where's job.  ``n_rows`` stays the
    PHYSICAL count: hidden rows still occupy bytes until a compaction
    folds the entry in (meta records the pending logical debt).  No-ops
    (returns the current snapshot, no version bump) when pruning proves
    the value absent from every file."""
    if value is None or not isinstance(value, (str, int, float, bool)):
        raise TypeError(
            "MOR delete value must be a non-NULL JSON-representable scalar, "
            f"got {value!r}"
        )
    snap = _read_head(table_path)
    _require_schema_column(snap, col, "delete_where_mor")
    affected = prune_files_eq(snap, col, value)
    if not affected:
        return snap  # bloom/zone proof: nothing to hide

    # applies_to was pruned against the head; a concurrent append could
    # add files containing the key that this entry must NOT scope.
    # Physical rows are unchanged: files, n_rows and indexes carry as-is.
    did = uuid.uuid4().hex
    return _publish(
        table_path,
        lambda _, version: replace(
            snap,
            version=version,
            mode="mor-delete",
            meta={"mor_delete": [col, _stats_repr(value)]},
            deletes={
                **snap.deletes,
                did: {"col": col, "value": value, "applies_to": affected},
            },
        ),
        op="MOR delete",
        head=snap.version,
    )


def compact_deletes(spark: SparkSession, table_path: str) -> Snapshot:
    """Fold every pending merge-on-read delete back into data files (the
    MOR -> COW merge, Iceberg's rewrite_position_delete_files analog):
    rewrite exactly the files some entry scopes with all applicable
    filters applied, carry every other file untouched, and commit a
    version with NO delete entries.  Reads of the new version are then
    filter-free; prior versions keep their MOR semantics via time travel.
    No-ops (returns the current snapshot) when nothing is pending.

    Write amplification is bounded by the union of applies_to sets — the
    same bloom/zone-pruned footprint the COW delete would have paid at
    delete time, now paid once on a maintenance schedule instead of on
    the (latency-sensitive) delete path."""
    snap = _read_head(table_path)
    if not snap.deletes:
        return snap
    rewrite = sorted({f for e in snap.deletes.values() for f in e["applies_to"]})
    rewrite_set = set(rewrite)
    carried = [f for f in snap.files if f not in rewrite_set]

    # scoped per entry — never a union-wide filter (sequencing contract);
    # full-width read so the rewrite can never drop an evolved column
    src = _grouped_delete_read(_reader(spark, snap), snap.deletes, rewrite)
    new = _write_data_files(src, table_path, *_tracked_cols(snap))
    # every entry's scope was rewritten, so no delete entry carries
    return _publish(
        table_path,
        lambda _, version: Snapshot(
            version,
            mode="merge-deletes",
            meta={"merged_delete_entries": len(snap.deletes)},
            schema=snap.schema,
            **_carry(snap, carried, new),
        ),
        op="delete compaction",
        head=snap.version,
    )


def vacuum(table_path: str, keep_last: int = 1) -> list[str]:
    """Delete data files referenced ONLY by expired versions (all but the
    last `keep_last`, which must be >= 1: the head is never expired).
    Returns the deleted paths.  Time travel to expired versions stops
    working — the standard retention trade-off.

    Runs under the table's commit lock: the live-file set is computed
    against a head no publish can move mid-scan, so vacuum can never race
    a rollback into deleting files the new head references (the publish
    existence check also runs under the lock — the two serialize in
    either order, and the loser behaves correctly)."""
    if keep_last < 1:
        raise ValueError(
            f"vacuum keep_last must be >= 1 (the head version is always "
            f"kept), got {keep_last}"
        )
    if not os.path.isdir(_manifest_dir(table_path)):
        return []
    with _commit_lock(table_path):
        v = current_version(table_path)
        if v is None:
            return []
        keep_versions = set(range(max(1, v - keep_last + 1), v + 1))
        live: set[str] = set()
        for kv in keep_versions:
            live.update(read_manifest(table_path, kv).files)
        deleted = []
        for snap in snapshots(table_path):
            if snap.version in keep_versions:
                continue
            for f in snap.files:
                if f not in live and os.path.exists(f):
                    os.remove(f)
                    deleted.append(f)
        return deleted


def commit_replace_where(
    df: DataFrame,
    table_path: str,
    col: str,
    value,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    meta: dict | None = None,
) -> Snapshot:
    """Partition-scoped idempotent overwrite (Delta's ``replaceWhere`` /
    the reference pipeline's purge-then-rewrite —
    glue/jobs/raw_to_curated_events_v3_dq.py:153-156
    `purge_s3_path` + append — on manifest tables):
    commit ``df`` as the NEW content of the logical partition
    ``col == value``, atomically dropping every existing file that lies
    entirely inside it and keeping everything else.  Re-running the same
    ingest for the same value converges to the same table — the
    idempotent daily-rerun semantic (C1) the reference implements with
    `purge_s3_path`, here as one pointer swap with time travel intact.

    Soundness rule: a prior file is DROPPED only when its zone map proves
    min == max == value for ``col`` AND its recorded null count proves it
    holds no NULL rows — min/max ignore NULLs, so a [v, v] file may still
    hide rows whose partition value is NULL, and those rows are OUTSIDE
    the replaced partition (Delta's replaceWhere keeps them; Iceberg
    tracks null_value_counts for exactly this).  It is KEPT when its zone
    proves the value cannot occur in it — including the all-NULL file
    ([None, None] bounds, e.g. produced by partition-preserving
    compaction of a NULL partition), which provably cannot contain any
    non-null target.  A file whose stats are missing, whose range
    straddles the value, or whose null count is unknown/positive where a
    drop would occur is AMBIGUOUS — it may mix partitions — and the
    commit refuses (ValueError) rather than guess: this operator requires
    the partition column to be stats-tracked and the writer to be
    partition-clustered (one value per file), which is what
    `df.repartition(col)` / per-partition ingests produce naturally.

    ``value=None`` replaces the NULL partition itself: all-NULL files
    drop, zero-null files keep, anything else refuses.

    The incoming frame is validated to contain ONLY the target value
    (count of violations == 0 — one cheap agg) so a misrouted ingest
    cannot corrupt a neighboring partition.  Publishes under the commit
    lock with a staleness guard (ConcurrentCommit) since the drop set
    was planned against the head."""
    from pyspark.sql import functions as F

    bad = df.filter(~F.col(col).eqNullSafe(F.lit(value))).count()
    if bad:
        raise ValueError(
            f"replace_where({col}={value!r}): frame contains {bad} row(s) "
            "outside the target partition"
        )

    v = current_version(table_path)
    prev = read_manifest(table_path, v) if v is not None else None
    kept, ambiguous = [], []
    if prev is not None:
        for f in prev.files:
            rng = prev.stats.get(f, {}).get(col)
            n_null = prev.nulls.get(f, {}).get(col)  # None = unknown
            if rng is None:
                ambiguous.append(f)  # no zone map at all
            elif rng[0] is None and rng[1] is None:
                # all values NULL (or zero rows): cannot hold a non-null
                # target; IS the NULL partition when value is None
                if value is None:
                    continue  # entirely the target (NULL) partition: dropped
                kept.append(f)
            elif value is None:
                # non-null bounds: in the NULL partition iff it hides nulls
                if n_null == 0:
                    kept.append(f)
                else:
                    ambiguous.append(f)  # has (or unknown) NULL rows: mixes
            elif rng[0] == rng[1] == _stats_repr(value):
                # single-value file — droppable only if provably NULL-free:
                # min/max ignore NULLs, so without a zero null count this
                # file may hide NULL-partition rows the drop would delete
                if n_null == 0:
                    continue  # entirely the target partition: dropped
                ambiguous.append(f)
            else:
                try:
                    straddles = rng[0] <= _stats_repr(value) <= rng[1]
                except TypeError:
                    # probe type doesn't order against the stored bounds
                    # (e.g. str "5" vs int stats): cannot prove disjoint
                    straddles = True
                if straddles:
                    ambiguous.append(f)  # straddles the value: may mix partitions
                else:
                    kept.append(f)
        if ambiguous:
            raise ValueError(
                f"replace_where({col}={value!r}): {len(ambiguous)} file(s) have "
                f"missing/straddling stats or unresolved NULL counts for "
                f"{col!r} (first: {ambiguous[0]}); commit with stats_cols "
                "including the partition column and partition-clustered files"
            )

    new = _write_data_files(
        df, table_path, tuple(sorted(set(stats_cols) | {col})), bloom_cols
    )
    return _publish(
        table_path,
        lambda _, version: Snapshot(
            version,
            mode="replace_where",
            meta={**(meta or {}), "replace_where": [col, _stats_repr(value)]},
            # kept files from other partitions retain their columns, so
            # the width evolves additively against the previous schema
            schema=_evolve_schema_value(prev, df),
            **_carry(prev, kept, new),
        ),
        op="replace_where",
        head=v,
    )


def clean_orphans(table_path: str, older_than_s: float = 3600.0) -> list[str]:
    """Delete data files referenced by NO manifest version (Iceberg's
    remove_orphan_files): crash leftovers from a failed publish and the
    prepared-but-aborted files of a ConcurrentCommit rewrite.  Only files
    older than ``older_than_s`` are touched — an in-flight commit writes
    its data files BEFORE publishing its manifest, so fresh unreferenced
    files are presumed in-flight, the same grace-window contract as
    Iceberg's olderThan.  ``older_than_s`` MUST exceed the longest write
    phase any committer can have (a large replace_where/compaction can
    run for hours); if the window is misjudged and a victim commit later
    publishes, ``_publish``'s file-existence guard raises instead of
    committing a manifest with dangling references — the failure is loud
    and retryable, never a torn table.  Runs under the commit lock so
    the referenced set cannot move mid-scan.  Returns the deleted paths;
    empty data dirs are pruned too."""
    import time

    data_root = os.path.join(table_path, "data")
    if not os.path.isdir(_manifest_dir(table_path)) or not os.path.isdir(data_root):
        return []
    with _commit_lock(table_path):
        referenced: set[str] = set()
        for snap in snapshots(table_path):
            referenced.update(snap.files)
        cutoff = time.time() - older_than_s
        deleted = []
        for commit_dir in sorted(os.listdir(data_root)):
            d = os.path.join(data_root, commit_dir)
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                f = os.path.join(d, name)
                if f in referenced:
                    continue
                try:
                    if os.path.getmtime(f) <= cutoff:
                        os.remove(f)
                        deleted.append(f)
                except FileNotFoundError:
                    continue
            if not os.listdir(d):
                os.rmdir(d)
        return deleted


def rewrite_small_files(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = None,
) -> Snapshot:
    """Bin-pack table maintenance (Iceberg `rewrite_data_files` shape): read
    every data file smaller than ``target_file_bytes``, rewrite them
    coalesced into ceil(total_small_bytes / target) files, and commit a
    new version whose manifest lists the new files plus every large file
    CARRIED OVER untouched (identical paths and bytes).  Rows are
    preserved exactly; only physical layout changes — the streaming-ingest
    antidote, since per-batch commits accrete one small file per trigger
    and scan cost grows with file count, not data size.

    Stats/blooms for the rewritten files are re-collected over the same
    columns the snapshot already tracked; carried files keep theirs.
    Prior versions still reference the small files until ``vacuum()``
    expires them (time travel intact).  No-ops (returns the current
    snapshot) when fewer than two small files exist — one small file
    cannot be packed any better.

    At warehouse scale this is the nightly maintenance job: the rewrite
    set is chosen driver-side from manifest-listed sizes (no file is
    opened to decide), and the rewrite cost is proportional to the SMALL
    bytes only.

    ``partition_col`` preserves REPLACEABILITY: plain coalescing would
    mix logical partitions in one output file, and commit_replace_where
    would then (correctly) refuse the table as ambiguous.  With the
    column set, each partition value is written as its own coalesced
    file (the value stays a data column), so every output file provably
    holds one value and stats re-collection keeps min == max per file:
    compaction and partition replacement compose
    for the life of the table (the streaming-ingest → nightly-compact →
    daily-replace loop)."""
    from pyspark.sql import functions as F

    snap = _read_head(table_path)
    small = [f for f in snap.files if os.path.getsize(f) < target_file_bytes]
    if len(small) < 2:
        return snap
    small_set = set(small)
    carried = [f for f in snap.files if f not in small_set]

    total = sum(os.path.getsize(f) for f in small)
    n_out = max(1, -(-total // target_file_bytes))  # ceil div
    # fold pending MOR deletes into the compaction (the classic
    # merge-on-read maintenance contract), scoped per entry — a
    # union-wide filter would destroy later-appended re-inserts
    src = _grouped_delete_read(_reader(spark, snap), snap.deletes, small)
    if partition_col is None:
        new = _write_data_files(
            src.coalesce(int(n_out)), table_path, *_tracked_cols(snap)
        )
    else:
        # one output file per partition VALUE (kept as a data column, so
        # stats re-collection proves min == max and replace_where keeps
        # working); the value count is maintenance-small by definition
        src = src.persist()
        values = sorted(
            (r[0] for r in src.select(partition_col).distinct().collect()),
            key=lambda x: (x is None, str(x)),
        )

        def write(data_dir: str) -> None:
            os.makedirs(data_dir)
            for val in values:
                src.filter(F.col(partition_col).eqNullSafe(F.lit(val))).coalesce(
                    1
                ).write.mode("append").parquet(data_dir)
            src.unpersist()

        # writes NOTHING when pending MOR deletes hid every small-file row
        new = _write_data_files(src, table_path, *_tracked_cols(snap), write=write)

    # the rewrite set was chosen against the head; composing blindly with
    # a concurrent overwrite/delete would resurrect its rows
    return _publish(
        table_path,
        lambda _, version: Snapshot(
            version,
            mode="compact",
            meta={"compacted_files": len(small), "new_files": len(new.files)},
            schema=snap.schema,  # layout-only: width unchanged
            **_carry(snap, carried, new),
        ),
        op="compaction",
        head=snap.version,
    )


def rollback(table_path: str, to_version: int) -> Snapshot:
    """Restore an earlier committed version as a NEW version (Iceberg-style
    rollback): the new manifest lists exactly the target version's files —
    no data is copied or deleted, history stays append-only, and the bad
    intermediate versions remain inspectable (and vacuum-able) rather than
    erased.  Readers see the restored state the instant the pointer swaps;
    a crash before the swap leaves the table unchanged.

    Requires the target version's manifest to still exist; its FILES must
    not have been vacuumed (vacuum() breaks time travel to expired
    versions — the documented retention trade-off).  Stats and blooms
    travel with the file list, so data skipping keeps working on the
    restored version."""
    v = _read_head(table_path).version
    if not 1 <= to_version <= v:
        raise ValueError(f"cannot roll back to v{to_version}: table is at v{v}")
    target = read_manifest(table_path, to_version)
    # names the cause up front; _publish re-checks every listed file under
    # the commit lock, so a concurrent vacuum cannot slip in after this
    missing = [f for f in target.files if not os.path.exists(f)]
    if missing:
        raise FileNotFoundError(
            f"v{to_version} references {len(missing)} vacuumed file(s); "
            f"rollback impossible (first: {missing[0]})"
        )
    return _publish(
        table_path,
        lambda _, version: replace(
            target,
            version=version,
            mode="rollback",
            meta={"rolled_back_to": to_version},
        ),
        op="rollback",
        head=v,
    )


def snapshot_changelog(
    spark: SparkSession,
    table_path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change feed between two committed versions: key-level inserted /
    deleted / changed rows, computed by operators.cdc.table_diff over the
    two immutable snapshots — the manifest's time travel is what makes
    "diff table@v3 against table@v7" a well-posed question at all (a
    directory-listing table has no stable versions to diff).  One
    full-outer keyed join; at warehouse scale the table format's native
    changelog (if kept) replaces the join, but the semantics are these."""
    from prod_data_pipeline_spark.operators.cdc import table_diff

    old = read_snapshot(spark, table_path, v_from)
    new = read_snapshot(spark, table_path, v_to)
    cmp_cols = compare_cols or [c for c in new.columns if c not in keys]
    return table_diff(old, new, keys, cmp_cols)
