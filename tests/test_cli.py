"""CLI entry points (`python -m prod_data_pipeline_spark`) — subprocess
tests mirroring the reference's shell operation: a 3-date backfill with a
poisoned final date must abort with a non-zero exit and leave only the
good dates' partitions (run_backfill.py:85-87 semantics)."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

REPO = "/root/repo"


def _write_raw(raw: pathlib.Path, date: str, rows: list[dict]) -> None:
    p = raw / "source_system=app" / f"ingestion_date={date}"
    p.mkdir(parents=True)
    (p / "events.json").write_text("\n".join(json.dumps(r) for r in rows))


def _good_rows(n: int = 40) -> list[dict]:
    return [
        {
            "event_id": f"e{i}",
            "user_id": f"u{i % 5}",
            "event_type": "login",
            "ts": f"2025-01-01T00:00:{i % 60:02d}Z",
            "value": 2.5,
        }
        for i in range(n)
    ]


def _run(args: list[str], **kw) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "prod_data_pipeline_spark", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
        **kw,
    )


def test_cli_backfill_aborts_on_poisoned_date(tmp_path):
    raw, cur, rep = tmp_path / "raw", tmp_path / "curated", tmp_path / "reports"
    _write_raw(raw, "2025-01-01", _good_rows())
    _write_raw(raw, "2025-01-02", _good_rows())
    bad = [dict(r, event_id=None) for r in _good_rows(10)]
    _write_raw(raw, "2025-01-03", bad)

    proc = _run(
        [
            "backfill",
            "--raw-base", str(raw),
            "--curated-base", str(cur),
            "--metrics-base", str(rep),
            "--cpus", "4",
            "2025-01-01", "2025-01-03",
        ]
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert "aborted" in proc.stderr
    parts = {p.name for p in cur.rglob("ingestion_date=*")}
    assert "ingestion_date=2025-01-01" in parts
    assert "ingestion_date=2025-01-02" in parts
    assert "ingestion_date=2025-01-03" not in parts


def test_cli_curate_one_date_succeeds(tmp_path):
    raw, cur, rep = tmp_path / "raw", tmp_path / "curated", tmp_path / "reports"
    _write_raw(raw, "2025-02-01", _good_rows())
    proc = _run(
        [
            "curate",
            "--raw-base", str(raw),
            "--curated-base", str(cur),
            "--metrics-base", str(rep),
            "--cpus", "4",
            "2025-02-01",
        ]
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["status"] == "PASS"
    assert list(cur.rglob("ingestion_date=2025-02-01"))


def test_cli_bad_date_exits_2_without_spark(tmp_path):
    proc = _run(
        [
            "curate",
            "--raw-base", str(tmp_path),
            "--curated-base", str(tmp_path / "c"),
            "--metrics-base", str(tmp_path / "m"),
            "2025-3-1",
        ]
    )
    assert proc.returncode == 2
    assert "invalid ingestion_date" in proc.stderr


def test_cli_query_list_and_unknown():
    proc = _run(["query", "--list"])
    assert proc.returncode == 0
    names = proc.stdout.split()
    assert "events_per_day" in names and len(names) >= 100
    proc = _run(["query", "no_such_query"])
    assert proc.returncode == 2
    assert "unknown query" in proc.stderr


def test_cli_query_runs_and_writes(tmp_path):
    out = tmp_path / "result"
    proc = _run(
        [
            "query", "events_per_day",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(out),
            "--cpus", "4",
        ]
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert list(out.glob("*.parquet")) or list(out.glob("part-*"))


def test_cli_table_maintenance_roundtrip(tmp_path, spark):
    """history -> compact -> rollback -> vacuum from the shell: JSON line
    per action, correct exit codes, bad rollback target exits 1."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import commit_snapshot

    t = str(tmp_path / "tbl")
    for lo in (0, 100):
        commit_snapshot(
            spark.range(lo, lo + 100).withColumn("v", F.col("id")).repartition(3),
            t,
        )

    proc = _run(["table", "history", t])
    assert proc.returncode == 0, proc.stderr[-2000:]
    hist = [json.loads(line) for line in proc.stdout.splitlines()]
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[-1]["n_rows"] == 200 and hist[-1]["n_files"] == 6

    proc = _run(["table", "compact", t, "--cpus", "4"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["version"] == 3 and out["n_files"] == 1
    assert out["meta"]["compacted_files"] == 6

    proc = _run(["table", "rollback", t, "--to-version", "1"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.splitlines()[-1])["meta"] == {"rolled_back_to": 1}

    proc = _run(["table", "rollback", t, "--to-version", "99"])
    assert proc.returncode == 1
    proc = _run(["table", "rollback", t])
    assert proc.returncode == 2

    proc = _run(["table", "vacuum", t, "--keep-last", "1"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.splitlines()[-1])["removed_files"] > 0


def test_cli_vacuum_rejects_keep_last_below_one(tmp_path, spark):
    """``table vacuum --keep-last 0`` would expire the head version's own
    files; it is a bad argument (exit 2) and removes nothing."""
    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "tbl")
    s = commit_snapshot(spark.range(0, 20).coalesce(1), t)
    for keep in ("0", "-1"):
        proc = _run(["table", "vacuum", t, "--keep-last", keep])
        assert proc.returncode == 2, proc.stderr[-2000:]
        assert "keep_last" in proc.stderr
    assert all(os.path.exists(f) for f in s.files)
    assert read_snapshot(spark, t).count() == 20


def test_cli_mor_delete_and_compaction(tmp_path, spark):
    """delete --mor -> compact-deletes from the shell (round 12): the MOR
    delete bumps a version without touching n_rows (physical count), the
    read hides the key, the fold-back restores physical == logical, and
    delete without --where exits 2."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.sources.manifest import (
        commit_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "mtbl")
    commit_snapshot(
        spark.range(0, 50)
        .withColumn("user_id", F.col("id"))
        .withColumn("v", F.col("id") * 3)
        .coalesce(1),
        t,
        stats_cols=("user_id",),
        bloom_cols=("user_id",),
    )

    proc = _run(["table", "delete", t, "--where", "user_id", "7", "--mor",
                 "--cpus", "4"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["mode"] == "mor-delete"
    assert out["n_rows"] == 50  # physical rows untouched
    assert out["pending_deletes"] == 1
    got = read_snapshot(spark, t)
    assert got.count() == 49
    assert got.filter(F.col("user_id") == 7).count() == 0

    proc = _run(["table", "compact-deletes", t, "--cpus", "4"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["mode"] == "merge-deletes"
    assert out["n_rows"] == 49 and out["pending_deletes"] == 0
    assert read_snapshot(spark, t).count() == 49

    proc = _run(["table", "delete", t])
    assert proc.returncode == 2


def test_parse_where_value_coercion():
    """r12-advisory: "--5" must stay a string (the old isdigit probe
    crashed in int()); plain signed digit runs coerce, int()-isms don't."""
    from prod_data_pipeline_spark.__main__ import parse_where_value

    assert parse_where_value("5") == 5
    assert parse_where_value("-5") == -5
    assert parse_where_value("--5") == "--5"
    assert parse_where_value("5_0") == "5_0"
    assert parse_where_value(" 5") == " 5"
    assert parse_where_value("abc") == "abc"
