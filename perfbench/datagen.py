"""Benchmark inputs, generated from seeds and cached on disk.

Two datasets:

- ``tables(root)``: the ten analytics tables at sf0.1, one parquet file per
  table, in the layout ``sources.readers.load_table`` reads.  They follow
  the sf0.1 test tables the engine is developed against: the same schemas
  and parquet types (``events.ts`` is TIMESTAMP(MICROS), not adjusted to
  UTC), row counts, key cardinalities and value ranges, a 30-word document
  vocabulary with 5% near-duplicate documents, and unit 64-d embeddings.
  The tables come from a fixed recipe seed, so every benchmark seed sees
  the same data; the benchmark seed only orders the query mix.
- ``raw_events(root, seed, ...)``: raw NDJSON for the curate workload from
  the repo's own fixture generator (``tests/eventgen.py``), laid out as
  ``source_system=app/ingestion_date=YYYY-MM-DD/events.json``, with one
  fault-injected date and a late batch for one date.

Each dataset lives in a directory named by its recipe version and seed and
is published with a ``_DONE`` marker, so an interrupted build is redone
and a changed recipe never reads a stale cache.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_RECIPE = "tables-v2"
RAW_RECIPE = "raw-v2"
TABLES_SEED = 20240101

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
NAME_ADJ = "blue cold hot large new old red small".split()
NAME_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _publish(tmp: str, out: str) -> None:
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    if os.path.exists(out):
        shutil.rmtree(out)
    os.replace(tmp, out)


def _cached(out: str) -> bool:
    return os.path.exists(os.path.join(out, "_DONE"))


def _days(rng, n, start: date, end: date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tmp: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))


def tables(root: str) -> str:
    """Build (once) and return the directory of the sf0.1-shaped tables."""
    out = os.path.join(root, f"{TABLES_RECIPE}-s{TABLES_SEED}")
    if _cached(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(TABLES_SEED)

    _write(tmp, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(tmp, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = 15_000
    _write(tmp, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    })
    n = 1_000
    _write(tmp, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = 20_000
    _write(tmp, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(NAME_ADJ, n), rng.choice(NAME_NOUN, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
    })
    n = 150_000
    _write(tmp, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n, date(1995, 1, 1), date(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = 600_000
    _write(tmp, "lineitem", {
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, date(1995, 1, 2), date(2001, 11, 4)),
    })
    n = 100_000
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
    _write(tmp, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts,
        "user_id": rng.integers(0, 1_500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(tmp, "documents", _documents(rng, 5_000))
    n = 2_000
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(tmp, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    _publish(tmp, out)
    return out


def _documents(rng, n: int) -> dict:
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 101, n)]
    # 5% near-duplicates (one word replaced by "dup") and a few exact copies:
    # the shapes the dedup, near-dup and leakage queries look for.
    for i in rng.choice(n, n // 20, replace=False):
        words = texts[int(rng.integers(0, n))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def raw_dates(n_dates: int, start: date = date(2025, 1, 1)) -> list[str]:
    return [(start + timedelta(days=i)).isoformat() for i in range(n_dates)]




def partition(base: str, d: str) -> str:
    return os.path.join(base, "source_system=app", f"ingestion_date={d}")


def profile_ndjson(part: str) -> dict:
    """Rows, null user ids and duplicated event ids over a partition's files."""
    rows = null_users = 0
    seen: dict[str, int] = {}
    for name in sorted(os.listdir(part)):
        with open(os.path.join(part, name)) as f:
            for line in f:
                ev = json.loads(line)
                rows += 1
                null_users += ev["user_id"] is None
                seen[ev["event_id"]] = seen.get(ev["event_id"], 0) + 1
    return {"rows": rows, "null_users": null_users,
            "dup_ids": sum(1 for n in seen.values() if n > 1)}


def raw_events(root: str, seed: int, dates: list[str], rows_per_date: int,
               bad_date: str, late_date: str, late_rows: int) -> tuple[str, str, dict]:
    """Build (once per seed) the raw NDJSON trees with the repo's fixture
    generator (``tests.eventgen``: UUID event ids, 2% null users, 1%
    duplicates, both inside the DQ gate).

    Returns ``(raw, raw_late, manifest)``.  ``raw`` holds every date plus
    the fault-injected ``bad_date`` (a 10% null-user rate, past the gate's
    3% ceiling); ``raw_late`` holds ``late_date`` again with a late batch of
    ``late_rows`` new events (``late.json``) beside the original file.  The
    manifest profiles each partition (see ``profile_ndjson``): ``raw`` by
    date, and ``late`` for the late date's partition in ``raw_late``.
    """
    from tests.eventgen import generate_raw_events

    key = f"{RAW_RECIPE}-s{seed}-d{len(dates)}x{rows_per_date}-l{late_rows}"
    out = os.path.join(root, key)
    if not _cached(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        raw, late = os.path.join(tmp, "raw"), os.path.join(tmp, "raw_late")
        generate_raw_events(raw, dates, rows_per_date, seed=seed)
        generate_raw_events(raw, [bad_date], rows_per_date, null_user_rate=0.10, seed=seed)
        shutil.copytree(partition(raw, late_date), partition(late, late_date))
        # Another seed and an id prefix, so the late batch repeats no event.
        generate_raw_events(late, [late_date], late_rows, seed=seed + 1_000_003,
                            id_prefix="late-", filename="late.json")
        manifest = {"raw": {d: profile_ndjson(partition(raw, d)) for d in [*dates, bad_date]},
                    "late": profile_ndjson(partition(late, late_date))}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        _publish(tmp, out)
    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)
    return os.path.join(out, "raw"), os.path.join(out, "raw_late"), manifest
