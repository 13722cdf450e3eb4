"""The benchmark's workloads.

Load is one process with one driver thread in a closed loop: the next
operation starts when the previous one finishes.  Each workload

- ``prepare()``s its inputs (cached on disk, outside every timer),
- runs one fixed ``warmup_action`` (part of ``setup_s``),
- warms up with a fixed number of untimed passes (see ``WARMUP_PASSES``),
- runs the timed passes, then, when tracing is on, traced passes (spans and
  Spark counters come only from traced passes; end-to-end numbers only from
  untraced ones),
- ``check()``s its outputs, untimed.

An operation that raises is counted as failed and the run goes on.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import shutil
import time
import traceback

from perfbench import datagen

# One timed pass takes about this long on a 4-core box; ``--seconds`` buys
# round(seconds / NOMINAL_PASS_S) timed passes, at least two.  A fixed count,
# not a deadline, so every run has the same sample count.
NOMINAL_PASS_S = 5.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat;
    (0, 0) where that cannot be read.  Steal is time a virtual CPU was ready
    but the hypervisor ran something else: noise from outside the program."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return 0, 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def digest_tree(path: str) -> dict[str, str]:
    out = {}
    for rel in dir_files(path):
        if rel.endswith(".parquet"):
            with open(os.path.join(path, rel), "rb") as f:
                out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out


class Workload:
    name = ""
    # Untimed passes before the timed ones.  Pass totals keep falling for
    # ten passes or more while the JVM compiles Spark's hot paths (on a 4-core
    # box its compile time per curate pass goes 18, 9, 6, 4.5 s, ... 2 s by
    # the twelfth), but most of the drop is in the first two or three.  A
    # fixed count puts every run's timed passes at the same point of that
    # curve; the time allowed for a full set of benchmark runs sets how far.
    WARMUP_PASSES = 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed)
        self.samples: list[tuple[str, float, int]] = []  # (kind, seconds, rows), untraced
        self.failures: list[str] = []
        self.attempted = 0
        self.pass_walls = {"untraced": [], "traced": []}
        self.pass_busy_s: list[float] = []  # summed sample latency of each timed pass
        self.pass_steal: list[float] = []  # steal share of each timed pass
        self.traced_passes = 0
        self.warmup_totals: list[float] = []

    # -- helpers -------------------------------------------------------
    def fail(self, what: str, exc: BaseException | None = None) -> None:
        msg = what if exc is None else f"{what}: {type(exc).__name__}: {str(exc)[:300]}"
        self.failures.append(msg)
        if exc is not None:
            traceback.print_exception(exc, limit=3)

    def timed_passes(self, seconds: int) -> int:
        return max(2, round(seconds / NOMINAL_PASS_S))

    def run(self, spark, seconds: int, tracer) -> None:
        """Run ``WARMUP_PASSES`` untimed passes, then ``timed_passes``
        untraced ones.  With a tracer, traced passes follow: half as many as
        the timed ones, at least one."""
        for _ in range(self.WARMUP_PASSES):
            t0 = time.perf_counter()
            self.one_pass(spark, None, record=False)
            self.warmup_totals.append(time.perf_counter() - t0)
        for _ in range(self.timed_passes(seconds)):
            mark, st0 = len(self.samples), cpu_steal()
            t0 = time.perf_counter()
            self.one_pass(spark, None, record=True)
            self.pass_walls["untraced"].append(time.perf_counter() - t0)
            self.pass_steal.append(steal_share(st0, cpu_steal()))
            self.pass_busy_s.append(sum(dt for _, dt, _ in self.samples[mark:]))
        if tracer is None:
            return
        tracer.install()
        try:
            for i in range(max(1, len(self.pass_walls["untraced"]) // 2)):
                tracer.tag = {"pass": i}
                t0 = time.perf_counter()
                self.one_pass(spark, tracer, record=False)
                self.pass_walls["traced"].append(time.perf_counter() - t0)
                self.traced_passes += 1
        finally:
            tracer.uninstall()

    def is_op(self, kind: str) -> bool:
        """Whether samples of ``kind`` are the workload's end-to-end ops."""
        return True

    def op(self, kind: str, fn, record: bool, expect=None, rows: int = 0):
        """Run one operation, keeping its latency sample when ``record``; a
        raise (other than ``expect``) fails it."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as ex:  # noqa: BLE001 — any failure is counted
            if expect is not None and isinstance(ex, expect):
                out = ex
            else:
                self.fail(kind, ex)
                return None
        dt = time.perf_counter() - t0
        if record:
            self.samples.append((kind, dt, rows))
        return out


# ---------------------------------------------------------------------------
class Analytics(Workload):
    """A fixed mix of registered queries over the sf0.1-shaped tables, in a
    seed-shuffled order each pass, each built, planned and executed into the
    ``noop`` sink."""

    name = "analytics_sf0.1"
    # An odd number of queries with well-separated costs puts the median
    # sample inside one query's samples rather than between two queries.
    MIX = (
        "events_per_day",          # orchestration floor: 4 jobs for a group-by
        "q1_pricing_summary",      # lineitem scan + aggregation
        "orders_price_deciles",    # operators.ranking bucketed_global_rank + lineage cut
        "docs_near_dup_pairs",     # operators.dedup minhash LSH; jobs during the build
        "media_decode_profile",    # operators.multimodal Arrow UDF in Python workers
    )
    WARMUP_QUERY = "events_per_day"

    def prepare(self) -> None:
        self.data = datagen.tables(os.path.join(self.work, "data"))
        self.oracles = {q: self._oracle(q) for q in self.MIX}

    def _oracle(self, name: str):
        """The DuckDB oracle's answer, cached per data recipe and SQL text."""
        from prod_data_pipeline_spark.plans.queries import QUERIES
        from tests.parity import oracle_df

        sql = QUERIES[name].oracle
        key = hashlib.sha256(f"{datagen.TABLES_RECIPE}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(self.work, "oracle", f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        df = oracle_df(sql, self.data)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(df, f)
        os.replace(path + ".tmp", path)
        return df

    def warmup_action(self, spark) -> None:
        self._query(spark, self.WARMUP_QUERY, None)

    def _query(self, spark, name: str, tracer):
        from prod_data_pipeline_spark.plans.queries import QUERIES

        fn = QUERIES[name].fn
        if tracer is None:
            fn(spark, self.data).write.format("noop").mode("overwrite").save()
            return
        with tracer.span(name, "query") as q:
            with tracer.span("plans.build", "plans"):
                df = fn(spark, self.data)
            with tracer.span("plans.plan", "plans"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute", "spark"):
                df.write.format("noop").mode("overwrite").save()
        q["parts_s"] = sum(
            s["end"] - s["start"] for s in tracer.spans[q["id"] + 1:]
            if s["parent"] == q["id"]
        )

    def one_pass(self, spark, tracer, record: bool) -> None:
        order = list(self.MIX)
        self.rng.shuffle(order)
        for name in order:
            self.op(name, lambda n=name: self._query(spark, n, tracer), record)

    def check(self, spark) -> None:
        from prod_data_pipeline_spark.plans.queries import QUERIES
        from tests.parity import assert_frames_match

        for name in self.MIX:
            self.attempted += 1
            try:
                mine = QUERIES[name].fn(spark, self.data).toPandas()
                assert_frames_match(mine, self.oracles[name], name)
            except Exception as ex:  # noqa: BLE001
                self.fail(f"check {name}", ex)

    def raw_bytes(self) -> int:
        return 0


# ---------------------------------------------------------------------------
ATHENA_QUERIES = {
    "curated_per_partition_counts": """
        SELECT ingestion_date, COUNT(*) AS event_count
        FROM curated GROUP BY ingestion_date ORDER BY ingestion_date""",
    "curated_null_totals": """
        SELECT SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS null_event_id,
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user_id,
               SUM(CASE WHEN amount IS NULL THEN 1 ELSE 0 END) AS null_amount
        FROM curated""",
    "curated_dup_top20": """
        SELECT event_id, COUNT(*) AS n FROM curated
        GROUP BY event_id HAVING COUNT(*) > 1
        ORDER BY n DESC, event_id LIMIT 20""",
}


class Curate(Workload):
    """Seeded raw NDJSON through the DQ-gated curate pipeline: a sequential
    backfill, a late-data rerun, one fault-injected date, and the reference's
    three inspection queries over the curated table."""

    name = "curate_backfill"
    WARMUP_PASSES = 3
    N_DATES = 2
    ROWS_PER_DATE = 50_000
    LATE_ROWS = 2_000
    BAD_DATE = "2025-02-01"

    def prepare(self) -> None:
        self.dates = datagen.raw_dates(self.N_DATES)
        self.late_date = self.dates[len(self.dates) // 2]
        self.raw, self.raw_late, self.manifest = datagen.raw_events(
            os.path.join(self.work, "data"), self.seed, self.dates, self.ROWS_PER_DATE,
            self.BAD_DATE, self.late_date, self.LATE_ROWS)
        self.cycles = 0
        self.stored_bytes: list[float] = []
        self.checks: list[str] = []

    def _fresh_root(self, tag: str) -> str:
        root = os.path.join(self.work, "tmp", tag)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        return root

    def warmup_action(self, spark) -> None:
        from prod_data_pipeline_spark.plans.pipeline import curate

        root = self._fresh_root("setup")
        curate(spark, self.raw, self.dates[0], f"{root}/curated", f"{root}/metrics")
        shutil.rmtree(root, ignore_errors=True)

    def one_pass(self, spark, tracer, record: bool) -> None:
        from prod_data_pipeline_spark.plans.pipeline import DQGateError, backfill, curate
        from prod_data_pipeline_spark.sources.readers import read_curated

        self.cycles += 1
        root = self._fresh_root(f"cycle-{self.cycles}")
        cur, met = f"{root}/curated", f"{root}/metrics"

        def step(name, fn, rows, expect=None):
            if tracer is None:
                return self.op("curate", fn, record, expect, rows)
            # Files written are counted after the span closes, so the
            # directory walk stays out of every layer's time.
            before = dir_files(cur)
            with tracer.span(name, "op") as rec:
                out = self.op("curate", fn, record, expect, rows)
            new = {k: v for k, v in dir_files(cur).items()
                   if k.endswith(".parquet") and before.get(k) != v}
            rec["files_written"], rec["bytes_written"] = len(new), sum(new.values())
            return out

        rows = {d: p["rows"] for d, p in self.manifest["raw"].items()}
        # 1. sequential backfill over the range, one date per backfill call so
        #    each date is its own latency sample
        for d in self.dates:
            step(f"backfill {d}", lambda d=d: backfill(spark, self.raw, d, d, cur, met), rows[d])
        # 2. late events appended to one date; rerun must leave the other
        #    partitions byte-identical
        before = {d: digest_tree(os.path.join(cur, f"ingestion_date={d}"))
                  for d in self.dates if d != self.late_date}
        late = self.late_date
        step(f"rerun {late}", lambda: backfill(spark, self.raw_late, late, late, cur, met),
             self.manifest["late"]["rows"])
        after = {d: digest_tree(os.path.join(cur, f"ingestion_date={d}")) for d in before}
        if before != after:
            self.checks.append("rerun changed another partition")
        # 3. a fault-injected date must fail the gate and leave curated untouched
        bad = self.BAD_DATE
        out = step(f"gate {bad}", lambda: curate(spark, self.raw, bad, cur, met), rows[bad],
                   expect=DQGateError)
        if out is not None and not isinstance(out, DQGateError):
            self.checks.append(f"fault-injected date {bad} passed the gate")
        if os.path.exists(os.path.join(cur, f"ingestion_date={bad}")):
            self.checks.append(f"failed date {bad} left a curated partition")
        # 4. the reference's inspection queries over the curated table
        results = {}
        for qname, sql in ATHENA_QUERIES.items():
            def run_sql(sql=sql):
                read_curated(spark, cur).createOrReplaceTempView("curated")
                return spark.sql(sql).collect()
            if tracer is None:
                results[qname] = self.op("query", run_sql, record)
            else:
                with tracer.span(qname, "query"):
                    results[qname] = self.op("query", run_sql, record)
        self._check_results(results)
        if record:
            raw = sum(os.path.getsize(os.path.join(datagen.partition(self.raw, d), "events.json"))
                      for d in self.dates if d != late)
            raw += sum(dir_files(datagen.partition(self.raw_late, late)).values())
            self.stored_bytes.append(
                sum(v for k, v in dir_files(cur).items() if k.endswith(".parquet")) / raw)
        shutil.rmtree(root, ignore_errors=True)

    def is_op(self, kind: str) -> bool:
        # The inspection queries count in each pass's busy time (so in
        # ops_per_s) but their latencies are reported apart: mixed into one
        # sample they would put the median on the boundary between query and
        # curate latencies.
        return kind == "curate"

    def _check_results(self, results: dict) -> None:
        counts = results.get("curated_per_partition_counts")
        if counts is None:
            return  # the failed query is already counted
        final = self.final_profiles()
        want = {d: p["rows"] for d, p in final.items()}
        got = {str(r["ingestion_date"]): r["event_count"] for r in counts}
        if got != want:
            self.checks.append(f"curated counts {got} != generated {want}")
        nulls = results.get("curated_null_totals")
        if nulls is not None:
            want_nulls = sum(p["null_users"] for p in final.values())
            if nulls[0]["null_user_id"] != want_nulls or nulls[0]["null_event_id"] != 0:
                self.checks.append(f"null totals {nulls[0].asDict()} != {want_nulls}")
        dups = results.get("curated_dup_top20")
        if dups is not None:
            n_dup_ids = sum(p["dup_ids"] for p in final.values())
            if len(dups) != min(20, n_dup_ids) or any(r["n"] != 2 for r in dups):
                self.checks.append(f"dup top-20 has {len(dups)} rows, {n_dup_ids} dup ids")

    def check(self, spark) -> None:
        self.attempted += 1
        if self.checks:
            self.fail("curate checks: " + "; ".join(sorted(set(self.checks))))

    def final_profiles(self) -> dict[str, dict]:
        """Per date, the profile of the raw input its curated partition
        holds at the end of a pass (the late date's includes the late batch)."""
        out = {d: self.manifest["raw"][d] for d in self.dates}
        out[self.late_date] = self.manifest["late"]
        return out

    def raw_bytes(self) -> int:
        """Raw bytes one pass reads: every date once, the late date twice
        (backfill, then rerun with the late batch), and the faulty date."""
        total = sum(os.path.getsize(os.path.join(datagen.partition(self.raw, d), "events.json"))
                    for d in [*self.dates, self.BAD_DATE])
        return total + sum(dir_files(datagen.partition(self.raw_late, self.late_date)).values())


WORKLOADS = {w.name: w for w in (Analytics, Curate)}
