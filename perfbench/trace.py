"""Spans around the engine's layer calls, and Spark counters per span.

The benchmark measures the engine from outside: ``Tracer.install`` swaps
each layer's public functions for timing wrappers in every loaded engine
module that references them (module-level and in-function imports both
resolve through those module attributes), and ``uninstall`` puts the
originals back.  Each span gets its own Spark job group, so every job is
attributed to the innermost span that launched it; after each root span
(one query, or one pipeline step) the tracer drains the listener bus and
reads Spark's in-process status store for those groups, before the store's
retention limit can evict them.

Spans stay in memory; ``Tracer.spans`` / ``Tracer.jobs`` are summarized by
``layer_metrics`` and written out by the runner when the run ends.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import sys
import time
from contextlib import contextmanager

from perfbench.stats import covered, ratio, self_time

PKG = "prod_data_pipeline_spark"


def layer_targets() -> list[tuple[object, str, str]]:
    """(module, function name, layer) for every traced layer function."""
    from prod_data_pipeline_spark import operators, session
    from prod_data_pipeline_spark.plans import pipeline
    from prod_data_pipeline_spark.sources import readers, writers

    targets = [
        (session, "truncate_lineage", "session"),
        (session, "compact_for_sort", "session"),
        (readers, "load_table", "sources.readers"),
        (readers, "read_events_ndjson", "sources.readers"),
        (readers, "read_curated", "sources.readers"),
        (pipeline, "curate", "plans.pipeline"),
        (pipeline, "backfill", "plans.pipeline"),
        (pipeline, "dq_profile", "plans.pipeline"),
        (writers, "write_curated", "sources.writers"),
        (writers, "write_json_report", "sources.writers"),
    ]
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                    and not name.startswith("_")):
                targets.append((mod, name, "operators"))
    return targets


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[int] = []  # spans whose jobs are not read yet
        self._seen_stages: set[int] = set()
        self._patches: list[tuple[object, str, object, object]] = []
        self.tag: dict = {}
        self.store_s = 0.0  # time spent reading the status store

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               **self.tag, **attrs}
        self.spans.append(rec)
        self._pending.append(sid)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb-{sid}", name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
                self.collect()
            else:
                self.sc.setJobGroup(f"pb-{parent}", self.spans[parent]["name"])

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        if self._patches:
            return
        for mod, attr, layer in layer_targets():
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, f"{layer}.{attr}", layer)
            for m in [m for n, m in sys.modules.items() if n.startswith(PKG) and m]:
                for key, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, key, wrapped)
                        self._patches.append((m, key, orig, wrapped))

    def uninstall(self) -> None:
        for m, key, orig, _ in reversed(self._patches):
            setattr(m, key, orig)
        self._patches = []

    # -- Spark status store -------------------------------------------
    def collect(self) -> None:
        """Read the jobs and stages of every span closed since the last call."""
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sid in self._pending:
            for job_id in tracker.getJobIdsForGroup(f"pb-{sid}"):
                self.jobs.append(self._job(store, job_id, sid))
        self._pending = []
        self.store_s += time.perf_counter() - t0

    def _job(self, store, job_id: int, sid: int) -> dict:
        j = store.job(job_id)
        sub, done = j.submissionTime(), j.completionTime()
        rec = {
            "job": job_id, "span": sid, "status": j.status().toString(),
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            "stages": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        ids = j.stageIds()
        for i in range(ids.size()):
            stage_id = ids.apply(i)
            if stage_id in self._seen_stages:
                continue
            s = store.lastStageAttempt(stage_id)
            if s.status().toString() in ("SKIPPED", "PENDING"):
                continue
            self._seen_stages.add(stage_id)
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            rec["failed_tasks"] += s.numFailedTasks()
            rec["run_s"] += s.executorRunTime() / 1e3
            rec["cpu_s"] += s.executorCpuTime() / 1e9
            rec["gc_s"] += s.jvmGcTime() / 1e3
            rec["input_bytes"] += s.inputBytes()
            rec["shuffle_read_bytes"] += s.shuffleReadBytes()
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return rec


# -- summaries -------------------------------------------------------------
def _children(spans):
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def _job_iv(j) -> tuple[float, float] | None:
    if j["start"] is None or j["end"] is None:
        return None
    return (j["start"], j["end"])


class Trace:
    """Indexes over one run's spans and jobs, for the per-layer summary."""

    def __init__(self, spans: list[dict], jobs: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.kids = _children(spans)
        self.own_jobs: dict[int, list[dict]] = {}
        for j in jobs:
            self.own_jobs.setdefault(j["span"], []).append(j)
        self.jobs = jobs

    def subtree_jobs(self, sid: int) -> list[dict]:
        out = list(self.own_jobs.get(sid, []))
        for c in self.kids.get(sid, []):
            out += self.subtree_jobs(c["id"])
        return out

    def self_s(self, s: dict) -> float:
        busy = [(c["start"], c["end"]) for c in self.kids.get(s["id"], [])]
        busy += [iv for iv in map(_job_iv, self.own_jobs.get(s["id"], [])) if iv]
        return self_time(s["start"], s["end"], busy)

    def outermost(self, pred) -> list[dict]:
        """Spans matching ``pred`` with no matching ancestor."""
        out = []
        for s in self.spans:
            if not pred(s):
                continue
            p = s["parent"]
            while p is not None and not pred(self.by_id[p]):
                p = self.by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out


def jobs_wall(jobs: list[dict]) -> float:
    ivs = [iv for iv in map(_job_iv, jobs) if iv]
    if not ivs:
        return 0.0
    return covered(min(a for a, _ in ivs), max(b for _, b in ivs), ivs)


def spark_sums(jobs: list[dict]) -> dict:
    keys = ("stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    out = {k: sum(j[k] for j in jobs) for k in keys}
    out["jobs"] = len(jobs)
    out["wall_s"] = jobs_wall(jobs)
    return out


def layer_metrics(spans: list[dict], jobs: list[dict], passes: int, cores: int,
                  raw_bytes: int = 0) -> tuple[dict, dict]:
    """Per-layer metrics, normalized per traced pass, plus ratio bases.

    ``<fn>_calls``/``<fn>_s``/``<fn>_jobs`` count a function's outermost
    calls, their inclusive time and every Spark job launched beneath them.
    ``plans.build_s`` and ``operators.self_s`` are self times: span time not
    covered by child spans or by Spark jobs the span launched itself.

    The end-to-end metric each layer should move (A = analytics_sf0.1,
    C = curate_backfill; an op is a query in A, a date or query in C):

    - session.get_spark_s, first_action_s -> setup_s (A, C)
    - session.truncate_lineage_*, operators.* -> op_p50_s, ops_per_s (A)
    - sources.readers.load_table_* -> op_p50_s (A); no change on C, whose
      schema is explicit
    - sources.readers.read_events_ndjson_s, plans.pipeline.*,
      sources.writers.* -> ops_per_s, op_p50_s (C)
    - sources.readers.read_curated_* -> the query ops of C
    - plans.build_*, plans.plan_s, spark.jobs/stages/tasks/exec_s,
      spark.slot_busy_ratio -> op_p50_s (A), where the driver-side floor is
    - spark.executor_*, input/shuffle bytes -> ops_per_s (A, C)
    - spark.spill_bytes, spark.gc_s -> op_tail_s, reported in detail (A, C)
    - spark.failed_tasks -> failed / attempted (A, C)
    """
    t = Trace(spans, jobs)
    per = 1.0 / max(passes, 1)
    m: dict[str, float] = {}
    bases: dict[str, dict] = {}

    def fn_metrics(prefix: str, name: str, want: tuple[str, ...]):
        calls = t.outermost(lambda s: s["name"] == f"{prefix}.{name}")
        if "calls" in want:
            m[f"{prefix}.{name}_calls"] = len(calls) * per
        if "s" in want:
            m[f"{prefix}.{name}_s"] = sum(s["end"] - s["start"] for s in calls) * per
        if "jobs" in want:
            m[f"{prefix}.{name}_jobs"] = sum(len(t.subtree_jobs(s["id"])) for s in calls) * per
        return calls

    fn_metrics("session", "truncate_lineage", ("calls", "s"))
    fn_metrics("sources.readers", "load_table", ("calls", "s", "jobs"))
    fn_metrics("sources.readers", "read_events_ndjson", ("s",))
    fn_metrics("sources.readers", "read_curated", ("s", "jobs"))

    queries = [s for s in spans if s["layer"] == "query"]
    builds = [s for s in spans if s["name"] == "plans.build"]
    build_jobs = [j for s in builds for j in t.subtree_jobs(s["id"])]
    m["plans.build_s"] = sum(t.self_s(s) for s in builds) * per
    m["plans.build_jobs"] = len(build_jobs) * per
    m["plans.build_jobs_s"] = sum(jobs_wall(t.subtree_jobs(s["id"])) for s in builds) * per
    m["plans.plan_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "plans.plan") * per
    wall = sum(s["end"] - s["start"] for s in queries)
    share = ratio(sum(s["end"] - s["start"] for s in builds), wall)
    m["plans.build_share"] = share["value"]
    bases["plans.build_share"] = share

    ops = [s for s in spans if s["layer"] == "operators"]
    top_ops = t.outermost(lambda s: s["layer"] == "operators")
    m["operators.calls"] = len(ops) * per
    m["operators.self_s"] = sum(t.self_s(s) for s in ops) * per
    m["operators.jobs"] = sum(len(t.subtree_jobs(s["id"])) for s in top_ops) * per

    curates = fn_metrics("plans.pipeline", "curate", ("s", "jobs"))
    fn_metrics("plans.pipeline", "dq_profile", ("s",))
    curate_input = sum(j["input_bytes"] for s in curates for j in t.subtree_jobs(s["id"]))
    amp = ratio(curate_input, raw_bytes)
    m["plans.pipeline.raw_read_amplification"] = amp["value"]
    bases["plans.pipeline.raw_read_amplification"] = amp

    fn_metrics("sources.writers", "write_curated", ("s",))
    fn_metrics("sources.writers", "write_json_report", ("s",))
    # Parquet files new or changed under the curated base, counted by the
    # workload around each root span; write_curated is their only writer.
    m["sources.writers.files_written"] = sum(s.get("files_written", 0) for s in spans) * per
    m["sources.writers.bytes_written"] = sum(s.get("bytes_written", 0) for s in spans) * per

    sp = spark_sums(jobs)
    m["spark.jobs"] = sp["jobs"] * per
    m["spark.stages"] = sp["stages"] * per
    m["spark.tasks"] = sp["tasks"] * per
    m["spark.exec_s"] = sp["wall_s"] * per
    busy = ratio(sp["run_s"], sp["wall_s"] * cores)
    m["spark.slot_busy_ratio"] = busy["value"]
    bases["spark.slot_busy_ratio"] = busy
    m["spark.executor_run_s"] = sp["run_s"] * per
    m["spark.executor_cpu_s"] = sp["cpu_s"] * per
    m["spark.input_bytes"] = sp["input_bytes"] * per
    m["spark.shuffle_read_bytes"] = sp["shuffle_read_bytes"] * per
    m["spark.shuffle_write_bytes"] = sp["shuffle_write_bytes"] * per
    m["spark.spill_bytes"] = sp["spill_bytes"] * per
    m["spark.gc_s"] = sp["gc_s"] * per
    m["spark.failed_tasks"] = sp["failed_tasks"] * per
    return m, bases
