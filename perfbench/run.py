"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_sf0.1 --seed 1 --seconds 30 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` (and a
fixed recipe seed for the analytics tables) and cached under
``perfbench/.work``; Spark's local and temp files go there too.  The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, the same names on
every workload (an *op* is one query in ``analytics_sf0.1`` and one
``curate`` call, whether it passes the DQ gate or not, in
``curate_backfill``):

- ``setup_s``: process start until the session is built and the workload's
  first warm-up action is done, engine and pyspark imports included; only
  input generation and the cached DuckDB answers are left out;
- ``ops_per_s``: ops per timed pass over the median pass's busy time, the
  summed latency of every timed call in the pass (the closed loop's
  throughput).  In ``curate_backfill`` the busy time
  includes the inspection queries over ``read_curated``, so a slower read
  side shows here even though their latencies are not ops;
- ``op_p50_s``: median op latency.

The tail, ``op_tail_s``, is reported in ``detail`` and not gated: a run
has 8-10 op samples, too few for any percentile with ten samples beyond
it, so it is the maximum (``tail_pct`` 100), whose run-to-run spread (0.36
of its median over ten runs on a 4-vCPU VM with hypervisor steal) no
useful bound covers.

The line before the result, ``detail``, restates them under workload-specific names
(``queries_per_s``, ``curate_rows_per_s``, ``stored_bytes_per_raw_byte``,
``error_rate``, ...), with the tail percentile, sample counts and
``peak_rss_mb``, the high-water RSS of the driver JVM plus the Python driver
(reported, not gated: the JVM heap's adaptive growth moves it by 20-40%
from run to run), and ``timed_pass_steal``, the share of the machine's CPU
time a hypervisor took from its virtual CPUs during each timed pass.  On a
4-core VM a steal share of 0.05-0.10 slowed every op by 20-40%, so read a
slow run against it.

With ``--trace 1`` traced passes follow the untraced timed ones; the
metrics are the per-layer ones from the traced passes (see ``trace.py``),
and ``detail`` adds the tracing overhead against the untraced passes.
Spans and jobs are written to ``perfbench/.work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def process_age() -> float:
    """Seconds since this process started (Linux), else 0."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure_env() -> None:
    """Keep every file Spark writes inside the checkout, and let Python
    workers import the engine wherever the benchmark is run from."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp-sys")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp, for the
    # launcher JVM spark-submit starts first and for the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def end_to_end(wl, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    from perfbench.stats import summarize

    ops = [dt for kind, dt, _ in wl.samples if wl.is_op(kind)]
    s = summarize(ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / len(wl.pass_busy_s) / statistics.median(wl.pass_busy_s)
                      if ops else 0.0, "1/s"),
        "op_p50_s": (s["p50"], "s"),
    }
    err = len(wl.failures) / max(wl.attempted, 1)
    detail = {"n": s["n"], "op_tail_s": s["tail"], "tail_pct": s["tail_pct"],
              "timed_pass_busy_s": wl.pass_busy_s,
              "timed_pass_steal": wl.pass_steal,
              "samples": [(k, round(dt, 4)) for k, dt, _ in wl.samples],
              "warmup_pass_s": wl.warmup_totals, "setup_s": setup_s, "peak_rss_mb": rss_mb,
              "error_rate": err, "failures": wl.failures[:20]}
    if wl.name.startswith("analytics"):
        detail.update(queries_per_s=metrics["ops_per_s"][0], query_p50_s=s["p50"],
                      query_tail_s=s["tail"])
        per_query: dict[str, list[float]] = {}
        for kind, dt, _ in wl.samples:
            per_query.setdefault(kind, []).append(dt)
        detail["query_median_s"] = {k: statistics.median(v) for k, v in sorted(per_query.items())}
    else:
        dates = [dt for kind, dt, _ in wl.samples if kind == "curate"]
        queries = [dt for kind, dt, _ in wl.samples if kind == "query"]
        rows = sum(r for kind, _, r in wl.samples if kind == "curate")
        d, q = summarize(dates), summarize(queries)
        detail.update(
            curate_rows_per_s=rows / sum(dates) if dates else 0.0,
            curate_date_p50_s=d["p50"], curate_date_tail_s=d["tail"],
            curate_date_tail_pct=d["tail_pct"], curate_dates=d["n"],
            query_p50_s=q["p50"], query_tail_s=q["tail"], query_tail_pct=q["tail_pct"],
            queries=q["n"],
            stored_bytes_per_raw_byte=(statistics.median(wl.stored_bytes)
                                       if wl.stored_bytes else 0.0))
    return metrics, detail


def unit_of(name: str) -> str:
    """Unit of a per-layer metric; layer counters are per traced pass."""
    if name in ("session.get_spark_s", "session.first_action_s"):
        return "s"
    if name.endswith(("_share", "_ratio", "_amplification")):
        return "ratio"
    if name.endswith("_s"):
        return "s/pass"
    if name.endswith(("bytes", "bytes_written")):
        return "B/pass"
    return "count/pass"


def per_layer(wl, tracer, get_spark_s: float, first_action_s: float, cores: int):
    from perfbench.trace import layer_metrics

    m, bases = layer_metrics(tracer.spans, tracer.jobs, wl.traced_passes, cores,
                             raw_bytes=wl.raw_bytes() * wl.traced_passes)
    m["session.get_spark_s"] = get_spark_s
    m["session.first_action_s"] = first_action_s
    metrics = {k: (v, unit_of(k)) for k, v in m.items()}
    untraced = statistics.median(wl.pass_walls["untraced"])
    traced = statistics.median(wl.pass_walls["traced"])
    queries = [s for s in tracer.spans if s["layer"] == "query" and "parts_s" in s]
    cover = [s["parts_s"] / (s["end"] - s["start"]) for s in queries]
    detail = {
        "tracing_overhead": {"value": traced / untraced - 1.0, "traced_pass_s": traced,
                             "untraced_pass_s": untraced, "status_store_read_s": tracer.store_s},
        "build_plan_execute_over_wall": {"min": min(cover), "max": max(cover)} if cover else None,
        "ratio_bases": bases, "traced_passes": wl.traced_passes,
        "spans": len(tracer.spans), "jobs": len(tracer.jobs),
    }
    return metrics, detail


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main() -> int:
    age0 = process_age()
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "prod_data_pipeline_spark", "session.py")):
        print(f"no engine sources beside {HERE}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    configure_env()
    os.chdir(WORK)  # spark-warehouse/, derby.log and friends land here
    # Engine imports (pyspark and every query module with them) count in
    # setup_s; only the input generation below is left out.
    import prod_data_pipeline_spark.plans.pipeline  # noqa: F401
    import prod_data_pipeline_spark.plans.queries  # noqa: F401
    from prod_data_pipeline_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, WORK)
    pre0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - pre0

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    wl.warmup_action(spark)
    t2 = time.perf_counter()
    setup_s = age0 + (pre0 - t_start) + (t2 - t0)

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    try:
        wl.run(spark, args.seconds, tracer)
        wl.check(spark)
        rss = vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        rss += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        stop_spark(spark)

    if tracer is None:
        metrics, detail = end_to_end(wl, setup_s, rss)
    else:
        metrics, detail = per_layer(wl, tracer, t1 - t0, t2 - t1, cores)
        with open(os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "jobs": tracer.jobs}, f)
    detail.update(workload=wl.name, seed=args.seed, prepare_s=prepare_s,
                  run_s=time.perf_counter() - t_start)
    print(json.dumps({"detail": {k: detail[k] for k in sorted(detail)}}, default=str))
    for name, (value, unit) in metrics.items():
        print(f"  {name:44s} {value:14.6g} {unit}")
    print(json.dumps({
        "correct": not wl.failures and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
