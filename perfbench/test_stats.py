"""Tests for the benchmark's own statistics and span bookkeeping.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from perfbench.stats import covered, percentile, ratio, self_time, summarize, tail_percentile
from perfbench.trace import Trace, jobs_wall, layer_metrics


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    assert percentile(xs, 80) == 4.0
    assert percentile(xs, 81) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, pct", [(10, None), (11, 9), (21, 52), (40, 75), (100, 90),
                                    (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        xs = list(range(n))
        value = percentile(xs, pct)
        assert sum(1 for x in xs if x > value) >= 10
        # one percentile higher would leave fewer than ten beyond
        if pct < 99:
            assert sum(1 for x in xs if x > percentile(xs, pct + 1)) < 10


def test_summarize_reports_tail_with_its_percentile():
    xs = [float(i) for i in range(1, 41)]  # 1..40
    s = summarize(xs)
    assert s["n"] == 40
    assert s["p50"] == 20.5
    assert s["tail_pct"] == 75
    assert s["tail"] == 30.0
    assert sum(1 for x in xs if x > s["tail"]) == 10


def test_summarize_falls_back_to_max_below_a_supported_tail():
    # 12 samples: the highest percentile with ten beyond is p16, under the
    # median, so no tail is supported and the maximum stands in.
    xs = [float(i) for i in range(12)]
    s = summarize(xs)
    assert (s["tail_pct"], s["tail"]) == (100, 11.0)
    assert summarize([])["n"] == 0


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert covered(0, 10, [(11, 12)]) == 0
    assert covered(0, 10, [(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    # span 0..10; children 1..4 and 3..6 overlap; a job 8..9 it ran itself
    assert self_time(0, 10, [(1, 4), (3, 6), (8, 9)]) == 10 - 5 - 1
    assert self_time(0, 10, []) == 10


def test_ratio_carries_its_base():
    assert ratio(3, 4) == {"value": 0.75, "num": 3, "base": 4}
    assert ratio(3, 0)["value"] == 0.0


def _span(sid, name, layer, parent, start, end, **kw):
    return {"id": sid, "name": name, "layer": layer, "parent": parent,
            "start": start, "end": end, **kw}


def _job(span, start, end, **kw):
    rec = {"job": 0, "span": span, "status": "SUCCEEDED", "start": start, "end": end,
           "stages": 1, "tasks": 4, "failed_tasks": 0, "run_s": 2.0, "cpu_s": 1.0,
           "gc_s": 0.0, "input_bytes": 100, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    rec.update(kw)
    return rec


def test_layer_metrics_self_time_and_job_attribution():
    spans = [
        _span(0, "q", "query", None, 0.0, 10.0),
        _span(1, "plans.build", "plans", 0, 0.0, 6.0),
        _span(2, "sources.readers.load_table", "sources.readers", 1, 0.5, 1.5),
        _span(3, "operators.dedup.near_dup_pairs", "operators", 1, 2.0, 5.0),
        _span(4, "session.truncate_lineage", "session", 3, 3.0, 4.5),
        _span(5, "plans.plan", "plans", 0, 6.0, 6.5),
        _span(6, "spark.execute", "spark", 0, 6.5, 10.0),
    ]
    jobs = [
        _job(2, 1.0, 1.4),   # schema inference inside load_table
        _job(1, 5.2, 5.8),   # a job the builder ran itself
        _job(4, 3.2, 4.4),   # lineage cut inside the operator
        _job(6, 6.6, 9.9),   # the query's execution
    ]
    m, bases = layer_metrics(spans, jobs, passes=1, cores=4)
    # build self: 6 s minus children (1 s + 3 s) minus its own job (0.6 s)
    assert m["plans.build_s"] == pytest.approx(1.4)
    assert m["plans.build_jobs"] == 3
    assert m["plans.build_jobs_s"] == pytest.approx(0.4 + 1.2 + 0.6)
    assert m["plans.plan_s"] == pytest.approx(0.5)
    assert m["sources.readers.load_table_calls"] == 1
    assert m["sources.readers.load_table_jobs"] == 1
    assert m["sources.readers.load_table_s"] == pytest.approx(1.0)
    # operator self: 3 s minus the truncate_lineage child (1.5 s)
    assert m["operators.calls"] == 1
    assert m["operators.self_s"] == pytest.approx(1.5)
    assert m["operators.jobs"] == 1
    assert m["session.truncate_lineage_calls"] == 1
    assert m["session.truncate_lineage_s"] == pytest.approx(1.5)
    assert m["spark.jobs"] == 4
    assert m["spark.exec_s"] == pytest.approx(0.4 + 0.6 + 1.2 + 3.3)
    assert m["spark.executor_run_s"] == 8.0
    assert bases["plans.build_share"] == {"value": 0.6, "num": 6.0, "base": 10.0}
    assert bases["spark.slot_busy_ratio"]["base"] == pytest.approx(5.5 * 4)
    assert bases["spark.slot_busy_ratio"]["value"] == pytest.approx(8.0 / 22.0)
    # zero base (no curate in this trace): the ratio reads 0, base says why
    assert bases["plans.pipeline.raw_read_amplification"] == {"value": 0.0, "num": 0, "base": 0}


def test_layer_metrics_are_per_pass():
    spans = [_span(0, "q", "query", None, 0.0, 2.0),
             _span(1, "sources.readers.load_table", "sources.readers", 0, 0.0, 1.0),
             _span(2, "q", "query", None, 2.0, 4.0),
             _span(3, "sources.readers.load_table", "sources.readers", 2, 2.0, 3.0)]
    m, _ = layer_metrics(spans, [], passes=2, cores=4)
    assert m["sources.readers.load_table_calls"] == 1
    assert m["sources.readers.load_table_s"] == pytest.approx(1.0)


def test_outermost_skips_nested_calls_of_the_same_layer():
    spans = [_span(0, "a", "operators", None, 0, 4),
             _span(1, "b", "operators", 0, 1, 2),
             _span(2, "c", "session", 0, 2, 3),
             _span(3, "d", "operators", 2, 2.1, 2.9)]
    t = Trace(spans, [])
    assert [s["id"] for s in t.outermost(lambda s: s["layer"] == "operators")] == [0]


def test_jobs_wall_unions_concurrent_jobs():
    assert jobs_wall([_job(0, 0.0, 2.0), _job(0, 1.0, 3.0), _job(0, 5.0, 6.0)]) == 4.0
    assert jobs_wall([_job(0, None, None)]) == 0.0
