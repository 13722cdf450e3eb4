"""operators.graph.pagerank vs a dense numpy power iteration, including
dangling-node mass redistribution and rank conservation."""

from __future__ import annotations

import numpy as np
import pytest


def _numpy_pagerank(n, edges, n_iters=10, d=0.85):
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iters):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[t] += r[s] / out_deg[s]
        dangling = r[out_deg == 0].sum()
        r = (1 - d) / n + d * (contrib + dangling / n)
    return r


@pytest.fixture(scope="module")
def small_graph():
    # 0->1, 0->2, 1->2, 2->0, 3->2 ; node 4 is dangling (appears as dst only)
    return [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)]


def test_pagerank_matches_numpy(spark, small_graph):
    from prod_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(small_graph, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=10).collect()}
    want = _numpy_pagerank(5, small_graph, n_iters=10)
    assert set(got) == set(range(5))
    for node, rank in got.items():
        assert rank == pytest.approx(want[node], abs=1e-12)
    # total rank is conserved (dangling mass redistributed, not lost)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_sink_attracts_mass(spark):
    """A node every other node points at must end up ranked first."""
    from prod_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, 9) for i in range(9)] + [(9, 0)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=15).collect()}
    assert max(ranks, key=ranks.get) == 9


def test_triangle_stats_known_graphs(spark):
    from prod_data_pipeline_spark.operators.graph import triangle_stats

    # 4-clique: 6 edges, 12 wedges (4 nodes x C(3,2)), 4 triangles, CC=1.0
    clique = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], ["id_a", "id_b"]
    )
    r = triangle_stats(clique).first()
    assert (r["n_edges"], r["n_wedges"], r["n_triangles"]) == (6, 12, 4)
    assert r["global_clustering"] == 1.0

    # path 1-2-3: one wedge, no triangle
    path = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    r = triangle_stats(path).first()
    assert (r["n_edges"], r["n_wedges"], r["n_triangles"]) == (2, 1, 0)
    assert r["global_clustering"] == 0.0


def test_pagerank_quantized_matches_numpy(spark):
    """The quantized recurrence stays within 1e-9 of an exact float64
    numpy power iteration (quantization bound: n_iters * 1e-12), and the
    rank ORDER is identical."""
    import numpy as np

    from prod_data_pipeline_spark.operators.graph import pagerank_quantized

    pairs = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["node"]: r["rank"] for r in pagerank_quantized(df, n_iters=6).collect()}

    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in pairs:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(6):
        r = 0.15 / n + 0.85 * (adj.T @ (r / deg))
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    # rank ORDER matches up to exact ties (nodes 0 and 1 are graph-symmetric)
    for a in nodes:
        for b in nodes:
            if r[idx[a]] - r[idx[b]] > 1e-9:
                assert got[a] > got[b], (a, b)


def test_min_hop_distance_known_chain(spark):
    """BFS hops on a hand-built chain 1-2-3-4-5 with a branch 3-6, seed=1:
    exact hop counts, max_hops cap honored, unreached nodes absent."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.operators.graph import min_hop_distance

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (8, 9)], ["id_a", "id_b"]
    )
    seeds = spark.createDataFrame([(1,)], ["doc_id"])
    got = {r["doc_id"]: r["hop"] for r in min_hop_distance(pairs, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 6: 3}  # 5 is 4 hops: capped out; 8,9 unreachable
    got2 = {r["doc_id"]: r["hop"] for r in min_hop_distance(pairs, seeds, max_hops=4).collect()}
    assert got2[5] == 4


def test_local_clustering_known_graph(spark):
    """Local cc on a known graph: triangle {1,2,3} plus pendant 3-4:
    cc(1)=cc(2)=1, cc(3)=1/3 (deg 3, one triangle), cc(4)=0 undefined."""
    from prod_data_pipeline_spark.operators.graph import local_clustering

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["id_a", "id_b"]
    )
    got = {r["v"]: r for r in local_clustering(pairs).collect()}
    assert got[1]["local_cc"] == 1.0 and got[1]["deg"] == 2
    assert got[2]["local_cc"] == 1.0
    assert got[3]["deg"] == 3 and abs(got[3]["local_cc"] - round(1 / 3, 6)) < 1e-9
    assert got[4]["defined"] == 0 and got[4]["local_cc"] == 0.0
    assert got[3]["n_triangles"] == 1 and got[4]["n_triangles"] == 0


def test_kcore_known_graph(spark):
    """Triangle {0,1,2} with a pendant chain 2-3-4: the 2-core is exactly
    the triangle (3 and 4 peel — 4 first, then 3), and every survivor
    reports its within-core degree."""
    from prod_data_pipeline_spark.operators.graph import kcore

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    out = {r["node"]: r["core_deg"] for r in kcore(pairs, k=2).collect()}
    assert out == {0: 2, 1: 2, 2: 2}


def test_kcore_empty_and_full(spark):
    from prod_data_pipeline_spark.operators.graph import kcore

    # a pure chain has no 2-core
    chain = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["id_a", "id_b"])
    assert kcore(chain, k=2).count() == 0
    # a 4-clique is its own 3-core
    clique = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], ["id_a", "id_b"]
    )
    out = {r["node"]: r["core_deg"] for r in kcore(clique, k=3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: LPA keeps them as two
    communities (each clique converges to its min label), while CC would
    merge them — the over-merge-detection property the query relies on."""
    from prod_data_pipeline_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    pairs = spark.createDataFrame(c1 + c2 + [(3, 10)], ["id_a", "id_b"])
    labels = {r["node"]: r["label"] for r in label_propagation(pairs, n_rounds=4).collect()}
    comm1 = {labels[n] for n in range(4)}
    comm2 = {labels[n] for n in range(10, 14)}
    assert len(comm1) == 1 and len(comm2) == 1 and comm1 != comm2


def test_adamic_adar_four_cycle(spark):
    """On the 4-cycle 1-2-3-4-1 the only non-adjacent pairs are the two
    diagonals, each with two degree-2 common neighbors: score 2/ln(2)."""
    import math

    from prod_data_pipeline_spark.operators.graph import adamic_adar

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "id_a long, id_b long"
    )
    rows = {(r.id_a, r.id_b): r for r in adamic_adar(pairs).collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    for r in rows.values():
        assert r.common_neighbors == 2
        assert r.aa_score == pytest.approx(2.0 / math.log(2.0), abs=1e-6)


def test_adamic_adar_excludes_existing_edges_and_hubs_weigh_less(spark):
    """Star 0-{1,2,3} plus edge 1-2: (1,3)/(2,3) predicted via hub 0
    (deg 3 -> weight 1/ln 3); (1,2) is an existing edge and must NOT
    appear even though it also has a common neighbor."""
    import math

    from prod_data_pipeline_spark.operators.graph import adamic_adar

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "id_a long, id_b long"
    )
    rows = {(r.id_a, r.id_b): r for r in adamic_adar(pairs).collect()}
    assert (1, 2) not in rows
    assert set(rows) == {(1, 3), (2, 3)}
    for r in rows.values():
        assert r.common_neighbors == 1
        assert r.aa_score == pytest.approx(1.0 / math.log(3.0), abs=1e-6)


def test_ppr_quantized_matches_dense_reference(spark):
    """Path 1-2-3 plus a disconnected pair 10-11, seed {1}: ranks must
    match the dense random-walk-with-restart recurrence, and the
    unreached component must stay ABSENT (sparse state is exact zero)."""
    from prod_data_pipeline_spark.operators.graph import ppr_quantized

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.rank for r in ppr_quantized(pairs, seeds, n_iters=6).collect()}

    # dense reference over the reachable component {1,2,3}
    import numpy as np

    deg = {1: 1, 2: 2, 3: 1}
    r = {1: 1.0, 2: 0.0, 3: 0.0}
    adj = {1: [2], 2: [1, 3], 3: [2]}
    for _ in range(6):
        contrib = {n: 0.0 for n in r}
        for s, nbrs in adj.items():
            for t in nbrs:
                contrib[t] += r[s] / deg[s]
        r = {n: (0.15 if n == 1 else 0.0) + 0.85 * contrib[n] for n in r}
    assert set(got) == {1, 2, 3}, "unreached component must carry no rows"
    for n in (1, 2, 3):
        assert got[n] == pytest.approx(r[n], abs=1e-9)
    # more mass at the seed than two hops out
    assert got[1] > got[3]


def test_adamic_adar_canonicalizes_mixed_orientation_input(spark):
    """Passing both (a,b) and (b,a) — plus a self-loop — must give the
    SAME result as the canonical relation: degrees not doubled, wedges
    not duplicated, reversed existing edges still excluded."""
    import math

    from prod_data_pipeline_spark.operators.graph import adamic_adar

    canonical = [(1, 2), (2, 3), (3, 4), (1, 4)]
    messy = canonical + [(b, a) for a, b in canonical] + [(2, 2)]
    rows = {(r.id_a, r.id_b): r for r in adamic_adar(
        spark.createDataFrame(messy, "id_a long, id_b long")
    ).collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    for r in rows.values():
        assert r.common_neighbors == 2
        assert r.aa_score == pytest.approx(2.0 / math.log(2.0), abs=1e-6)


def test_truncate_lineage_local_mode(spark, small_graph):
    """Default mode: no checkpoint dir configured -> localCheckpoint.
    PageRank (which cuts lineage via session.truncate_lineage every 4th
    round) must still match numpy exactly."""
    from prod_data_pipeline_spark.operators.graph import pagerank
    from prod_data_pipeline_spark.session import truncate_lineage

    assert spark.sparkContext.getCheckpointDir() is None
    edges = spark.createDataFrame(small_graph, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=10).collect()}
    want = _numpy_pagerank(5, small_graph, n_iters=10)
    for node, rank in got.items():
        assert rank == pytest.approx(want[node], abs=1e-12)
    # direct call: result passthrough, same rows
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert sorted(truncate_lineage(df, eager=True).collect()) == sorted(df.collect())


def test_truncate_lineage_reliable_mode(tmp_path):
    """Cluster-fault-tolerance knob: with $SPARK_GRAFT_CHECKPOINT_DIR set,
    truncate_lineage swaps localCheckpoint for reliable .checkpoint() —
    blocks land under the configured directory on shared storage, so an
    executor loss is recoverable.  Runs in a subprocess because a
    SparkContext checkpoint dir cannot be unset once configured (it would
    leak into every other test in this JVM)."""
    import json
    import os
    import subprocess
    import sys

    ckpt = tmp_path / "ckpt"
    script = r"""
import glob, json, os, sys
sys.path.insert(0, os.environ["REPO"])
from prod_data_pipeline_spark.session import get_spark
from prod_data_pipeline_spark.operators.graph import pagerank
spark = get_spark(cpus=4)
ck = spark.sparkContext.getCheckpointDir()
edges = spark.createDataFrame(
    [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)], "src long, dst long"
)
ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=10).collect()}
rdd_dirs = glob.glob(os.path.join(os.environ["SPARK_GRAFT_CHECKPOINT_DIR"], "*", "rdd-*"))
print(json.dumps({"ckpt_dir": ck, "ranks": ranks, "n_rdd_dirs": len(rdd_dirs)}))
"""
    env = dict(
        os.environ,
        REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        SPARK_GRAFT_CHECKPOINT_DIR=str(ckpt),
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ckpt_dir"] is not None and str(ckpt) in out["ckpt_dir"]
    # reliable checkpoint actually wrote RDD blocks under the dir
    assert out["n_rdd_dirs"] >= 1
    want = _numpy_pagerank(5, [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)])
    for node, rank in out["ranks"].items():
        assert rank == pytest.approx(want[int(node)], abs=1e-12)


def test_truncate_lineage_reliable_lazy_computes_once(tmp_path):
    """Round-9 advisor: in reliable mode a bare checkpoint(eager=False)
    recomputes the whole plan in the checkpoint-write job, so every
    pre-sort lazy lineage cut executed its pipeline twice (3x with the
    range-partitioner sampling pass) on checkpoint-dir sessions.  The fix
    persists before the lazy checkpoint; an accumulator-ticking UDF
    proves the upstream pipeline now runs exactly once across sampling +
    sort + checkpoint write.  Subprocess for the same reason as the
    eager reliable test (checkpoint dir cannot be unset)."""
    import json
    import os
    import subprocess
    import sys

    ckpt = tmp_path / "ckpt"
    script = r"""
import json, os, sys
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from prod_data_pipeline_spark.session import get_spark, truncate_lineage
spark = get_spark(cpus=4)
acc = spark.sparkContext.accumulator(0)
def tick(x):
    acc.add(1)
    return x
tick_udf = F.udf(tick, LongType())
df = spark.range(0, 1000, 1, 4).select(tick_udf(F.col("id")).alias("v"))
cut = truncate_lineage(df, eager=False)
rows = cut.orderBy("v").collect()
print(json.dumps({"n": len(rows), "ticks": acc.value,
                  "ckpt": spark.sparkContext.getCheckpointDir() is not None}))
"""
    env = dict(
        os.environ,
        REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        SPARK_GRAFT_CHECKPOINT_DIR=str(ckpt),
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ckpt"] and out["n"] == 1000
    # pre-fix this read 2000-3000 (sampling + sort + checkpoint write
    # each recomputed the UDF projection)
    assert out["ticks"] == 1000, out["ticks"]


def test_quantized_graph_driver_path_bit_identical(spark):
    """The adaptive driver fast path must replay the quantized recurrence
    BIT-identically to the distributed loop (same rounding, same decimal
    sums, same float-op order) — forced through both paths by the
    threshold knob."""
    from pyspark.sql import functions as F

    from prod_data_pipeline_spark.operators.graph import (
        pagerank_quantized,
        ppr_quantized,
    )

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 2), (2, 4), (5, 6), (6, 7)],
        "id_a long, id_b long",
    )
    a = sorted(map(tuple, pagerank_quantized(pairs, driver_edge_threshold=0).collect()))
    b = sorted(
        map(tuple, pagerank_quantized(pairs, driver_edge_threshold=10**9).collect())
    )
    assert a == b and len(a) == 8
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    c = sorted(
        map(tuple, ppr_quantized(pairs, seeds, driver_edge_threshold=0).collect())
    )
    d = sorted(
        map(tuple, ppr_quantized(pairs, seeds, driver_edge_threshold=10**9).collect())
    )
    assert c == d and len(c) > 0

    from prod_data_pipeline_spark.operators.graph import (
        kcore,
        label_propagation,
    )

    from prod_data_pipeline_spark.operators.graph import min_hop_distance

    bfs_seeds = spark.createDataFrame([(0,), (5,)], "doc_id long")
    for fn in (
        lambda t: kcore(pairs, k=2, driver_edge_threshold=t),
        lambda t: label_propagation(pairs, driver_edge_threshold=t),
        lambda t: min_hop_distance(
            pairs, bfs_seeds, max_hops=2, driver_edge_threshold=t
        ),
    ):
        x = sorted(map(tuple, fn(0).collect()))
        y = sorted(map(tuple, fn(10**9).collect()))
        assert x == y and len(x) > 0


def test_triangle_stats_driver_path_matches_distributed(spark):
    """The triangle-census driver fast path is bit-identical to the
    distributed wedge-join path — all quantities are integers except the
    clustering coefficient, whose single double expression replays with
    identical IEEE ops + HALF_UP round."""
    from prod_data_pipeline_spark.operators.graph import triangle_stats

    pairs = spark.createDataFrame(
        # two triangles sharing an edge + a pendant + an isolated edge
        [(0, 1), (1, 2), (0, 2), (2, 3), (1, 3), (3, 4), (8, 9)],
        "id_a long, id_b long",
    )
    fast = triangle_stats(pairs).collect()
    slow = triangle_stats(pairs, driver_edge_threshold=-1).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert fast[0]["n_triangles"] == 2 and fast[0]["n_edges"] == 7


def test_compact_for_sort_sites_compute_once_under_checkpoint_dir(tmp_path):
    """Round-11 verdict #6, generalizing the lazy-reliable-checkpoint fix
    structurally: every compact_for_sort caller (near_dup_pairs and
    srp_near_dup_pairs, collapse_exact True/False, and
    simhash_bucket_pairs) must not re-execute its upstream pipeline under
    $SPARK_GRAFT_CHECKPOINT_DIR.
    Invariant: an accumulator-ticking UDF on the INPUT counts the same
    number of evaluations with sort=True (compact + range-partitioner
    sample + sort) as with sort=False — any reintroduced lazy
    double-compute strictly increases the sorted run's count.
    Subprocess because a session's checkpoint dir cannot be unset."""
    import json
    import os
    import subprocess
    import sys

    ckpt = tmp_path / "ckpt"
    script = r"""
import json, os, sys
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from prod_data_pipeline_spark.session import get_spark
from prod_data_pipeline_spark.operators.dedup import near_dup_pairs, simhash_bucket_pairs
from prod_data_pipeline_spark.operators.similarity import srp_near_dup_pairs

spark = get_spark(cpus=4)
assert spark.sparkContext.getCheckpointDir() is not None

words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
doc_rows = []
for i in range(40):
    toks = [words[(i + j) % 8] for j in range(6)]
    if i % 4 == 1:
        toks = [words[(i - 1 + j) % 8] for j in range(6)]  # near-dup of i-1
    if i % 8 == 2:
        toks = [words[(i - 2 + j) % 8] for j in range(6)]  # exact dup shape
    doc_rows.append((i, " ".join(toks)))
docs_raw = spark.createDataFrame(doc_rows, "doc_id long, text string")
emb_rows = [
    (i, [float((i % 5) + d) / 7.0 for d in range(8)]) for i in range(40)
] + [(100 + i, [float((i % 5) + d) / 7.0 for d in range(8)]) for i in range(10)]
emb_raw = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")

results = {}

def measure(tag, build_input, run):
    out = {}
    for sort in (False, True):
        acc = spark.sparkContext.accumulator(0)
        def tick(x):
            acc.add(1)
            return x
        tick_udf = F.udf(tick, LongType())
        df = build_input(tick_udf)
        n = len(run(df, sort).collect())
        out["sorted" if sort else "base"] = acc.value
        out["rows"] = n
    results[tag] = out

measure(
    "near_dup_collapse",
    lambda u: docs_raw.select(u(F.col("doc_id")).alias("doc_id"), "text"),
    lambda df, s: near_dup_pairs(df, sort=s, collapse_exact=True),
)
measure(
    "near_dup_plain",
    lambda u: docs_raw.select(u(F.col("doc_id")).alias("doc_id"), "text"),
    lambda df, s: near_dup_pairs(df, sort=s, collapse_exact=False),
)
measure(
    "srp_collapse",
    lambda u: emb_raw.select(u(F.col("vec_id")).alias("vec_id"), "embedding"),
    lambda df, s: srp_near_dup_pairs(
        df, dim=8, sort=s, collapse_exact=True, materialize=False
    ),
)
measure(
    "srp_plain",
    lambda u: emb_raw.select(u(F.col("vec_id")).alias("vec_id"), "embedding"),
    lambda df, s: srp_near_dup_pairs(
        df, dim=8, sort=s, collapse_exact=False, materialize=False
    ),
)
measure(
    "simhash",
    lambda u: docs_raw.select(u(F.col("doc_id")).alias("doc_id"), "text"),
    lambda df, s: simhash_bucket_pairs(df, sort=s),
)
print(json.dumps(results))
"""
    env = dict(
        os.environ,
        REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        SPARK_GRAFT_CHECKPOINT_DIR=str(ckpt),
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    results = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(results) == {
        "near_dup_collapse", "near_dup_plain", "srp_collapse", "srp_plain",
        "simhash",
    }
    for tag, r in results.items():
        assert r["base"] > 0, (tag, r)
        assert r["sorted"] == r["base"], (
            f"{tag}: sort path re-executed upstream "
            f"({r['sorted']} ticks vs {r['base']} base) — a lazy "
            "compact_for_sort double-compute was reintroduced"
        )
