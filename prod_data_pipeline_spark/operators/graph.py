"""Iterative graph algorithms over DataFrame edge lists.

Companion to operators.corpus.dup_clusters (connected components): where
CC answers "which docs are transitively duplicates", PageRank answers
"which nodes are most central" — used in training-data pipelines to rank
duplicate-cluster representatives, citation/link-graph importance, or
seed selection for crawl frontiers.

Spark-first shape: the classic power iteration expressed as joins +
aggregations, NOT an RDD Pregel loop — every iteration is

    contribs = ranks JOIN out_degreed_edges ON src  (one hash shuffle)
               GROUP BY dst SUM(rank/degree)        (same key space)
    ranks    = nodes LEFT JOIN contribs             (co-partitioned)

with `localCheckpoint` every few rounds to truncate the query-plan
lineage (an unbounded iterative plan re-derives every prior join at each
action — the canonical Spark iterative-algorithm trap).  On a real
cluster, set `sc.setCheckpointDir` and swap in `.checkpoint()` for
fault-tolerant truncation.

Scale: state per iteration is one (node, rank) row per node and the edge
list is reused as-is; nothing widens.  Persisting `edges` (done here)
keeps the per-iteration cost at one shuffle of (node, rank) + one scan
of the cached degree-annotated edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from prod_data_pipeline_spark.session import truncate_lineage
from prod_data_pipeline_spark.operators.gates import driver_collect_allowed

# PageRank damping factor, and the digits every quantized rank rounds to.
DAMPING = 0.85
RANK_SCALE = 12
_RANK_DEC = f"decimal({max(RANK_SCALE + 8, 18)},{RANK_SCALE})"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 10,
) -> DataFrame:
    """PageRank by power iteration over a directed edge list.

    Output: (node, rank) for every node appearing as src or dst.  Uses
    the uniform-teleport formulation `rank = (1-d)/N + d * sum(in)`;
    dangling nodes (no out-edges) redistribute their mass uniformly each
    round, so total rank stays 1 and the result matches the standard
    eigenvector definition (numpy-verified in tests/test_graph.py).

    The edge and node relations are pre-partitioned on the join key
    before persisting, so each iteration shuffles only the (node, rank)
    relation.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes = nodes.count()  # one bounded action; also materializes the cache

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    edged = (
        e.join(deg, "src")
        .select("src", "dst", "out_deg")
        .repartition("src")  # cached partitioning survives into the loop joins
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    for i in range(n_iters):
        contribs = (
            ranks.join(edged, ranks.node == edged.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
        )
        new_rank = F.lit((1.0 - DAMPING) / n_nodes) + F.lit(DAMPING) * F.coalesce(
            "contrib", F.lit(0.0)
        )
        joined = nodes.join(contribs, nodes.node == contribs.dst, "left")
        # dangling mass: rank not held by any src with out-edges
        dangling = (
            ranks.join(deg, ranks.node == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
        )
        joined = joined.crossJoin(F.broadcast(dangling))
        new_rank = new_rank + F.lit(DAMPING) * F.col("m") / n_nodes
        ranks = joined.select("node", new_rank.alias("rank"))
        if (i + 1) % 4 == 0 and i + 1 < n_iters:  # cut lineage every 4th round
            ranks = ranks.transform(truncate_lineage, eager=True)

    # materialize the final state BEFORE releasing the node/edge caches —
    # the tail iterations' lineage still reads both, and unpersisting a
    # lazy result would silently recompute the whole loop at first action
    ranks = ranks.transform(truncate_lineage, eager=True)
    nodes.unpersist()
    edged.unpersist()
    return ranks


def triangle_stats(pairs: DataFrame, driver_edge_threshold: int = 200_000) -> DataFrame:
    """Global triangle census of an undirected graph given as canonical
    (id_a < id_b) edge pairs: edge count, wedge count (open 2-paths),
    triangle count, and the global clustering coefficient
    3*triangles/wedges.

    The classic distributed formulation: with every edge stored once in
    canonical order, each triangle {a<b<c} is found exactly once by
    joining (a,b)x(b,c) into a wedge and probing (a,c).  Both joins are
    equi-joins on a single node id — shuffle keyed on vertices, never an
    all-pairs product — and the wedge relation is the size of the true
    wedge set, so cost tracks graph structure (sum of deg^2), the known
    lower bound for exact counting.  Wedges come from one degree
    aggregation over the symmetrized edges: sum(deg*(deg-1)/2).
    """
    # The input pair plan may be expensive (e.g. the whole LSH pipeline);
    # the census reads it from five places (edge count, degrees, three
    # join roles), so persist the canonical edge list once.
    e = (
        pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = e.count()
    if n_edges <= driver_edge_threshold and driver_collect_allowed(e, n_edges):
        # Adaptive fast path (the pagerank_quantized pattern): near-dup
        # graphs are tiny next to the corpus, and the census costs 3
        # vertex-keyed joins of pure scheduling on them.  Every quantity
        # is integer except the final coefficient, whose one double
        # expression replays with the same IEEE ops + HALF_UP round —
        # bit-identical to the distributed path.  Guard on the wedge
        # count: the driver enumeration works wedge-by-wedge, so a
        # dense collected graph (rare for dedup output) still takes the
        # distributed join below.
        rows = [(r[0], r[1]) for r in e.collect()]
        deg_d: dict = {}
        succ: dict = {}
        eset = set()
        for a, b in rows:
            deg_d[a] = deg_d.get(a, 0) + 1
            deg_d[b] = deg_d.get(b, 0) + 1
            succ.setdefault(a, []).append(b)
            eset.add((a, b))
        n_wedges = sum(d * (d - 1) // 2 for d in deg_d.values())
        if n_wedges <= 5_000_000:
            n_tri = 0
            for a, b in rows:
                for c in succ.get(b, ()):
                    if (a, c) in eset:
                        n_tri += 1
            gc = (
                _rnd_half_up(3.0 * n_tri / n_wedges, 6) if n_wedges > 0 else 0.0
            )
            e.unpersist()
            return pairs.sparkSession.createDataFrame(
                [(n_edges, n_wedges, n_tri, gc)],
                "n_edges long, n_wedges long, n_triangles long, "
                "global_clustering double",
            )

    deg = (
        e.select(F.col("id_a").alias("v"))
        .union(e.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # deg*(deg-1) is always even, so integer `div 2` is exact — and keeping
    # the whole sum integral (never double) preserves exactness past 2^53,
    # where SUM(double) would silently lose integer precision at scale.
    wedges = deg.agg(
        F.coalesce(F.sum(F.expr("(deg * (deg - 1)) div 2")), F.lit(0).cast("long"))
        .cast("long")
        .alias("n_wedges")
    )

    ab = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    bc = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    ac = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        ab.join(bc, "b")
        .join(ac, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )

    spark = pairs.sparkSession
    base = spark.createDataFrame([(n_edges,)], ["n_edges"])
    out = base.crossJoin(F.broadcast(wedges)).crossJoin(F.broadcast(tri))
    result = out.select(
        F.col("n_edges").cast("long"),
        "n_wedges",
        F.col("n_triangles").cast("long"),
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("global_clustering"),
    ).transform(truncate_lineage, eager=True)  # one-row summary: cut lineage to the cache
    e.unpersist()
    return result


def _rnd_half_up(x: float, scale: int) -> float:
    """Spark's ROUND on a double: BigDecimal.valueOf (shortest decimal
    expansion, same as Python repr) + setScale HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP))


def _dec_half_up(x: float, scale: int):
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)


def _pagerank_quantized_driver(edge_rows, n_iters):
    """Driver-side replay of the quantized PageRank recurrence — the SAME
    engine-independent recipe the distributed loop and the SQL oracle
    evaluate (contributions rounded HALF_UP to RANK_SCALE then summed as
    exact decimals; damped update computed lit + damping*s in that IEEE
    order and rounded back), so the output is bit-identical to the
    cluster path.  `edge_rows` is the SYMMETRIZED distinct edge list."""
    from decimal import Decimal

    adj: dict = {}
    for src, dst in edge_rows:
        adj.setdefault(src, []).append(dst)
    n = len(adj)
    base = (1.0 - DAMPING) / n
    rank = {node: _rnd_half_up(1.0 / n, RANK_SCALE) for node in adj}
    for _ in range(n_iters):
        sums = {node: Decimal(0) for node in adj}
        for s, ds in adj.items():
            cd = _dec_half_up(_rnd_half_up(rank[s] / len(ds), RANK_SCALE), RANK_SCALE)
            for d in ds:
                sums[d] += cd
        rank = {
            node: _rnd_half_up(base + DAMPING * float(sums[node]), RANK_SCALE)
            for node in adj
        }
    return sorted(rank.items())


def pagerank_quantized(
    pairs: DataFrame,
    n_iters: int = 6,
    driver_edge_threshold: int = 200_000,
) -> DataFrame:
    """Cross-engine-deterministic PageRank over an undirected pair graph
    (canonical (id_a, id_b) input; edges are symmetrized here).

    The plain power iteration sums float contributions whose ORDER depends
    on partitioning — correct to ~1e-15 but never bit-identical across
    engines, which is why iterative algorithms are usually "rows-only" in
    exact-hash correctness harnesses.  This variant quantizes at the two
    float points of each iteration: every contribution rank/deg rounds to
    RANK_SCALE digits and sums as exact DECIMAL (associative, order-free),
    and the damped update rounds back to RANK_SCALE digits.  Every float op
    left (two divisions, one multiply-add) is a single IEEE operation on
    identical inputs, so an engine replaying the recurrence — including
    a SQL engine with the iterations unrolled as CTEs — reproduces the
    values bit-for-bit in practice.  Residual caveat: the rounding itself
    is engine-implemented (Spark rounds the decimal expansion HALF_UP,
    DuckDB rounds the double half-away-from-zero); the two agree except
    on exact ties at digit RANK_SCALE, which after a division are
    astronomically rare but not impossible.  The quantization perturbs
    ranks by <= n_iters * 1e-RANK_SCALE, far below reporting precision.

    Same scale shape as `pagerank`: one (node, rank) shuffle per
    iteration + a scan of the persisted symmetrized edges; symmetric
    graphs have no dangling nodes, so no dangling branch."""
    e = pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    edges = (
        e.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(e.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = edges.count()
    if n_edges == 0:
        edges.unpersist()
        return pairs.sparkSession.createDataFrame([], "node long, rank double")
    if n_edges <= driver_edge_threshold and driver_collect_allowed(edges, n_edges):
        # Adaptive fast path (the dup_clusters pattern): near-dup graphs
        # are tiny next to the corpus that produced them, and 6 rounds of
        # (2 joins + agg + checkpoint) cost ~5 s of pure job scheduling on
        # a 20-node graph.  The quantized recurrence is engine-independent
        # BY DESIGN, so the driver replay is bit-identical to the cluster
        # path (pinned by tests/test_graph.py) and the oracle hash is
        # unchanged.  Above the threshold — real graphs at 100 TB — the
        # distributed loop below runs as before.
        rows = [(r["src"], r["dst"]) for r in edges.collect()]
        edges.unpersist()
        out = _pagerank_quantized_driver(rows, n_iters)
        return pairs.sparkSession.createDataFrame(out, "node long, rank double")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()  # symmetric graph: every node appears as src

    ranks = deg.select(
        F.col("src").alias("node"), F.round(F.lit(1.0) / n, RANK_SCALE).alias("rank")
    )
    for i in range(n_iters):
        contribs = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                "dst",
                F.round(F.col("rank") / F.col("deg"), RANK_SCALE).cast(_RANK_DEC).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contribs.select(
            F.col("dst").alias("node"),
            F.round(
                F.lit((1.0 - DAMPING) / n) + F.lit(DAMPING) * F.col("s").cast("double"),
                RANK_SCALE,
            ).alias("rank"),
        )
        if (i + 1) % 3 == 0 and i + 1 < n_iters:  # cut lineage every 3rd round
            ranks = ranks.transform(truncate_lineage, eager=True)
    # materialize the final state BEFORE releasing the edge cache — the tail
    # iterations' lineage still reads it, and unpersisting a lazy result
    # would silently recompute the whole edge plan at first action
    ranks = ranks.transform(truncate_lineage, eager=True)
    edges.unpersist()
    return ranks


def _ppr_quantized_driver(edge_rows, seed_list, n_iters):
    """Driver-side replay of the quantized PPR recurrence — bit-identical
    to the distributed loop (see _pagerank_quantized_driver); state stays
    sparse exactly as the cluster path's (node, rank) relation does."""
    from decimal import Decimal

    adj: dict = {}
    for src, dst in edge_rows:
        adj.setdefault(src, []).append(dst)
    seeds = set(seed_list)
    ns = len(seeds)
    tele = (1.0 - DAMPING) / ns
    rank = {node: _rnd_half_up(1.0 / ns, RANK_SCALE) for node in seeds}
    for _ in range(n_iters):
        sums: dict = {}
        for s, r in rank.items():
            ds = adj.get(s)
            if not ds:
                continue
            cd = _dec_half_up(_rnd_half_up(r / len(ds), RANK_SCALE), RANK_SCALE)
            for d in ds:
                sums[d] = sums.get(d, Decimal(0)) + cd
        nodes = set(sums) | seeds
        rank = {
            node: _rnd_half_up(
                (tele if node in seeds else 0.0)
                + DAMPING * (float(sums[node]) if node in sums else 0.0),
                RANK_SCALE,
            )
            for node in nodes
        }
    return sorted(rank.items())


def ppr_quantized(
    pairs: DataFrame,
    seeds: DataFrame,
    n_iters: int = 6,
    driver_edge_threshold: int = 200_000,
) -> DataFrame:
    """Cross-engine-deterministic PERSONALIZED PageRank (random walk with
    restart) over an undirected pair graph: probability mass teleports
    back to the `seeds` relation (one `node` column) instead of the
    uniform vector, so the stationary ranks measure proximity TO THE
    SEEDS — the classic related-items / seed-expansion primitive
    (recommendations from a basket, crawl frontiers from trusted pages,
    contamination neighborhoods from flagged docs).

    Same quantization recipe as pagerank_quantized (contributions round
    to RANK_SCALE digits and sum as exact DECIMAL; the damped update rounds
    back), so a SQL engine replaying the unrolled recurrence reproduces
    the bits.  State stays SPARSE: only reached nodes carry rank rows
    (mass on unreached nodes is exactly zero by induction, so absent
    rows ARE the correct value) — per iteration one (node, rank) shuffle
    plus a scan of the persisted symmetrized edges, with the seed
    relation broadcast into the teleport full-join.  Seeds with zero
    degree contribute teleport mass but never diffuse — allowed.

    Returns (node, rank) for every node with nonzero mass after
    n_iters, seeds included.
    """
    e = pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    edges = (
        e.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(e.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seed_nodes = seeds.select(F.col("node").cast("long")).distinct()
    ns = seed_nodes.count()
    if ns == 0:
        edges.unpersist()
        return pairs.sparkSession.createDataFrame([], "node long, rank double")
    n_edges = edges.count()
    if n_edges <= driver_edge_threshold and driver_collect_allowed(edges, n_edges):
        # adaptive fast path — see pagerank_quantized; bit-identical replay
        rows = [(r["src"], r["dst"]) for r in edges.collect()]
        seed_list = [r["node"] for r in seed_nodes.collect()]
        edges.unpersist()
        out = _ppr_quantized_driver(rows, seed_list, n_iters)
        return pairs.sparkSession.createDataFrame(out, "node long, rank double")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    tele = (1.0 - DAMPING) / ns  # two IEEE ops, replayed identically in SQL
    ranks = seed_nodes.select("node", F.round(F.lit(1.0 / ns), RANK_SCALE).alias("rank"))
    for i in range(n_iters):
        contribs = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                "dst",
                F.round(F.col("rank") / F.col("deg"), RANK_SCALE).cast(_RANK_DEC).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            contribs.select(F.col("dst").alias("node"), "s")
            .join(
                F.broadcast(seed_nodes.withColumn("_seed", F.lit(1))), "node", "full"
            )
            .select(
                "node",
                F.round(
                    F.when(F.col("_seed") == 1, F.lit(tele)).otherwise(F.lit(0.0))
                    + F.lit(DAMPING)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                    RANK_SCALE,
                ).alias("rank"),
            )
        )
        if (i + 1) % 3 == 0 and i + 1 < n_iters:  # cut lineage every 3rd round
            ranks = ranks.transform(truncate_lineage, eager=True)
    ranks = ranks.transform(truncate_lineage, eager=True)
    edges.unpersist()
    return ranks


def _min_hop_driver(edge_rows, seed_list, max_hops):
    """Driver replay of the bounded BFS — all-integer MIN state,
    identical round structure."""
    adj: dict = {}
    for s, d in edge_rows:
        adj.setdefault(s, []).append(d)
    dist = {n: 0 for n in seed_list}
    for _ in range(max_hops):
        for n, h in list(dist.items()):
            for d in adj.get(n, ()):
                if d not in dist or dist[d] > h + 1:
                    dist[d] = h + 1
    return sorted(dist.items())


def min_hop_distance(
    pairs: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    id_col: str = "doc_id",
    driver_edge_threshold: int = 200_000,
) -> DataFrame:
    """Bounded BFS over an undirected pair relation: the minimum hop count
    from any seed, up to `max_hops` — the taint / blast-radius primitive
    of corpus curation (a contaminated or policy-flagged document's
    near-duplicates are suspect at hop 1, their near-duplicates at hop 2).

    ALL-INTEGER iterative state — no quantization needed at all (cf. the
    round-then-DECIMAL machinery pagerank_quantized requires): each round
    is one hash join of the frontier against the symmetrized edges plus a
    MIN aggregation, and integer MIN is associative/commutative, so any
    engine that replays the rounds agrees exactly.  Returns (id, hop)
    for every node within max_hops of a seed; unreached nodes are simply
    absent (callers LEFT JOIN and treat NULL as clean).

    Scale: state is one (node, hop) row per reached node; edges persist
    across rounds; localCheckpoint truncates lineage per round.  Wall
    cost ~ max_hops shuffles of the reached set — bounded by design
    (blast-radius queries want small max_hops; full closure is
    operators.corpus.dup_clusters' job).
    """
    e = pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    edges = (
        e.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(e.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = edges.count()
    if n_edges <= driver_edge_threshold and driver_collect_allowed(edges, n_edges):
        # adaptive fast path (dup_clusters pattern) — all-integer BFS
        # replays exactly; tests pin two-path identity
        rows = [(r["src"], r["dst"]) for r in edges.collect()]
        seed_list = [
            r["node"]
            for r in seeds.select(
                F.col(id_col).cast("long").alias("node")
            ).distinct().collect()
        ]
        edges.unpersist()
        out = _min_hop_driver(rows, seed_list, max_hops)
        return pairs.sparkSession.createDataFrame(
            out or [], f"{id_col} long, hop int"
        ).select(F.col(id_col), F.col("hop").cast("int"))
    dist = seeds.select(F.col(id_col).cast("long").alias("node")).distinct().withColumn(
        "hop", F.lit(0)
    )
    for _ in range(max_hops):
        reached = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop"))
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
            .transform(truncate_lineage, eager=True)
        )
    edges.unpersist()
    return dist.select(F.col("node").alias(id_col), "hop")


def local_clustering(pairs: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over an undirected pair
    relation: cc(v) = 2·t(v) / (deg(v)·(deg(v)−1)) — the node-level
    refinement of triangle_stats' global number, used to separate tight
    duplicate cliques (cc ≈ 1) from chain-shaped false-positive bridges
    (cc ≈ 0) node by node.

    Triangles are listed once via the canonical wedge join (a<b<c:
    (a,b)⋈(b,c) closed by (a,c) — each triangle materializes exactly one
    row), then credited to all three corners; degrees come from the
    symmetrized edge relation.  cc is one double division of exact
    integers rounded to 6; nodes with deg < 2 report cc = 0 with a
    defined=0 flag rather than NULL (keeps the relation total).  Cost:
    the same sum(deg²) wedge bound as triangle_stats plus one |triangles|
    explode — graph-sized, never corpus-sized."""
    e = pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    # The input pair plan may be the whole LSH pipeline, and this census
    # reads it from SIX plan positions (two degree unions, three join
    # roles, three credit unions) — unmaterialized, the pair pipeline
    # replays per reference (measured 6.6 s -> 2.5 s for
    # docs_local_clustering at sf0.1).  Same cut triangle_stats carries.
    fwd = (
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .distinct()
        .transform(truncate_lineage, eager=True)
    )
    deg = (
        fwd.select(F.col("a").alias("v"))
        .union(fwd.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e1 = fwd.select(F.col("a"), F.col("b"))
    e2 = fwd.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = fwd.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )
    credit = (
        tri.select(F.col("a").alias("v"))
        .union(tri.select(F.col("b").alias("v")))
        .union(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(credit, "v", "left")
        .select(
            "v",
            "deg",
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(F.col("deg") >= 2, 1).otherwise(0).cast("int").alias("defined"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.coalesce("t", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("local_cc"),
        )
    )


def _kcore_driver(edge_rows, k, max_rounds):
    """Driver replay of the relational peeling loop — all-integer state,
    identical round structure including the early-exit-on-stable-count."""
    edges = set(edge_rows)
    prev = None
    for _ in range(max_rounds):
        deg: dict = {}
        for s, _d in edges:
            deg[s] = deg.get(s, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nxt = {(s, d) for s, d in edges if s in keep and d in keep}
        n_next = len(nxt)
        if prev is not None and n_next == prev:
            edges = nxt
            break
        prev, edges = n_next, nxt
    out: dict = {}
    for s, _d in edges:
        out[s] = out.get(s, 0) + 1
    return sorted((v, c) for v, c in out.items() if c >= k)


def kcore(
    pairs: DataFrame, k: int = 2, max_rounds: int = 8,
    driver_edge_threshold: int = 200_000,
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph where every
    node keeps degree >= k — the standard "dense duplicate neighborhood"
    extractor (a 3-core of the near-dup graph is a set of documents each
    near-duplicating >= 3 others in the set: prime candidates for
    template/boilerplate removal, vs bridge nodes peeled away).

    Classic peeling, expressed relationally: each round computes degrees
    over the surviving symmetrized edges (one vertex-keyed agg), drops
    nodes below k, and semi-joins the edge list on both endpoints.
    Peeling is MONOTONE — once the survivor set stops shrinking it is the
    k-core, and further rounds are no-ops — so running a FIXED number of
    rounds equals the fixpoint whenever it converges within the bound,
    which is what lets a SQL engine replay the exact recurrence as
    `max_rounds` unrolled CTEs (ALL-INTEGER state: degrees and node ids —
    no quantization machinery needed, cf. pagerank_quantized).  The
    early-exit below saves work without changing the result.

    Returns (node, core_deg): surviving nodes with their within-core
    degree.  Empty result = no k-core.  Scale: per round one shuffle of
    the (shrinking) edge relation keyed on vertices + one degree agg;
    localCheckpoint truncates the per-round lineage.  Real corpora peel
    in few rounds (degeneracy ordering removes whole shells at once);
    `max_rounds` bounds the worst case, and callers needing certainty
    can assert `converged` via one extra round's count.
    """
    e = pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    edges = (
        e.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(e.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .transform(truncate_lineage, eager=True)
    )
    n_edges = edges.count()
    if n_edges <= driver_edge_threshold and driver_collect_allowed(edges, n_edges):
        # adaptive fast path (dup_clusters pattern): all-integer peeling
        # replays exactly; tiny near-dup graphs skip max_rounds of
        # checkpointed cluster jobs (tests pin two-path identity)
        rows = [(r["src"], r["dst"]) for r in edges.collect()]
        out = _kcore_driver(rows, k, max_rounds)
        return pairs.sparkSession.createDataFrame(
            out or [], "node long, core_deg long"
        )
    prev_edges = None
    for _ in range(max_rounds):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        nxt = (
            edges.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .transform(truncate_lineage, eager=True)
        )
        n_next = nxt.count()
        if prev_edges is not None and n_next == prev_edges:
            edges = nxt
            break
        prev_edges, edges = n_next, nxt
    return (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .filter(F.col("core_deg") >= k)  # equality holds at fixpoint; keep total
        .select(F.col("src").alias("node"), F.col("core_deg").cast("long"))
    )


def _label_propagation_driver(edge_rows, n_rounds):
    """Driver replay of synchronous min-tie-break LPA — all-integer
    argmax, identical to the distributed rounds."""
    nodes = {s for s, _ in edge_rows}
    label = {v: v for v in nodes}
    for _ in range(n_rounds):
        cnt: dict = {}
        for s, d in edge_rows:
            lab = label[s]
            c = cnt.setdefault(d, {})
            c[lab] = c.get(lab, 0) + 1
        label = {
            v: (
                min(cnt[v].items(), key=lambda kv: (-kv[1], kv[0]))[0]
                if v in cnt
                else label[v]
            )
            for v in nodes
        }
    return sorted(label.items())


def label_propagation(
    pairs: DataFrame, n_rounds: int = 4, driver_edge_threshold: int = 200_000,
) -> DataFrame:
    """Synchronous label-propagation communities over an undirected pair
    relation, made ENGINE-DETERMINISTIC: every node starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties broken by smallest label — an all-integer argmax, so
    the recurrence replays exactly in any engine (unrolled CTEs in the
    oracle).  Where connected components answers "what is reachable",
    LPA finds DENSE communities: a thin bridge between two near-dup
    clusters keeps them separate here but merges them in CC — the
    community view is what protects curation from over-deleting through
    false-positive bridge edges.

    Synchronous LPA can oscillate on bipartite structure; a fixed round
    count (replayed identically by the oracle) makes the output
    well-defined regardless — callers wanting a fixpoint can compare
    successive rounds.  Per round: one join of the (node, label) relation
    against the persisted symmetrized edges + one count agg + one
    per-node argmax — state never exceeds one row per node.  Isolated
    nodes (no edges) keep their own label by the left join."""
    e = pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    edges = (
        e.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(e.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = edges.count()
    if n_edges <= driver_edge_threshold and driver_collect_allowed(edges, n_edges):
        # adaptive fast path (dup_clusters pattern): the integer argmax
        # replays exactly; tests pin two-path identity
        rows = [(r["src"], r["dst"]) for r in edges.collect()]
        edges.unpersist()
        out = _label_propagation_driver(rows, n_rounds)
        return pairs.sparkSession.createDataFrame(
            out or [], "node long, label long"
        )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    from pyspark.sql import Window as W

    for i in range(n_rounds):
        neigh = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = W.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
        best = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
        )
        if (i + 1) % 2 == 0 and i + 1 < n_rounds:  # cut lineage every 2nd round
            labels = labels.transform(truncate_lineage, eager=True)
    labels = labels.transform(truncate_lineage, eager=True)
    edges.unpersist()
    return labels


def adamic_adar(pairs: DataFrame) -> DataFrame:
    """Adamic-Adar link prediction over an undirected pair relation
    (id_a, id_b): for every NON-adjacent pair (u, v) sharing at least
    one neighbor, score = sum over common neighbors z of
    1 / ln(deg(z)) — rare shared neighbors count more than hubs.  Over
    the near-dup graph this surfaces document pairs the pairwise
    detector missed but the neighborhood structure predicts (template
    families, partial rewrites): the standard next step after
    transitive clustering when tuning dedup aggressiveness.

    Scale: wedge enumeration via one self-join of the symmetrized edge
    relation on the shared endpoint — cost ~ sum(deg(z)^2), identical to
    triangle_stats, never |V|^2.  Existing edges leave by a left-anti
    join on the canonical (min, max) pair.  Cross-engine determinism by
    the established recipe: per-neighbor weights rounded to 12 digits,
    summed as exact int64 NUMERATORS (floor(w*1e12+0.5) — the round-11
    dsum sweep; order-free, BigDecimal-free), reported via integer
    half-up to 6 digits (no ROUND(double,6) tie hazard).  Bound: the
    int64 SUM is exact to |score|*1e12 < 2^63, and the half-up report
    step is a LONG integer division ((n+5e5) div 1e6 — Spark div and
    DuckDB // both truncate, identical on these non-negative
    numerators), so the only long->double conversion is the final
    6-digit quotient: exactness holds while |score|*1e6 < 2^53
    (|score| < ~9e9 — unreachable: it needs ~6.2e9 common neighbors
    per pair at the max weight 1/ln2), effectively the int64 sum
    bound.  (Round-12 shipped this step as floor(long/1e6-double),
    whose conversion capped exactness at |score|*1e12 < 2^53; the div
    form closes that r12-advisory gap.)

    Weights use only nodes with deg >= 2 (a wedge center always has two
    distinct neighbors, so 1/ln(1) never arises; the filter keeps the
    weight relation total anyway).

    The input is canonicalized internally — each undirected edge becomes
    (least, greatest) before the distinct — so a caller may pass (a, b),
    (b, a), or both without double-counting degrees, duplicating wedges,
    or slipping reversed edges past the existing-edge exclusion.
    Self-loops are dropped (they carry no wedge information and would
    corrupt degrees).

    Output: id_a < id_b, common_neighbors (bigint), aa_score (double).
    """
    a, b = F.col("id_a").cast("long"), F.col("id_b").cast("long")
    e = (
        pairs.select(
            F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b")
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym = e.select(F.col("id_a").alias("z"), F.col("id_b").alias("n")).union(
        e.select(F.col("id_b").alias("z"), F.col("id_a").alias("n"))
    )
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    w = deg.filter(F.col("deg") >= 2).select(
        "z", F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 12).alias("w")
    )
    wedges = (
        sym.select("z", F.col("n").alias("u"))
        .join(sym.select("z", F.col("n").alias("v")), "z")
        .filter(F.col("u") < F.col("v"))
    )
    cand = (
        wedges.join(w, "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.floor(F.col("w") * F.lit(1e12) + F.lit(0.5))).alias("aa_n"),
        )
    )
    out = cand.join(
        e.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
        ["u", "v"],
        "left_anti",
    ).select(
        F.col("u").alias("id_a"),
        F.col("v").alias("id_b"),
        F.col("common_neighbors").cast("long").alias("common_neighbors"),
        (
            F.expr("(aa_n + 500000L) div 1000000")
            / F.lit(1000000.0)
        ).alias("aa_score"),
    )
    out = out.transform(truncate_lineage, eager=True)
    e.unpersist()
    return out
