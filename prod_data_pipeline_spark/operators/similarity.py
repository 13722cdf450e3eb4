"""Embedding similarity search: brute-force cosine top-k + IVF scale path.

North-star extension surface over the `embeddings` table
(vec_id bigint, embedding array<float>, label int).

Scale design (100 TB):
- brute-force is correct-but-linear: broadcast the (small) query set and
  scan the corpus once — never materialize corpus x corpus;
- IVF (inverted-file) is the scale path: k-means-style coarse centroids
  partition the corpus; a query probes only its nearest `nprobe` cells, so
  the scan shrinks by ~n_cells/nprobe.  Centroid assignment is a broadcast
  join (centroid table is tiny); cell search re-uses the brute-force kernel
  inside each cell;
- vector math is JVM-side (functions/vector.py) by default; the three
  documented exceptions are Arrow-batched pandas UDFs where per-row
  expression folds defeat codegen (SRP signatures, PQ encode/tables) —
  each preserves the in-order IEEE fold so results stay engine-exact.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from prod_data_pipeline_spark.functions.vector import cosine_sim, to_double_array
from prod_data_pipeline_spark.operators.dedup import (
    _finish_pairs,
    bit_bands,
    blocked_pairs,
    collapsed_pairs,
    lsh_candidates,
)
from prod_data_pipeline_spark.session import ensure_parallelism, truncate_lineage

# Digits every reported cosine similarity is rounded to (before any
# threshold compare, in both engines).
ROUND_SIM = 4
# Seed of the k-means quantizer fit (and its fit-sample hash).
KMEANS_SEED = 42
# md5 prefix of the SRP hyperplanes: component (b, i) hashes "42:b:i".
SRP_SEED = 42
# SRP signature width and the bits per LSH band of srp_near_dup_pairs.
SRP_BITS = 32
SRP_BAND_BITS = 8


def _norm_emb(df: DataFrame, emb_col: str) -> DataFrame:
    # vector math is per-row-heavy; a single-file corpus must not serialize
    # onto one task (no-op when the input is already parallel)
    return ensure_parallelism(df).withColumn("_emb", to_double_array(F.col(emb_col)))


def _emb_matrix(emb: "pd.Series", dim: int):
    """(batch, dim) float64 matrix + validity mask for an Arrow batch of
    embeddings, for the vectorized pandas-UDF kernels (SRP signatures, PQ
    encode/tables).

    A bare ``np.array(emb.tolist(), dtype="float64")`` CRASHES the task
    when the batch contains a NULL embedding or a wrong-length array
    (ragged input builds an object array and the reshape/column-slice
    raises) — whereas the expression-fold forms these kernels replaced
    degraded gracefully: NULL dots → bits 0, NULL distances excluded at
    verify.  This helper restores that contract: invalid rows (NULL
    array, wrong length, non-finite elements — a NULL element arrives
    here as NaN via numpy's object→float cast) become all-zero rows with
    mask False.  Zero rows give dot = 0.0 → sign bit 0, exactly the
    degraded signature of the expression fold; callers that emit
    per-row structures (PQ) should NULL-out unmasked rows instead.

    The all-valid batch — the only shape that exists at scale — takes the
    vectorized fast path with zero per-row Python work.
    """
    vals = emb.tolist()
    n = len(vals)
    if n:
        try:
            x = np.asarray(vals, dtype="float64")
            if x.ndim == 2 and x.shape[1] == dim:
                ok = np.isfinite(x).all(axis=1)
                if ok.all():
                    return x, ok
                return np.where(ok[:, None], x, 0.0), ok
        except (TypeError, ValueError):
            pass
    # slow path: at least one NULL/ragged row made the batch inhomogeneous
    x = np.zeros((n, dim), dtype="float64")
    ok = np.zeros(n, dtype=bool)
    for i, v in enumerate(vals):
        if v is None or len(v) != dim:
            continue
        try:
            row = np.asarray(v, dtype="float64")
        except (TypeError, ValueError):
            continue
        if np.isfinite(row).all():
            x[i] = row
            ok[i] = True
    return x, ok


def ranked_topk(
    scored: DataFrame, k: int, order: list, keys: tuple = ("query_id",)
) -> DataFrame:
    """Two-stage per-query top-k over a (query_id, ...) scored relation —
    the 100 TB-safe replacement for the single window
    ``row_number() OVER (PARTITION BY query_id ORDER BY ...)``: that shape
    shuffles EVERY scored row into |panel| reducer keys, so each task
    sorts a corpus-sized group — a single-task bottleneck the moment the
    corpus outgrows one executor.  Stage 1 ranks within (query_id,
    input-partition) — |panel| x n_partitions keys, groups bounded by the
    scan's split size — and keeps k per group; stage 2 re-ranks the
    surviving |panel| x n_partitions x k rows globally per query.

    The result is BIT-IDENTICAL to the single-window form for any total
    order (the global top-k of a union is the top-k of per-part top-ks;
    the tie-break key makes the order total), for ANY placement of rows —
    spark_partition_id() only has to partition the rows, not partition
    them deterministically — so every oracle hash is unchanged.  Returns
    the scored relation's columns + rank, filtered to rank <= k.
    """
    pre = Window.partitionBy(*keys, "_pid").orderBy(*order)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_r1", F.row_number().over(pre))
        .filter(F.col("_r1") <= k)
        .drop("_pid", "_r1")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus scan + the two-stage
    per-query top-k (ranked_topk — no corpus-sized window groups).

    Returns (query_id, neighbor_id, sim, rank); self-matches excluded; ties
    broken by neighbor id for determinism.
    """
    corpus = _norm_emb(df, emb_col).select(F.col(id_col).alias("neighbor_id"), "_emb")
    queries = _norm_emb(query_df, emb_col).select(
        F.col(id_col).alias("query_id"), F.col("_emb").alias("_qemb")
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", cosine_sim(F.col("_qemb"), F.col("_emb")))
        # zero-norm vectors have NULL cosine (try_divide): not a neighbor
        .filter(F.col("_sim").isNotNull())
    )
    return (
        ranked_topk(scored, k, [F.desc("_sim"), F.asc("neighbor_id")])
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_sim"), ROUND_SIM).alias("sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def hard_negative_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for metric/contrastive training: per anchor,
    the top-k most-similar vectors with a DIFFERENT label — the negatives
    that actually move a contrastive loss (random negatives are mostly
    trivial at scale; the hard ones live near the decision boundary).

    Same plan shape as brute_force_topk — broadcast anchors x one corpus
    scan + per-anchor window — with the label-mismatch predicate riding
    the broadcast join condition, so excluded positives never enter the
    scored relation at all.  NULL labels pair with everything (an
    unlabeled vector can serve as a negative for any anchor); ties break
    by neighbor id.  Returns (query_id, neighbor_id, neighbor_label,
    sim, rank)."""
    corpus = _norm_emb(df, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        "_emb",
    )
    queries = _norm_emb(query_df, emb_col).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_qlabel"),
        F.col("_emb").alias("_qemb"),
    )
    scored = (
        corpus.join(
            F.broadcast(queries),
            (F.col("query_id") != F.col("neighbor_id"))
            & ~F.col("_qlabel").eqNullSafe(F.col("neighbor_label")),
        )
        .withColumn("_sim", cosine_sim(F.col("_qemb"), F.col("_emb")))
        .filter(F.col("_sim").isNotNull())
    )
    return (
        ranked_topk(scored, k, [F.desc("_sim"), F.asc("neighbor_id")])
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(F.col("_sim"), ROUND_SIM).alias("sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def l2_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k: broadcast queries x corpus scan, rank by
    ascending distance (ties by neighbor id).  The unnormalized-metric
    companion to brute_force_topk — rankings genuinely differ from
    cosine when vector norms vary, which is what rank-fusion consumers
    (RRF) exploit.  Returns (query_id, neighbor_id, dist, rank)."""
    from prod_data_pipeline_spark.functions.vector import sq_l2_dist

    corpus = _norm_emb(df, emb_col).select(F.col(id_col).alias("neighbor_id"), "_emb")
    queries = _norm_emb(query_df, emb_col).select(
        F.col(id_col).alias("query_id"), F.col("_emb").alias("_qemb")
    )
    scored = (
        corpus.join(
            F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
        )
        .withColumn("_d", sq_l2_dist(F.col("_qemb"), F.col("_emb")))
        # a zero-length or length-mismatched embedding yields NULL distance,
        # and ascending order sorts NULLs FIRST — without this filter one
        # malformed vector would take rank 1 in EVERY query's top-k (the
        # guard brute_force_topk already carries)
        .filter(F.col("_d").isNotNull())
    )
    return (
        ranked_topk(scored, k, [F.asc("_d"), F.asc("neighbor_id")])
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_d"), 4).alias("dist"),
            "rank",
        )
    )


def _round_half_up(x: float, nd: int) -> float:
    """Half-UP on the shortest decimal expansion — matches Spark's
    BigDecimal round and DuckDB ROUND (python's built-in round() is
    banker's and diverges on exact .5 ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


def mmr_rerank(
    df: DataFrame,
    query_df: DataFrame,
    k_candidates: int = 20,
    k_select: int = 8,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of a top-k candidate list:
    greedily select k_select of the k_candidates nearest neighbors,
    scoring each remaining candidate lam*sim(query, c) - mu*max over
    already-selected s of sim(c, s) — the diversity-aware re-rank RAG
    retrieval uses so the context window isn't k copies of the same
    passage.

    `lam` and `mu` are SEPARATE parameters (not mu = 1 - lam): the
    oracle writes both as SQL literals, and 1.0 - 0.7 in IEEE is
    0.30000000000000004, not the literal 0.3 — deriving one from the
    other would diverge from any engine replaying the published
    formula.  All inputs to the greedy arithmetic are cosines ROUNDED
    to 4 (computed JVM-side with the sequential-fold parity the other
    similarity queries rely on), so every score is a fixed float chain
    on identical doubles.

    The greedy loop is inherently sequential over k_select steps on a
    k_candidates-bounded relation, so it runs driver-side on two
    BOUNDED collects (k rows + k^2 pair sims — bounded by the
    PARAMETERS, not the data; the corpus-sized work remains the
    distributed candidate scan).  Ties break by neighbor id at every
    argmax.  Returns (mmr_rank, neighbor_id, sim, score)."""
    cand_df = brute_force_topk(df, query_df, k=k_candidates, id_col=id_col, emb_col=emb_col)
    cand_rows = cand_df.collect()  # bounded: k_candidates rows
    cand_ids = [int(r["neighbor_id"]) for r in cand_rows]
    sims = {int(r["neighbor_id"]): float(r["sim"]) for r in cand_rows}

    spark = df.sparkSession
    ids_df = spark.createDataFrame([(i,) for i in cand_ids], f"{id_col} long")
    sub = _norm_emb(df.join(F.broadcast(ids_df), id_col, "left_semi"), emb_col)
    a = sub.select(F.col(id_col).alias("ida"), F.col("_emb").alias("ea"))
    b = sub.select(F.col(id_col).alias("idb"), F.col("_emb").alias("eb"))
    pair_rows = (
        a.join(F.broadcast(b), F.col("ida") != F.col("idb"))
        .select("ida", "idb", F.round(cosine_sim(F.col("ea"), F.col("eb")), 4).alias("s"))
        .collect()  # bounded: k_candidates^2 rows
    )
    psim = {(int(r["ida"]), int(r["idb"])): float(r["s"]) for r in pair_rows}

    selected: list[tuple[int, float, float]] = []  # (id, sim, score)
    first = min(cand_ids, key=lambda i: (-sims[i], i))
    selected.append((first, sims[first], _round_half_up(lam * sims[first], 6)))
    chosen = {first}
    for _ in range(1, min(k_select, len(cand_ids))):
        best = None
        for c in cand_ids:
            if c in chosen:
                continue
            pen = max(psim[(c, s)] for s, _, _ in selected)
            score = lam * sims[c] - mu * pen
            if best is None or score > best[1] or (score == best[1] and c < best[0]):
                best = (c, score)
        selected.append((best[0], sims[best[0]], _round_half_up(best[1], 6)))
        chosen.add(best[0])
    rows = [
        (rank + 1, nid, sim, score)
        for rank, (nid, sim, score) in enumerate(selected)
    ]
    return spark.createDataFrame(
        rows, "mmr_rank long, neighbor_id long, sim double, score double"
    )


def kmeans_cells(
    df: DataFrame,
    k: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 8,
    fit_sample_mod: int | None = None,
    dim: int | None = None,
):
    """Coarse quantizer: k-means cells (pyspark.ml, Lloyd's on DataFrames).
    Returns (assignments(id, cell), centroids(cell, centroid)).

    With fit_sample_mod=m the ITERATIVE fit touches only the deterministic
    1/m hash-sample of the corpus (rows where xxhash64(KMEANS_SEED, id) % m == 0
    — retry-safe, no rand(), the repo's standard sampling rule), while the
    one-pass ASSIGNMENT still covers every row.  This is how IVF indexes
    are actually built at 100 TB: Lloyd's scans the corpus once per
    iteration, so fitting 8 iterations on the full data costs 8 full
    scans, but centroid quality saturates on a sample long before that —
    sample the fit, never the assignment.  Default None preserves
    full-corpus fit (exact legacy behavior for small corpora).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from prod_data_pipeline_spark.functions.guards import finite_embeddings

    # non-finite hardening (round 11): a NULL/NaN/Inf row would poison
    # Lloyd's means (fit) and get a garbage cell (assignment) — excluded
    # from BOTH, per the _emb_matrix mask-False contract
    feats = finite_embeddings(df, emb_col, dim).select(
        F.col(id_col), array_to_vector(to_double_array(F.col(emb_col))).alias("features")
    )
    fit_feats = feats
    if fit_sample_mod is not None and fit_sample_mod > 1:
        fit_feats = feats.filter(
            F.pmod(F.xxhash64(F.lit(KMEANS_SEED), F.col(id_col)), F.lit(fit_sample_mod))
            == 0
        )
    model = KMeans(k=k, maxIter=max_iter, seed=KMEANS_SEED, featuresCol="features").fit(
        fit_feats
    )
    assignments = model.transform(feats).select(
        F.col(id_col), F.col("prediction").alias("cell")
    )
    spark = df.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cell", "centroid"],
    ).select("cell", to_double_array(F.col("centroid")).alias("centroid"))
    return assignments, centroids


def label_centroids(
    df: DataFrame,
    emb_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Element-wise mean embedding per label — deterministic coarse centroids.

    posexplode -> (label, pos) avg -> re-assemble ordered array.  Exact mean
    uses decimal accumulation so centroids are reproducible run-to-run
    regardless of partial-agg order.  Rows failing
    guards.invalid_embedding are excluded (round-11 non-finite
    hardening — the _emb_matrix contract; one NaN element would poison
    the label's whole centroid).
    """
    from prod_data_pipeline_spark.functions.guards import finite_embeddings

    exploded = finite_embeddings(df, emb_col, dim).select(
        F.col(label_col).alias("cell"),
        F.posexplode(to_double_array(F.col(emb_col))).alias("pos", "v"),
    )
    # exact decimal sum -> double, then ONE double division: the repo's
    # standard cross-engine mean (a decimal-domain quotient would round at
    # an engine-chosen scale; this form is a single IEEE op on identical
    # inputs in any engine)
    per_pos = exploded.groupBy("cell", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    return (
        per_pos.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )


def label_centroids_split(
    df: DataFrame,
    flag_col: str,
    emb_col: str = "embedding",
    label_col: str = "label",
) -> tuple[DataFrame, DataFrame]:
    """Snapshot and union label-centroid codebooks from ONE corpus pass.

    Bit-identical to calling :func:`label_centroids` on the snapshot
    subset (``flag_col`` false) and on the full frame separately —
    DECIMAL partial sums are exact, so the conditional snapshot sum and
    the unconditional union sum computed in the same aggregate equal the
    two separately-computed sums, and each mean is the same single
    IEEE long/double division — but the corpus is posexploded and
    aggregated ONCE instead of twice.  At 100 TB this halves the
    index-construction cost of the append-vs-rebuild recall audit: one
    full-corpus aggregation feeds both codebooks.  Equivalence is
    pytest-pinned (tests/test_similarity.py).

    A cell with no snapshot rows (novel label arriving in the batch) is
    absent from the snapshot codebook and present in the union codebook,
    exactly as the two separate fits would produce."""
    from prod_data_pipeline_spark.functions.guards import finite_embeddings

    dec = "decimal(28,12)"
    ex = finite_embeddings(df, emb_col).select(
        F.col(label_col).alias("cell"),
        F.col(flag_col).cast("boolean").alias("_new"),
        F.posexplode(to_double_array(F.col(emb_col))).alias("pos", "v"),
    )
    part = ex.groupBy("cell", "pos").agg(
        F.sum(F.when(~F.col("_new"), F.col("v").cast(dec))).alias("s0"),
        F.sum(F.when(~F.col("_new"), 1).otherwise(0)).alias("c0"),
        F.sum(F.col("v").cast(dec)).alias("su"),
        F.count(F.lit(1)).alias("cu"),
    )
    # cells-x-dim-sized relation feeding two codebook consumers: cut
    # lineage so the corpus aggregation runs once, not per codebook
    part = part.transform(truncate_lineage, eager=False)

    def assemble(rel: DataFrame, mean: F.Column) -> DataFrame:
        per = rel.select("cell", "pos", mean.alias("m"))
        return per.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )

    snap = assemble(
        part.filter(F.col("c0") > 0), F.col("s0").cast("double") / F.col("c0")
    )
    union = assemble(part, F.col("su").cast("double") / F.col("cu"))
    return snap, union


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid via broadcast join + argmax
    cosine (min_by keeps it a single pass, no window).  Rows failing
    guards.invalid_embedding are excluded (round-11 hardening: a NaN
    norm makes every cosine NaN and max_by engine-dependent)."""
    from prod_data_pipeline_spark.functions.guards import finite_embeddings

    v = _norm_emb(finite_embeddings(df, emb_col, dim), emb_col)
    joined = v.crossJoin(F.broadcast(centroids)).withColumn(
        "_csim", cosine_sim(F.col("_emb"), F.col("centroid"))
    )
    others = [c for c in df.columns]
    return (
        joined.groupBy(*others)
        .agg(F.max_by(F.col("cell"), F.col("_csim")).alias("cell"))
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    block_cols: tuple = ("label",),
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sort: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on cheap attribute
    equality (same shape as dedup.ngram_jaccard_pairs): exact cosine within
    blocks, never corpus x corpus.  The oracle-checkable exact counterpart
    of srp_near_dup_pairs.  sort=False skips the output range-exchange for
    pipelines that consume the pair relation downstream."""
    base = _norm_emb(df, emb_col).select(
        F.col(id_col), *[F.col(c) for c in block_cols], "_emb"
    )
    sim = F.round(cosine_sim(F.col("a._emb"), F.col("b._emb")), ROUND_SIM)
    return blocked_pairs(base, id_col, block_cols, sim, "sim", threshold, sort)


def _md5_planes(dim: int, nbits: int) -> list[list[float]]:
    """Hyperplanes any engine can regenerate: component (b, i) is
    ``2*(md5("{SRP_SEED}:{b}:{i}")[:13 hex] / 2^52) - 1`` — uniform in [-1, 1).

    13 hex digits = 52 bits < 2^53, so the int->double conversion is exact,
    the division by 2^52 is exact power-of-two scaling, and the final
    multiply/subtract are single IEEE ops — a SQL engine computing the same
    recipe (DuckDB: ('0x' || substr(md5(s), 1, 13))::BIGINT) produces
    bit-identical doubles.  Uniform-cube directions are not perfectly
    spherical (Gaussian ones would be), which shifts per-bit collision
    probability slightly — irrelevant for a candidate generator whose
    output is exact-cosine verified."""
    import hashlib

    return [
        [
            2.0
            * (
                int(hashlib.md5(f"{SRP_SEED}:{b}:{i}".encode()).hexdigest()[:13], 16)
                / 2**52
            )
            - 1.0
            for i in range(dim)
        ]
        for b in range(nbits)
    ]


def with_srp_signature(
    df: DataFrame,
    dim: int,
    nbits: int = SRP_BITS,
    emb_col: str = "embedding",
) -> DataFrame:
    """Append a signed-random-projection (SimHash-for-cosine) signature:
    bit b = sign(e . r_b) for the md5-derived hyperplanes r_b of
    _md5_planes.  Collision probability per bit is 1 - angle/pi, so
    banding the bits gives an LSH family for cosine similarity.

    Every float op is replayable bit-for-bit in another engine, which makes
    the downstream pair query exact-hash-oracle-checked (the same recipe
    that oracled pagerank_quantized).  The sign test ``dot > 0`` branches
    on identical doubles, so the signature — and therefore the candidate
    set — is engine-independent.  The hyperplanes are baked into the
    closure: recomputed lineage is identical, so task retries are safe.

    Computed as an Arrow-batched pandas UDF, the documented exception to
    "stay JVM-side": Spark's higher-order array functions run interpreted
    (no codegen), so an expression form pays nbits x dim interpreted ops
    per row (2.1 s at the inflated bench vs ~0.1 s vectorized).
    """
    # BIT-IDENTICAL to the expression fold: the accumulator loops the dims
    # SEQUENTIALLY — acc = (((0 + p_1) + p_2) + ...) element-wise across
    # the batch — which is exactly the in-order IEEE fold
    # functions.vector.dot / DuckDB list_sum evaluate.  numpy's own dot/sum
    # would pairwise-split the adds and break bit-parity; the explicit loop
    # is the point.
    md5_rows = _md5_planes(dim, nbits)

    @F.pandas_udf("long")
    def srp_md5_sig_udf(emb: pd.Series) -> pd.Series:
        # invalid rows arrive zeroed (sig 0 — the expression fold's
        # degraded value); verify later excludes them via NULL cosine
        x, _ = _emb_matrix(emb, dim)
        if x.size == 0:
            return pd.Series(np.empty(0, dtype="int64"))
        sig = np.zeros(len(x), dtype="int64")
        for b, row in enumerate(md5_rows):
            acc = np.zeros(len(x), dtype="float64")
            for i in range(dim):
                acc = acc + x[:, i] * row[i]
            sig |= (acc > 0).astype("int64") << b
        return pd.Series(sig)

    v = _norm_emb(df, emb_col)
    return v.withColumn("srp_sig", srp_md5_sig_udf(F.col("_emb")))


def _srp_pairs_lsh(
    df: DataFrame,
    dim: int,
    threshold: float,
    nbits: int,
    band_bits: int,
    id_col: str,
    emb_col: str,
):
    """Core sign-LSH pipeline over an (assumed exact-dup-free) corpus:
    SRP signatures -> band chunks -> candidate self-join -> exact cosine
    verify.  Returns (pairs, sig_cache) — caller owns the cache."""
    sig = with_srp_signature(df, dim, nbits, emb_col)
    # referenced by both band sides + both verify sides: persist or the
    # 1024-literal projection re-evaluates four times
    sig = sig.select(F.col(id_col), "_emb", "srp_sig").persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidates(bit_bands(sig, id_col, "srp_sig", nbits // band_bits, band_bits), id_col)
    ea = sig.select(F.col(id_col).alias("id_a"), F.col("_emb").alias("_ea"))
    eb = sig.select(F.col(id_col).alias("id_b"), F.col("_emb").alias("_eb"))
    out = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("sim", F.round(cosine_sim(F.col("_ea"), F.col("_eb")), ROUND_SIM))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
    return out, sig


def srp_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.3,
    nbits: int = SRP_BITS,
    band_bits: int = SRP_BAND_BITS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sort: bool = True,
    materialize: bool = True,
    collapse_exact: bool = True,
) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH bucketing + exact cosine verify.

    The scale path: candidates are pairs agreeing on at least one
    `band_bits`-bit chunk of the SRP signature (a self-equi-join on band
    keys, the only shuffle), then only those pairs pay the exact cosine.
    Approximate by construction — recall rises with nbits/band count; the
    planted-duplicate recall bound is unit-tested (tests/test_similarity.py).

    Band selectivity matters: 8-bit bands give 256 buckets per band, so
    candidate volume stays ~|corpus|·bucket_load rather than quadratic
    (4-bit bands = 16 buckets measurably drowned the verifier in
    candidates).  Like all sign-LSH, recall is designed for HIGH cosine
    thresholds (true near-dups agree on nearly every bit); at moderate
    thresholds it is a candidate generator, not an exhaustive search.

    collapse_exact (default on) groups BIT-IDENTICAL embeddings (md5 of
    the stringified array) and runs the pipeline on one representative
    per group, then expands rep pairs back to full-id pairs
    (operators.dedup.collapsed_pairs) — output identical, but
    signatures, banding, and verification run on the distinct-vector
    corpus.  Replica cliques are QUADRATIC in candidate volume (every
    replica shares every band key), so this attacks sign-LSH's worst
    realistic shape — re-embedded recrawl snapshots: measured
    7.5 s -> 2.9 s at the 10×-replicated sf1-equivalent bench.  An
    identical pair's verified value is its rep's self-cosine (computed,
    not assumed 1.0 — a zero vector's self-cosine is NULL and stays
    excluded, exactly as the uncollapsed verify excludes it).
    """

    def core(d: DataFrame):
        return _srp_pairs_lsh(d, dim, threshold, nbits, band_bits, id_col, emb_col)

    if not collapse_exact:
        out, sig = core(df)
        return _finish_pairs(out, sort, materialize, [sig])

    # Null-safe, length-prefixed group key: concat_ws SKIPS NULL elements,
    # so without the per-element coalesce [1.0, NULL, 2.0] and
    # [NULL, 1.0, 2.0] would both render "1.0,2.0" and collapse distinct
    # vectors into one exact-dup group; the size prefix keeps NULL and
    # zero-length arrays (both rendering "") apart as well.
    key = F.md5(
        F.concat_ws(
            ",",
            F.coalesce(F.size(F.col(emb_col)).cast("string"), F.lit("-1")),
            F.transform(
                F.col(emb_col),
                lambda x: F.coalesce(x.cast("string"), F.lit("_")),
            ),
        )
    )
    out, caches = collapsed_pairs(
        df,
        id_col,
        key,
        F.lit(True),
        core,
        lambda _members, sig: sig.select(
            F.col(id_col).alias("_ssid"),
            F.round(cosine_sim(F.col("_emb"), F.col("_emb")), ROUND_SIM).alias("_ss"),
        ).filter(F.col("_ss") >= threshold),
        "sim",
    )
    return _finish_pairs(out, sort, materialize, caches)


def ivf_recall_at_k(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Per-query recall@k of IVF against exact brute force, in one plan.

    recall@k = |ivf top-k ∩ exact top-k| / |exact top-k| per query — the
    standard ANN quality metric, computed as a semi-join between the two
    neighbor sets plus two small aggregations (everything is keyed on
    query_id; the heavy lifting is the two top-k searches themselves).
    Surfaces approximation quality per RUN, not just in unit tests: wire it
    into a pipeline's metrics to catch recall regressions when centroids or
    nprobe change.
    """
    exact = brute_force_topk(df, query_df, k, id_col, emb_col).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(df, query_df, k, nprobe, n_cells, id_col, emb_col).select(
        "query_id", "neighbor_id"
    )
    hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hit.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def ivf_nprobe_sweep(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    n_cells: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    replicas: int = 1,
) -> DataFrame:
    """Recall@k of the k-means IVF index at SEVERAL nprobe settings from
    one index build and one scored candidate pass — the recall/cost curve
    an ANN deployment is tuned against.

    The trick that keeps the sweep at single-search cost: every candidate
    keeps the probe RANK of its cell in the query's euclidean cell
    ordering, and the nprobe=p result set is exactly the candidates with
    rank <= p.  So the corpus is scanned once, candidates are scored
    (cosine) once at max(nprobes), and each sweep point is a filter +
    per-(query, nprobe) top-k — not len(nprobes) separate searches.  The
    exact ground truth (brute_force_topk) is likewise computed once.

    Returns one row per (nprobe, query_id): n_exact, n_hit, recall.
    recall is non-decreasing in nprobe by construction (candidate sets
    nest), and at nprobe = n_cells every cell is probed, so the result
    IS brute force and recall is exactly 1.0 — both properties are
    oracle-checkable facts even though the k-means cells themselves are
    partitioning-sensitive.
    """
    max_np = max(nprobes)
    assignments, cents = kmeans_cells(df, k=n_cells, emb_col=emb_col, id_col=id_col)
    norm = _norm_emb(df, emb_col).select(F.col(id_col).alias("neighbor_id"), "_emb")
    if replicas <= 1:
        corpus = norm.join(
            assignments.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
        )
    else:
        # Cell replication — the standard IVF recall lever: each corpus
        # vector is indexed under its `replicas` nearest cells (broadcast
        # centroid codebook, argmin-by-rank; same euclidean metric as the
        # quantizer), so a query's probe set catches neighbors that sit
        # just across a cell boundary.  Costs replicas× index size and
        # candidate volume, never an extra corpus shuffle — the posting
        # fan-out generates in-pipeline off the broadcast codebook.
        csq = F.aggregate(
            F.zip_with(
                F.col("_emb"), F.col("centroid"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        wc = Window.partitionBy("neighbor_id").orderBy(F.asc("_cd"), F.asc("cell"))
        corpus = (
            norm.crossJoin(F.broadcast(cents))
            .withColumn("_cd", csq)
            .withColumn("_cr", F.row_number().over(wc))
            .filter(F.col("_cr") <= replicas)
            .select("neighbor_id", "_emb", "cell")
        )
    q = _norm_emb(query_df, emb_col).select(
        F.col(id_col).alias("query_id"), F.col("_emb").alias("_qemb")
    )
    sqdist = F.aggregate(
        F.zip_with(F.col("_qemb"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn("_d", sqdist)
    wq = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("cell"))
    probes = (
        qc.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= max_np)
        .select("query_id", "_qemb", "cell", "_pr")
    )
    cand = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", cosine_sim(F.col("_qemb"), F.col("_emb")))
        .filter(F.col("_sim").isNotNull())
        .select("query_id", "neighbor_id", "_sim", "_pr")
    )
    if replicas > 1:
        # a replicated vector can surface via several probed cells: keep
        # the earliest probe rank so each (query, neighbor) counts once
        cand = cand.groupBy("query_id", "neighbor_id").agg(
            F.min("_pr").alias("_pr"), F.max("_sim").alias("_sim")
        )
    np_arr = F.array(*[F.lit(int(p)) for p in sorted(nprobes)])
    fanned = cand.withColumn("nprobe", F.explode(np_arr)).filter(
        F.col("_pr") <= F.col("nprobe")
    )
    # two-stage top-k with the composite (query, nprobe) key — the fanned
    # candidate relation is corpus/n_cells-scaled per sweep point, the
    # same unbounded-group hazard ranked_topk bounds for the search paths
    approx = ranked_topk(
        fanned, k, [F.desc("_sim"), F.asc("neighbor_id")],
        keys=("query_id", "nprobe"),
    ).select("nprobe", "query_id", "neighbor_id")
    exact = brute_force_topk(df, query_df, k, id_col, emb_col).select(
        "query_id", "neighbor_id"
    )
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("nprobe", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = n_exact.withColumn("nprobe", F.explode(np_arr))
    return (
        base.join(hits, ["nprobe", "query_id"], "left")
        .select(
            "nprobe",
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 4).alias(
                "recall"
            ),
        )
        .orderBy("nprobe", "query_id")
    )


def ivf_topk_label(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC coarse quantizer: cells are the
    exact per-label centroid means (label_centroids — decimal-sum exact,
    engine-independent), assignment/probing is squared-euclidean argmin
    with an explicit (distance, cell) tie-break, and cell search is the
    usual cosine top-k.  Every float op is an in-order fold on identical
    inputs, so the WHOLE index — centroids, assignments, probes, results
    — replays bit-for-bit in another engine: the oracle-checkable IVF,
    where the k-means variant (ivf_topk) is partitioning-sensitive by
    construction and stays rows-only.

    The centroid table is collected to the driver (bounded by distinct
    labels — control-plane size, like a catalog read) and inlined as
    literals: cell assignment becomes a zero-shuffle projection, the
    exact scale shape a real IVF index wants (the centroid codebook
    always ships to every executor anyway).

    Pass ``centroids`` to serve from a precomputed (cell, centroid)
    relation — e.g. the union half of label_centroids_split — instead
    of refitting on ``df``."""
    cents = (
        centroids if centroids is not None else label_centroids(df, emb_col, label_col)
    )
    cent_arr, _ = _codebook_literal(cents)
    return _ivf_search_codebook(df, query_df, cent_arr, k, nprobe, id_col, emb_col)


def _codebook_literal(cents: DataFrame) -> tuple[F.Column, int]:
    """Collect a (cell, centroid) relation into an inlined
    array<struct<cell, c>> literal, sorted by cell.  The driver collect
    is bounded by the cell count — control-plane size, like a catalog
    read; the codebook ships to every executor with the plan, making
    cell assignment a zero-shuffle projection.  Returns (literal,
    n_cells).

    Raises ValueError on an EMPTY centroid relation (an all-invalid or
    empty snapshot) — F.array() of zero struct literals is VOID-typed
    and every downstream field extraction would fail with a cryptic
    AnalysisException; cold-starting an index belongs to a fresh
    ivf_topk_label/kmeans_cells build on the first batch, not to
    append."""
    cent_rows = sorted(cents.collect(), key=lambda r: r["cell"])
    if not cent_rows:
        raise ValueError(
            "empty IVF codebook: the centroid relation has no cells "
            "(empty or all-non-finite snapshot) — bootstrap the index "
            "from the first batch instead of appending to nothing"
        )
    return (
        F.array(
            *[
                F.struct(
                    F.lit(int(r["cell"])).alias("cell"),
                    F.array(*[F.lit(float(x)) for x in r["centroid"]]).alias("c"),
                )
                for r in cent_rows
            ]
        ),
        len(cent_rows),
    )


def _sqd(e: F.Column, c: F.Column) -> F.Column:
    """Squared euclidean distance as an in-order expression fold —
    identical IEEE op order in any engine."""
    return F.aggregate(
        F.zip_with(e, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ranked_cells(cent_arr: F.Column) -> F.Column:
    """Cells of an inlined codebook ranked by squared-euclidean distance
    to the bound `_emb` column: array_sort on (d, cell) structs sorts
    field-wise, so equal distances fall back to the cell id — fully
    deterministic even on exact float ties.  [0]['cell'] is the argmin
    assignment; slice(.., 1, nprobe) is the probe order."""
    return F.array_sort(
        F.transform(
            cent_arr,
            lambda s: F.struct(
                _sqd(F.col("_emb"), s["c"]).alias("d"), s["cell"].alias("cell")
            ),
        )
    )


def _ivf_search_codebook(
    df: DataFrame,
    query_df: DataFrame,
    cent_arr: F.Column,
    k: int,
    nprobe: int,
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """IVF cosine top-k against a GIVEN inlined codebook (the search half
    of ivf_topk_label, reused by the incremental-append path so a fresh
    index and an appended index run the byte-identical search)."""
    ranked_cells = _ranked_cells(cent_arr)
    corpus = _norm_emb(df, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        "_emb",
        ranked_cells[0]["cell"].alias("cell"),
    )
    q = _norm_emb(query_df, emb_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_emb").alias("_qemb"),
        F.slice(ranked_cells, 1, nprobe).alias("_probes"),
    )
    probes = q.select(
        "query_id", "_qemb", F.explode(F.col("_probes")["cell"]).alias("cell")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", cosine_sim(F.col("_qemb"), F.col("_emb")))
        .filter(F.col("_sim").isNotNull())
    )
    return (
        ranked_topk(scored, k, [F.desc("_sim"), F.asc("neighbor_id")])
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_sim"), ROUND_SIM).alias("sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def ivf_append(
    snapshot_df: DataFrame,
    batch_df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Incremental IVF index maintenance: assign a NEW embedding batch to
    the EXISTING snapshot codebook — NO retrain.  This is how a nightly
    crawl extends a deployed ANN index: retraining the quantizer would
    invalidate every stored posting (a full-corpus rewrite); appending
    reuses the codebook and touches only the new rows, deferring the
    rebuild until the balance/recall audit panel (emb_ivf_append_panel)
    says the geometry has drifted.

    The codebook is the deterministic label-centroid quantizer
    (label_centroids on the SNAPSHOT — exact decimal means, so the whole
    index replays bit-for-bit in another engine), inlined as a literal
    via _codebook_literal: BOTH assignment passes are zero-exchange
    projections (argmin via _ranked_cells).  The snapshot assignment here
    stands in for the stored posting list a deployed index would read
    back — the scale property that matters is that snapshot embeddings
    never enter a shuffle and the quantizer never refits; a batch row
    whose label did not exist in the snapshot lands in its nearest
    EXISTING cell, exactly what a frozen codebook does to novel content.

    Pass ``centroids`` to reuse an already-computed codebook relation
    (skips the snapshot centroid aggregation).

    Returns (postings, centroids, n_cells): postings(id, cell, is_new)
    with is_new=false for snapshot rows, true for batch rows.
    """
    cents = (
        centroids
        if centroids is not None
        else label_centroids(snapshot_df, emb_col, label_col)
    )
    cent_arr, n_cells = _codebook_literal(cents)

    def assign(df: DataFrame, is_new: bool) -> DataFrame:
        return _norm_emb(df, emb_col).select(
            F.col(id_col),
            _ranked_cells(cent_arr)[0]["cell"].alias("cell"),
            F.lit(is_new).alias("is_new"),
        )

    postings = assign(snapshot_df, False).unionByName(assign(batch_df, True))
    return postings, cents, n_cells


def ivf_append_topk(
    snapshot_df: DataFrame,
    batch_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k over the snapshot+batch UNION served from the STALE
    snapshot codebook — the post-append serving path whose recall the
    rebuild decision weighs against a fresh ivf_topk_label of the union.
    Runs the byte-identical search kernel (_ivf_search_codebook) as the
    fresh index, so any quality gap is attributable to the codebook
    alone.  Pass ``centroids`` to reuse an already-computed snapshot
    codebook (e.g. the snapshot half of label_centroids_split)."""
    cents = (
        centroids
        if centroids is not None
        else label_centroids(snapshot_df, emb_col, label_col)
    )
    cent_arr, _ = _codebook_literal(cents)
    union = snapshot_df.select(id_col, emb_col).unionByName(
        batch_df.select(id_col, emb_col)
    )
    return _ivf_search_codebook(union, query_df, cent_arr, k, nprobe, id_col, emb_col)


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    n_cells: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    fit_sample_mod: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse cells; each query probes only
    its nprobe nearest cells, shrinking the scan ~n_cells/nprobe-fold.

    Probe-cell selection uses squared EUCLIDEAN distance to the centroid —
    the same metric the k-means quantizer assigned corpus vectors with.
    Probing by cosine against a euclidean quantizer is a metric mismatch:
    centroids (means of unit vectors) have different norms, so the cosine
    and euclidean cell orderings disagree, and queries probe cells their
    true neighbors were never assigned to (measured ~10pt recall drop on
    the test corpus).
    """
    assignments, cents = kmeans_cells(
        df, k=n_cells, emb_col=emb_col, id_col=id_col, fit_sample_mod=fit_sample_mod,
    )
    corpus = (
        _norm_emb(df, emb_col)
        .select(F.col(id_col).alias("neighbor_id"), "_emb")
        .join(assignments.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    )
    q = _norm_emb(query_df, emb_col).select(F.col(id_col).alias("query_id"), F.col("_emb").alias("_qemb"))
    # nprobe nearest cells per query (centroid table is tiny: window is cheap)
    sqdist = F.aggregate(
        F.zip_with(F.col("_qemb"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn("_d", sqdist)
    wq = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("cell"))
    probes = (
        qc.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "_qemb", "cell")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", cosine_sim(F.col("_qemb"), F.col("_emb")))
        .filter(F.col("_sim").isNotNull())
    )
    return (
        ranked_topk(scored, k, [F.desc("_sim"), F.asc("neighbor_id")])
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_sim"), ROUND_SIM).alias("sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def semdedup(
    df: DataFrame,
    threshold: float = 0.3,
    block_cols: tuple = ("label",),
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): inside each semantic cluster, prune every vector
    that is >= threshold cosine-similar to a lower-id vector, keeping the
    lowest id of each similar group's chain heads.

    This is the *dominated-id* variant, not the paper's sequential greedy
    sweep: a vector is pruned iff ANY lower-id cluster-mate clears the
    threshold, regardless of whether that mate itself survives.  The rule
    is order-free, embarrassingly parallel, and SQL-expressible (EXISTS
    self-join), at the cost of occasionally pruning one more vector per
    chain (A~B, B~C, A!~C removes both B and C; greedy keeps C).  For
    corpus curation that bias is the safe direction — it never keeps a
    pair above threshold.

    The similarity test reuses cosine_near_dup_pairs verbatim (double
    cast, in-order fold, ROUND to ROUND_SIM digits before the compare), so the
    kept set is bit-reproducible across engines.  Cost: within-block
    pairs only — never corpus x corpus; at 100 TB blocks come from a
    k-means/IVF cell assignment (assign_cells) so block sizes are
    controlled by the cell count."""
    pruned = (
        cosine_near_dup_pairs(
            df, threshold=threshold, block_cols=block_cols, id_col=id_col,
            emb_col=emb_col, sort=False,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(pruned, id_col, "left_anti")


def pq_codebook(
    df: DataFrame,
    emb_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
):
    """Product-quantization codebook with a DETERMINISTIC trainer: the
    per-label mean embedding (rounded to 6 digits at source — the
    emb_centroid_drift recipe) doubles as one code per label in EVERY
    subspace, so the codebook is a pure function of the data that any
    engine reproduces — where k-means codebooks (the classic PQ trainer)
    are partitioning-sensitive and would force the downstream queries to
    rows-only checks.  Returns (sorted_labels, {label: [c_1..c_dim]}),
    collected to the driver: a PQ codebook is control-plane-sized
    (K × dim doubles) and ships to every executor as literals, exactly
    like a real ANN index's coarse codebook.

    Non-finite hardening (round-11 verdict #4): rows failing
    ``guards.invalid_embedding`` are EXCLUDED from training (the
    ``_emb_matrix`` mask-False contract — one NaN element would
    otherwise make a whole label's centroid NaN and every downstream
    ADC distance engine-dependent), and every collected code passes
    ``assert_finite`` before shipping as a plan literal.  Pass ``dim``
    to also exclude ragged rows (without it, raggedness detection would
    need an extra corpus pass — positional explode semantics apply)."""
    from prod_data_pipeline_spark.functions.guards import (
        assert_finite,
        finite_embeddings,
    )

    cent = (
        finite_embeddings(df, emb_col, dim).select(
            F.col(label_col).alias("label"),
            F.posexplode(to_double_array(F.col(emb_col))).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(
            F.round(F.sum(F.col("v")) / F.count(F.lit(1)), 6).alias("c")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("carr")
        )
        .collect()
    )
    rows = sorted(cent, key=lambda r: r["label"])
    book = {
        r["label"]: [assert_finite(c, f"pq_codebook[{r['label']}]") for c in r["carr"]]
        for r in rows
    }
    return [r["label"] for r in rows], book


#: Binary quantization scale for PQ distances: 2^40.  Power-of-two
#: scaling and floor are EXACT IEEE ops, so quantized values are exact
#: multiples of 2^-40 computed identically in Spark, numpy, and DuckDB —
#: and sums of up to ~2^8 of them stay below 2^53 ulps, so plain double
#: addition of quantized terms is EXACT in any order: no BigDecimal, no
#: decimal columns, vectorizable.  (Contrast the ROUND+DECIMAL recipe,
#: whose per-value BigDecimal cost dominates the covariance family.)
PQ_QUANT = float(1 << 40)
#: Product-quantization subspaces (codes per vector).
PQ_SUBSPACES = 8


def pq_encode(
    df: DataFrame,
    labels: list,
    codebook: dict,
    m: int = PQ_SUBSPACES,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """PQ-encode each vector: per subspace, the index (into the sorted
    label list) of the nearest code by quantized squared-L2 with an
    explicit (distance, index) tie-break.  Adds ``codes``
    (array<int>, length m) and ``recon_err`` — the exact sum of the
    per-subspace minima (quantized terms sum exactly in double, see
    PQ_QUANT), i.e. the squared distance to the vector's reconstruction,
    the compression-quality metric PQ deployments monitor.

    Computed as an Arrow-batched pandas UDF with ORDER-PRESERVING
    accumulation (the SRP signature recipe: the dim loop runs
    sequentially, so every float op replays the expression/SQL fold
    bit-for-bit; ascending strict-< argmin reproduces the (d, idx)
    tie-break).  The unrolled expression form of the same math ran ~10 s
    at sf0.1 — K*m deep fold trees defeat codegen — vs ~1 s vectorized.
    Zero shuffles: the codebook ships in the closure (control-plane
    size), encoding is a projection over one corpus scan."""
    dim = len(codebook[labels[0]])
    assert dim % m == 0
    dsub = dim // m
    cmat = np.array([codebook[lab] for lab in labels], dtype="float64")  # (K, dim)
    n_codes = len(labels)

    @F.pandas_udf("struct<codes: array<int>, recon_err: double>")
    def pq_encode_udf(emb: pd.Series) -> pd.DataFrame:
        x, okm = _emb_matrix(emb, dim)  # (batch, dim); invalid rows zeroed
        if x.size == 0:
            return pd.DataFrame({"codes": [], "recon_err": []})
        b = len(x)
        codes = np.zeros((b, m), dtype="int32")
        recon = np.zeros(b, dtype="float64")
        for mm in range(m):
            best_d = None
            best_i = None
            for idx in range(n_codes):
                acc = np.zeros(b, dtype="float64")
                for i in range(dsub):
                    t = x[:, mm * dsub + i] - cmat[idx, mm * dsub + i]
                    acc = acc + t * t  # sequential: the in-order IEEE fold
                d = np.floor(acc * PQ_QUANT) / PQ_QUANT
                if best_d is None:
                    best_d, best_i = d, np.zeros(b, dtype="int32")
                else:
                    better = d < best_d  # strict <: ties keep the lower idx
                    best_d = np.where(better, d, best_d)
                    best_i = np.where(better, idx, best_i).astype("int32")
            codes[:, mm] = best_i
            recon = recon + best_d  # exact: quantized terms (see PQ_QUANT)
        # invalid rows (NULL/ragged/non-finite embedding) encode as NULL,
        # not as the zero vector's codes — downstream ADC then yields NULL
        # distance and the ranking filter drops them (family convention)
        return pd.DataFrame(
            {
                "codes": [codes[i].tolist() if okm[i] else None for i in range(b)],
                "recon_err": [float(recon[i]) if okm[i] else None for i in range(b)],
            }
        )

    x = df.withColumn("_emb", to_double_array(F.col(emb_col)))
    return x.select(
        F.col(id_col), pq_encode_udf(F.col("_emb")).alias("_e")
    ).select(id_col, F.col("_e.codes").alias("codes"), F.col("_e.recon_err").alias("recon_err"))


def pq_adc_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    m: int = PQ_SUBSPACES,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Asymmetric-distance-computation top-k over a PQ-encoded corpus —
    the memory-bound ANN technique: the corpus is stored as m byte-ish
    codes per vector, each query precomputes an (m × K) distance TABLE to
    every code once, and scoring a corpus vector is m table lookups + an
    exact-DECIMAL sum instead of a dim-length float scan.

    Everything replays cross-engine: the codebook is the deterministic
    label-mean trainer (pq_codebook), sub-distances binary-quantize to
    exact multiples of 2^-40 (PQ_QUANT — floor of a power-of-two
    scaling, exact IEEE in every engine, no BigDecimal), code selection
    tie-breaks on (distance, code index), and the ADC total is a plain
    double sum of quantized terms — EXACT in any order because the
    summed ulps stay far below 2^53 — so the full result (codes,
    distances, ranks) is hash-oracle-checkable, unlike classic
    k-means-trained PQ.  Returns (query_id, neighbor_id, adc_dist,
    rank); self-matches excluded; ties break by neighbor id.

    Scale: one corpus scan to encode (zero shuffles — literal codebook),
    one broadcast of queries+tables, one per-query top-k window.  The
    ADC sum is m lookups per (query, corpus) pair — the table replaces
    the O(dim) exact distance with O(m), the entire point of PQ."""
    labels, codebook = pq_codebook(df, emb_col, label_col)
    dim = len(codebook[labels[0]])
    dsub = dim // m
    corpus = pq_encode(df, labels, codebook, m, id_col, emb_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    # query distance tables via the same order-preserving batch fold as
    # pq_encode — an unrolled m*K*dsub expression tree here cost seconds
    # of per-call driver-side plan construction alone
    cmat = np.array([codebook[lab] for lab in labels], dtype="float64")
    n_codes = len(labels)

    @F.pandas_udf("array<array<double>>")
    def pq_table_udf(emb: pd.Series) -> pd.Series:
        x, okm = _emb_matrix(emb, dim)  # invalid query rows → NULL table
        if x.size == 0:
            return pd.Series([], dtype="object")
        b = len(x)
        tab = np.zeros((b, m, n_codes), dtype="float64")
        for mm in range(m):
            for idx in range(n_codes):
                acc = np.zeros(b, dtype="float64")
                for i in range(dsub):
                    t = x[:, mm * dsub + i] - cmat[idx, mm * dsub + i]
                    acc = acc + t * t  # sequential: the in-order IEEE fold
                tab[:, mm, idx] = np.floor(acc * PQ_QUANT) / PQ_QUANT
        return pd.Series(
            [tab[i].tolist() if okm[i] else None for i in range(b)]
        )

    q = query_df.withColumn("_emb", to_double_array(F.col(emb_col)))
    queries = q.select(
        F.col(id_col).alias("query_id"), pq_table_udf(F.col("_emb")).alias("_tab")
    )
    mm_idx = F.sequence(F.lit(0), F.lit(m - 1))
    # plain double fold: quantized terms sum EXACTLY (see PQ_QUANT), so
    # no decimal accumulator is needed and the sum is order-free
    adc = F.aggregate(
        mm_idx,
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.element_at(F.col("_tab"), i + 1),
            F.element_at(F.col("codes"), i + 1) + 1,
        ),
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_adc", adc)
        # a NULL-encoded corpus row (malformed embedding) yields NULL ADC
        # distance, and ascending order sorts NULLs FIRST — without this
        # filter one malformed vector would take rank 1 in every query's
        # top-k (same guard as the brute-force/IVF family)
        .filter(F.col("_adc").isNotNull())
    )
    return (
        ranked_topk(scored, k, [F.asc("_adc"), F.asc("neighbor_id")])
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_adc"), 6).alias("adc_dist"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def _label_ranked(
    df: DataFrame,
    query_df: DataFrame,
    k: int,
    id_col: str,
    emb_col: str,
    label_col: str,
) -> DataFrame:
    """Exact cosine top-k with query AND neighbor labels carried through —
    the shared ranked relation behind the retrieval-evaluation metrics
    (label_retrieval_metrics / knn_label_vote).

    Identical plan and ordering contract to brute_force_topk (broadcast
    query panel x ONE corpus scan; rank on the raw IEEE double similarity,
    ties broken by neighbor id; zero-norm vectors have NULL cosine via
    try_divide and are excluded), with the labels riding the same rows so
    relevance never needs a corpus-sized label join after ranking.
    Returns (query_id, qlabel, neighbor_id, nlabel, rank).
    """
    corpus = _norm_emb(df, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("nlabel"),
        "_emb",
    )
    queries = _norm_emb(query_df, emb_col).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("qlabel"),
        F.col("_emb").alias("_qemb"),
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", cosine_sim(F.col("_qemb"), F.col("_emb")))
        .filter(F.col("_sim").isNotNull())
    )
    return ranked_topk(scored, k, [F.desc("_sim"), F.asc("neighbor_id")]).select(
        "query_id", "qlabel", "neighbor_id", "nlabel", "rank"
    )


def label_retrieval_metrics(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-query label-relevance ranking metrics — the rank-POSITION-aware
    evaluation layer the recall audits (ivf_recall_at_k, pq_recall_vs_exact)
    deliberately omit: recall says whether the relevant item was retrieved,
    these say WHERE it landed.

    Relevance = neighbor shares the query's label (self excluded) — the
    standard label-based protocol for auditing embedding quality without
    human judgments.  Per query: `first_rel_rank` (rank of the first
    relevant neighbor, NULL if none in the top-k), `rr_num` (reciprocal
    rank as the EXACT integer numerator lcm(1..k)/first_rel_rank over the
    fixed denominator lcm(1..k) — e.g. 2520 at k=10 — so MRR aggregates in
    pure int64 with no float accumulation; 0 when no hit), `hits`
    (relevant-in-top-k count, the precision@k numerator) and `n_ranked`
    (actual neighbors ranked, < k only when the corpus is smaller than k).
    NULL labels are never relevant (SQL null-equality semantics, identical
    in both engines); a query whose every cosine is NULL (zero-norm panel
    vector) yields no row.

    100 TB: the panel is a small broadcast relation; cost is ONE corpus
    scan + the per-query window shuffle — exactly brute_force_topk's plan.
    The metric layer on top is panel-sized.  Aggregating MRR/precision from
    the returned integers is one tiny agg; the numerator recipe keeps the
    cross-engine comparison exact (see plans/query_registry.dsum notes).
    """
    lcm = math.lcm(*range(1, k + 1))
    ranked = _label_ranked(df, query_df, k, id_col, emb_col, label_col)
    rel = F.col("nlabel") == F.col("qlabel")
    return (
        ranked.groupBy("query_id", "qlabel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ranked"),
            F.min(F.when(rel, F.col("rank"))).cast("long").alias("first_rel_rank"),
            F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("hits"),
        )
        # integer division: lcm is divisible by every rank in 1..k, so the
        # reciprocal rank is EXACT; `div` keeps it int64 end to end
        .withColumn(
            "rr_num",
            F.expr(f"coalesce({lcm} div first_rel_rank, 0)").cast("long"),
        )
    )


def knn_label_vote(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote label prediction per query — embedding quality
    measured as a CLASSIFIER, the downstream-task companion to the ranking
    metrics (a space can rank same-label items adjacently yet still lose a
    vote to a dense wrong-label neighborhood).

    Prediction = the label with the most members in the query's exact
    cosine top-k (self excluded); ties break (votes DESC, label ASC) — a
    deterministic total order both engines replay.  NULL-label neighbors
    ABSTAIN (filtered before voting): Spark sorts NULL first on ASC where
    DuckDB sorts it last, so letting NULL stand for "unknown candidate"
    would make the tie-break engine-dependent.  `correct` is
    coalesce(predicted = qlabel, false): an unlabeled query can never be
    scored correct.  Returns (query_id, qlabel, predicted_label, votes,
    correct); a query with no labeled neighbors yields no row.

    100 TB: same ONE-corpus-scan + panel-window plan as brute_force_topk;
    the vote is a panel-sized two-level agg.
    """
    ranked = _label_ranked(df, query_df, k, id_col, emb_col, label_col).filter(
        F.col("nlabel").isNotNull()
    )
    votes = ranked.groupBy("query_id", "qlabel", "nlabel").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("nlabel"))
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            "qlabel",
            F.col("nlabel").alias("predicted_label"),
            "votes",
            F.coalesce(F.col("nlabel") == F.col("qlabel"), F.lit(False)).alias(
                "correct"
            ),
        )
    )
