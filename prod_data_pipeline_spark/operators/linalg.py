"""Distributed linear algebra over embedding columns, engine-reproducible.

The covariance matrix is computed as relational aggregation (dimension-pair
keys, exact DECIMAL sums — order-independent at any parallelism), and the
top principal component comes from power iteration expressed as relational
matvec (join + agg per round) with the same per-iteration round-then-
DECIMAL quantization that made PageRank exact-hash-oracle-able
(operators/graph.py::pagerank_quantized): every float that enters a sum is
first rounded to a fixed digit budget, so the recurrence is bit-identical
on any engine that replays it.

Provenance: extension surface beyond the reference (north-star scope —
/root/reference has no linear algebra); the quantization recipe is this
repo's own (see graph.py), residual HALF_UP-vs-half-away tie caveat
documented there applies here too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod_data_pipeline_spark.functions.vector import to_double_array
from prod_data_pipeline_spark.session import truncate_lineage

# Quantized recipe's digit budgets: every product/term is rounded HALF_UP to
# ROUND_TERM digits before its DECIMAL(38,12) sum, and each power-iteration
# vector to ROUND_VEC digits.  The SQL oracles replay the same digits.
ROUND_TERM = 12
ROUND_VEC = 9
# int40 covariance quantizer: q = floor(p * INT40_SCALE), summed as exact
# int64 hi/lo partials split at INT40_LO.
INT40_SCALE = 1 << 40
INT40_LO = 1 << 20


def covariance_matrix(
    df: DataFrame,
    emb_col: str = "embedding",
    quantizer: str = "int40",
) -> DataFrame:
    """Exact sample covariance as a (i, j, c) relation.

    posexplode -> per-dim exact means (DECIMAL sum, ONE double division)
    -> centered values -> dimension-pair products -> quantized exact sums
    per (i, j) -> /(n-1).  The only corpus-sized shuffle carries (i, j)
    partials (map-side combined to d^2 rows per task).  Every product is
    quantized BEFORE the sum, so the result is independent of partition
    order AND replayable by the SQL oracle.  Two quantizers:

    - ``"int40"`` (default): ``floor(p * 2^40)`` — scaling by a power of
      two is an exact exponent shift and floor is unambiguous, so the
      quantized term is the SAME 64-bit integer in every IEEE-754 engine
      (no ROUND half-way ties, no shortest-repr divergence).  The
      integers are summed as primitive longs via a hi/lo split
      (lo = pmod(q, 2^20), hi = (q - lo)/2^20): both partial sums stay
      far under 2^63 (bounds checked below), all codegen'd long adds —
      ~6x cheaper than one BigDecimal per product, which the round-9
      SCALE.md ablation measured as ~77% of this operator's wall.
      Requires max |centered value| < ~2^11 and
      cmax^2 * n * 2^20 < 2^62 (verified from a max-abs ride-along on
      the count pass; violation raises with a pointer to "decimal").
    - ``"decimal"``: the original ROUND(p, ROUND_TERM) -> DECIMAL(38,12)
      exact-sum recipe — unbounded range, ~6x the quantization cost.
    - ``"float"``: the PRODUCTION path (round-9 verdict #6) — plain
      double products and double sums, no quantization at all.  Pure
      whole-stage-codegen arithmetic, the cheapest possible relational
      covariance; the result is partition-order-DEPENDENT in the last
      ulps (IEEE addition is not associative), so it is NOT
      oracle-hash-replayable — use it when you want the number, not the
      cross-engine bit-parity proof.  Agreement with the exact recipes
      is tolerance-pinned in tests/test_similarity.py.

    At 100 TB prefer d <= a few hundred (d^2 pair terms per row); above
    that, block the dimension range and union the blocks.
    """
    if quantizer not in ("int40", "decimal", "float"):
        raise ValueError(f"unknown quantizer {quantizer!r}")
    x = df.select(to_double_array(F.col(emb_col)).alias("e"))
    first = x.first()
    if first is None:
        raise ValueError("covariance_matrix: input frame is empty")
    if first["e"] is None:
        raise ValueError("covariance_matrix: first row has NULL embedding")
    dim = len(first["e"])
    # Uniform-width guard (round-7 advisor): a ragged/shorter embedding
    # would zip_with-pad with NULL and corrupt the flattened k -> (i, j)
    # index math, so raggedness is an error, not a silent filter.  The
    # check rides the count pass — no extra scan.  NULL embeddings and
    # NULL elements count as ragged too (round-8 advisor): for a NULL
    # array `size(e) != dim` is NULL, so the old when/otherwise counted 0
    # and the row passed the guard while still inflating n — exactly the
    # silent skew the guard exists to prevent.  Non-finite elements are
    # equally invalid (round-9 advisor): a NaN makes amax NaN, every
    # Python bound comparison on NaN is False, and floor(NaN * 2^40)
    # feeds corrupt terms into the covariance — the same silent-skew
    # class, and consistent with similarity's _emb_matrix which treats
    # non-finite rows as invalid.
    from prod_data_pipeline_spark.functions.guards import invalid_embedding

    bad = invalid_embedding(F.col("e"), dim)
    stats = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("ragged"),
        # max |element| rides the same pass (n*d cheap ops): it proves the
        # int40 quantizer's overflow bounds below
        F.max(F.array_max(F.transform("e", lambda xi: F.abs(xi)))).alias("amax"),
    ).first()
    n = stats["n"]
    if stats["ragged"]:
        raise ValueError(
            f"covariance_matrix: {stats['ragged']} rows have a NULL "
            f"embedding, a NULL/NaN/Inf element, or length != {dim}; "
            f"uniform finite non-null width is required"
        )
    # Per-dim means: DECIMAL sum + one double division, exactly the
    # expression the oracle replays (plain double sums on the float
    # production path — no oracle to replay there).  Collected to the
    # driver (d doubles — parameter-bounded, like MMR's candidate lists)
    # and embedded as an array literal so centering is a zip_with
    # instead of a join.
    mean_sum = (
        F.sum("xi")
        if quantizer == "float"
        else F.sum(F.col("xi").cast("decimal(38,12)")).cast("double")
    )
    sums = (
        x.select(F.posexplode("e").alias("i", "xi"))
        .groupBy("i")
        .agg(mean_sum.alias("s"))
        .collect()
    )
    mu = [0.0] * dim
    for r in sums:
        mu[r["i"]] = r["s"] / float(n)
    mu_arr = F.array(*[F.lit(m) for m in mu])
    # Outer product ARRAY-SIDE: center once into a bound attribute, then
    # d×d products per row via nested transform over that attribute —
    # reading a materialized array column per element is a field access,
    # not an expression re-evaluation (the shingles O(L²) lesson).  This
    # replaces the previous posexplode → self-join-on-row-id → 26M joined
    # rows plan: no join, no row-id exchange — the product stream
    # generates in-pipeline and partial-aggregates to d² rows per task
    # before the ONLY exchange (measured 20.5 s -> ~13 s warm at sf0.1
    # under the decimal quantizer; the int40 quantizer then removes the
    # remaining n·d² BigDecimal wall — see the docstring).  Every product
    # quantizes before its exact sum, so the result (and the SQL oracle)
    # is partition-order-independent under either recipe.
    centered = x.select(
        F.zip_with(F.col("e"), mu_arr, lambda xi, m: xi - m).alias("c")
    )
    # Symmetry halves the quantization work (round 9): only the upper
    # triangle j >= i is generated — d(d+1)/2 products per row instead of
    # d² — and the strict-lower entries are mirrored AFTER the aggregation
    # (d² output rows either way, but the n·d² rounding + DECIMAL stream
    # is the wall).  Bit-identical to the full pass: ci*cj and cj*ci are
    # the same IEEE product, so the mirrored entry sums the exact same
    # quantized terms the full pass would — the oracle is unchanged.
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    if quantizer == "int40":
        # Overflow proofs for the integer recipe (amax from the stats
        # ride-along; |centered| <= amax + max|mu| <= 2*amax since every
        # mean's magnitude is bounded by the max element):
        #   per-term:  |q| = |floor(p*2^40)| needs cmax^2 * 2^40 < 2^62
        #   hi-sum  :  n * cmax^2 * 2^20 < 2^62   (|hi| <= |q| / 2^20)
        #   lo-sum  :  n * 2^20 < 2^62            (lo in [0, 2^20))
        amax = float(stats["amax"] or 0.0)
        cmax = 2.0 * amax
        if (
            cmax * cmax >= float(1 << 22)
            or cmax * cmax * float(n) * float(INT40_LO) >= float(1 << 62)
            or n >= (1 << 42)
        ):
            raise ValueError(
                f"covariance_matrix: int40 quantizer bounds exceeded "
                f"(max|x|={amax}, n={n}); pass quantizer='decimal'"
            )
        scale = float(INT40_SCALE)
        m = INT40_LO
        prods = F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.sequence(i, F.lit(dim - 1)),
                    lambda j: F.struct(
                        (i * dim + j).cast("int").alias("k"),
                        F.floor(
                            F.element_at(F.col("c"), i + 1)
                            * F.element_at(F.col("c"), j + 1)
                            * F.lit(scale)
                        ).alias("q"),
                    ),
                ),
            )
        )
        upper = (
            centered.select(F.explode(prods).alias("t"))
            .select(
                F.col("t.k").alias("k"),
                F.pmod(F.col("t.q"), F.lit(m)).alias("lo"),
                # exact: q - lo is a multiple of 2^20, so as a double it
                # has <= 42 significant bits (|q| < 2^62 per-term bound)
                # and the division by 2^20 is a pure exponent shift — the
                # cast back to long is the true integer quotient
                ((F.col("t.q") - F.pmod(F.col("t.q"), F.lit(m))) / F.lit(m))
                .cast("long")
                .alias("hi"),
            )
            .groupBy("k")
            .agg(
                # combine in DOUBLE: sum_hi*2^20 can exceed int64 while
                # both partial long sums are bounded (proofs above).  The
                # combine is DETERMINISTIC but not bit-exact vs the true
                # quantized sum: under the admitted bounds sum(hi) may
                # exceed 2^53, so its long->double cast can round (<=
                # ~2^-53 relative).  Every engine performs the identical
                # round-to-nearest-even cast and the identical op order,
                # so the oracle replaying this expression shape matches
                # bit-for-bit — which is the property the recipe needs.
                (
                    (
                        F.sum("hi").cast("double") * F.lit(float(m))
                        + F.sum("lo").cast("double")
                    )
                    / F.lit(scale)
                    / F.lit(float(n - 1))
                ).alias("c")
            )
            .select(
                (F.col("k") / dim).cast("int").alias("i"),
                F.pmod(F.col("k"), F.lit(dim)).cast("int").alias("j"),
                "c",
            )
        )
    elif quantizer == "float":
        # Production path: raw double products, plain double partial sums
        # — everything stays inside whole-stage codegen, no BigDecimal,
        # no floor/pmod splits.  Same shuffle shape as the exact recipes
        # (map-side combine to d(d+1)/2 partials per task, ONE exchange).
        prods = F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.sequence(i, F.lit(dim - 1)),
                    lambda j: F.struct(
                        (i * dim + j).cast("int").alias("k"),
                        (
                            F.element_at(F.col("c"), i + 1)
                            * F.element_at(F.col("c"), j + 1)
                        ).alias("p"),
                    ),
                ),
            )
        )
        upper = (
            centered.select(F.explode(prods).alias("t"))
            .select(F.col("t.k").alias("k"), F.col("t.p").alias("p"))
            .groupBy("k")
            .agg((F.sum("p") / F.lit(float(n - 1))).alias("c"))
            .select(
                (F.col("k") / dim).cast("int").alias("i"),
                F.pmod(F.col("k"), F.lit(dim)).cast("int").alias("j"),
                "c",
            )
        )
    else:
        prods = F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.sequence(i, F.lit(dim - 1)),
                    lambda j: F.struct(
                        (i * dim + j).cast("int").alias("k"),
                        F.round(
                            F.element_at(F.col("c"), i + 1)
                            * F.element_at(F.col("c"), j + 1),
                            ROUND_TERM,
                        ).alias("p"),
                    ),
                ),
            )
        )
        upper = (
            centered.select(F.explode(prods).alias("t"))
            .select(F.col("t.k").alias("k"), F.col("t.p").alias("p"))
            .groupBy("k")
            .agg(
                (
                    F.sum(F.col("p").cast("decimal(38,12)")).cast("double")
                    / F.lit(float(n - 1))
                ).alias("c")
            )
            .select(
                (F.col("k") / dim).cast("int").alias("i"),
                F.pmod(F.col("k"), F.lit(dim)).cast("int").alias("j"),
                "c",
            )
        )
    lower = upper.filter(F.col("i") != F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), "c"
    )
    return upper.unionByName(lower)


def _power_iteration_driver(cov_rows, dim, n_iters):
    """Driver-side replay of the quantized power-iteration recurrence —
    the SAME engine-independent recipe the distributed loop and the
    unrolled SQL oracle evaluate (terms rounded HALF_UP to ROUND_TERM
    then summed as exact decimals; norm via one IEEE sqrt; the vector
    rounded to ROUND_VEC), so the output is bit-identical to the
    cluster path (pinned by tests/test_similarity.py).  Same pattern as
    graph._pagerank_quantized_driver."""
    import math
    from decimal import Decimal

    from prod_data_pipeline_spark.operators.graph import _dec_half_up, _rnd_half_up

    cm: dict = {}
    for i, j, cv in cov_rows:
        cm.setdefault(i, []).append((j, cv))
    v0 = 1.0 / float(dim) ** 0.5
    v = {j: v0 for j in range(dim)}
    nrm = 0.0
    for _ in range(n_iters):
        u = {}
        for i, row in cm.items():
            s = Decimal(0)
            for j, cv in row:
                s += _dec_half_up(cv * v[j], ROUND_TERM)
            u[i] = float(s)
        s2 = Decimal(0)
        for ui in u.values():
            s2 += _dec_half_up(ui * ui, ROUND_TERM)
        nrm = math.sqrt(float(s2))
        v = {i: _rnd_half_up(ui / nrm, ROUND_VEC) for i, ui in u.items()}
    return v, nrm


def _power_iteration_driver_float(cov_rows, dim, n_iters):
    """Driver-side float64 power iteration — the production twin of
    :func:`_power_iteration_driver` with no quantization: plain IEEE
    products, plain sums, one sqrt, one division per coordinate.  Used
    by the ``quantize=False`` path; NOT oracle-replayable (and does not
    need to be)."""
    import math

    cm: dict = {}
    for i, j, cv in cov_rows:
        cm.setdefault(i, []).append((j, cv))
    v0 = 1.0 / float(dim) ** 0.5
    v = {j: v0 for j in range(dim)}
    nrm = 0.0
    for _ in range(n_iters):
        u = {i: sum(cv * v[j] for j, cv in row) for i, row in cm.items()}
        nrm = math.sqrt(sum(ui * ui for ui in u.values()))
        v = {i: ui / nrm for i, ui in u.items()}
    return v, nrm


def top_principal_component(
    cov: DataFrame,
    dim: int,
    n_iters: int = 6,
    driver_dim_threshold: int = 256,
    quantize: bool = True,
) -> DataFrame:
    """Top eigenvector of a (i, j, c) covariance relation by power
    iteration as relational matvec: u = C v is a join on j + an exact
    DECIMAL sum per i; normalization divides by the DECIMAL-summed norm.

    Start vector is 1/sqrt(dim) in every coordinate — exact when dim is a
    power of two (1/8 for d=64), and fully deterministic regardless.
    Each round quantizes: terms rounded to ROUND_TERM digits before
    summing, the normalized vector rounded to ROUND_VEC — so iteration t+1 sees
    bit-identical inputs on every engine and the final loadings
    hash-compare exactly.  Returns (pos, loading, eigenvalue), where the
    eigenvalue is the final pre-normalization norm (the Rayleigh estimate
    under v'v = 1).

    Scale: the matvec relation is d^2 rows — this is for the SMALL side
    (dimension space), computed once after the corpus-sized covariance
    pass; d^2 at d=1024 is a 1M-row join, trivial for any cluster.

    ``quantize=False`` is the float64 PRODUCTION path (round-9 verdict
    #6): no per-term rounding, no DECIMAL sums — plain double matvec on
    both the driver and the distributed path.  Not oracle-replayable;
    agreement with the quantized recipe is tolerance-pinned in tests.
    Pair it with ``covariance_matrix(quantizer="float")``.
    """
    spark = cov.sparkSession
    # Materialize the covariance ONCE (d² rows — trivial): every
    # iteration's matvec joins `cov`, and an unmaterialized input would
    # replay the corpus-sized covariance pipeline per round.  (At sf0.1
    # the measured win is modest — 21 s -> 19 s — because Spark was
    # already reusing the covariance's shuffle files across rounds; the
    # checkpoint makes the reuse a guarantee instead of a scheduler
    # accident, which is what matters on a real cluster where shuffle
    # files expire.)  The residual wall is the covariance pass itself:
    # n×d(d+1)/2 quantized products is the price of the exact-oracle
    # relational design, paid once.
    cov = cov.transform(truncate_lineage, eager=True)
    if dim <= driver_dim_threshold:
        # Adaptive fast path (the pagerank_quantized pattern): the matvec
        # relation is d² rows — parameter-bounded, like PageRank's tiny
        # near-dup graphs — while each distributed round costs ~0.3-1 s of
        # pure job scheduling (16 rounds dominated the measured wall once
        # the int40 covariance landed).  The quantized recurrence is
        # engine-independent BY DESIGN, so the driver replay is
        # bit-identical to the cluster path and the oracle hash is
        # unchanged.  Above the threshold (d² > 65k) the distributed loop
        # below runs as before.
        rows = [(r["i"], r["j"], r["c"]) for r in cov.collect()]
        if quantize:
            vec, nrm = _power_iteration_driver(rows, dim, n_iters)
            from prod_data_pipeline_spark.operators.graph import _rnd_half_up

            lam = _rnd_half_up(nrm, 6)
        else:
            vec, nrm = _power_iteration_driver_float(rows, dim, n_iters)
            lam = nrm
        return spark.createDataFrame(
            [(int(p), vec[p], lam) for p in sorted(vec)],
            "pos int, loading double, eigenvalue double",
        )
    v0 = 1.0 / float(dim) ** 0.5
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("j"), F.lit(v0).alias("v")
    )
    eig = None
    for it in range(n_iters):
        if quantize:
            matvec_sum = (
                F.sum(
                    F.round(F.col("c") * F.col("v"), ROUND_TERM).cast("decimal(38,12)")
                ).cast("double")
            )
            norm_sum = F.sum(
                F.round(F.col("u") * F.col("u"), ROUND_TERM).cast("decimal(38,12)")
            ).cast("double")
            v_next = F.round(F.col("u") / F.col("nrm"), ROUND_VEC)
        else:
            # float production path: pure codegen double arithmetic
            matvec_sum = F.sum(F.col("c") * F.col("v"))
            norm_sum = F.sum(F.col("u") * F.col("u"))
            v_next = F.col("u") / F.col("nrm")
        u = cov.join(v, "j").groupBy("i").agg(matvec_sum.alias("u"))
        norm = u.agg(F.sqrt(norm_sum).alias("nrm"))
        vn = (
            u.join(F.broadcast(norm))
            .select(
                F.col("i").alias("j"),
                v_next.alias("v"),
                F.col("nrm"),
            )
        )
        # Truncate lineage every FOURTH round (and on the last): an eager
        # per-round checkpoint forces one full job per iteration — 16
        # materializations of a d-row relation, pure scheduler overhead.
        # Four fused rounds keep the plan depth trivial for d² data while
        # quartering the job count; values are identical either way (the
        # quantized recurrence doesn't care where lineage is cut).
        if it % 4 == 3 or it == n_iters - 1:
            vn = vn.transform(truncate_lineage, eager=True)
        v = vn.select("j", "v")
        eig = vn.select("nrm").limit(1)
    return (
        v.join(F.broadcast(eig))
        .select(
            F.col("j").alias("pos"),
            F.col("v").alias("loading"),
            (F.round(F.col("nrm"), 6) if quantize else F.col("nrm")).alias(
                "eigenvalue"
            ),
        )
        .orderBy("pos")
    )


def deflate(
    cov: DataFrame,
    component: DataFrame,
    quantize: bool = True,
) -> DataFrame:
    """Hotelling deflation as a relation: C' = C - λ·v·vᵀ, with the rank-1
    term quantized to ROUND_TERM digits so the deflated matrix — and
    every subsequent iteration on it — stays engine-reproducible.
    `component` is top_principal_component's output (pos, loading,
    eigenvalue); its 6-digit eigenvalue rounding is part of the recipe
    (the oracle replays the same rounded λ)."""
    vi = component.select(
        F.col("pos").alias("i"),
        F.col("loading").alias("vi"),
        F.col("eigenvalue").alias("lam"),
    )
    vj = component.select(F.col("pos").alias("j"), F.col("loading").alias("vj"))
    rank1 = F.col("lam") * F.col("vi") * F.col("vj")
    if quantize:
        rank1 = F.round(rank1, ROUND_TERM)
    return (
        cov.join(F.broadcast(vi), "i")
        .join(F.broadcast(vj), "j")
        .select("i", "j", (F.col("c") - rank1).alias("c"))
    )


def top_principal_components(
    cov: DataFrame,
    dim: int,
    n_components: int = 2,
    n_iters: int = 6,
    driver_dim_threshold: int = 256,
    quantize: bool = True,
) -> DataFrame:
    """Top-k eigenpairs by power iteration + Hotelling deflation, all
    relational and all quantized: component m is power-iterated on the
    (m-1)-times-deflated covariance.  Returns (component, pos, loading,
    eigenvalue) with component 1-indexed.  Same determinism guarantee as
    the single-component path — deflation only adds one quantized rank-1
    join per extracted component.  ``quantize=False`` runs the whole
    chain (iterations AND deflations) in plain float64 — see
    :func:`top_principal_component`.

    For d <= driver_dim_threshold the WHOLE chain (every power iteration
    AND the deflation between components) replays on the driver — the
    d²-row relation is parameter-bounded, and the quantized deflation
    ``c - round(lam * vi * vj, ROUND_TERM)`` is the same three IEEE ops
    plus the same HALF_UP round the distributed join computes, so the
    output is bit-identical (pytest-pinned).  One collect replaces
    2k eager checkpoints + k-1 deflation jobs of scheduling floor."""
    if dim <= driver_dim_threshold:
        from prod_data_pipeline_spark.operators.graph import _rnd_half_up

        spark = cov.sparkSession
        cov = cov.transform(truncate_lineage, eager=True)
        cm = {(r["i"], r["j"]): r["c"] for r in cov.collect()}
        rows = []
        for m in range(1, n_components + 1):
            triples = [(i, j, c) for (i, j), c in cm.items()]
            if quantize:
                vec, nrm = _power_iteration_driver(triples, dim, n_iters)
                lam = _rnd_half_up(nrm, 6)
            else:
                vec, nrm = _power_iteration_driver_float(triples, dim, n_iters)
                lam = nrm
            rows.extend((m, int(p), vec[p], lam) for p in sorted(vec))
            if m < n_components:
                if quantize:
                    cm = {
                        (i, j): c - _rnd_half_up(lam * vec[i] * vec[j], ROUND_TERM)
                        for (i, j), c in cm.items()
                    }
                else:
                    cm = {
                        (i, j): c - lam * vec[i] * vec[j]
                        for (i, j), c in cm.items()
                    }
        return spark.createDataFrame(
            rows, "component int, pos int, loading double, eigenvalue double"
        )
    out = None
    cur = cov
    for m in range(1, n_components + 1):
        comp = top_principal_component(
            cur, dim, n_iters=n_iters, driver_dim_threshold=0, quantize=quantize,
        ).transform(truncate_lineage, eager=True)
        tagged = comp.select(
            F.lit(m).alias("component"), "pos", "loading", "eigenvalue"
        )
        out = tagged if out is None else out.unionByName(tagged)
        if m < n_components:
            cur = deflate(cur, comp, quantize=quantize).transform(
                truncate_lineage, eager=True
            )
    return out.orderBy("component", "pos")
