"""Query registrations (chunk 4/5 of the former monolithic
plans/queries.py — split round 10, registration order preserved:
plans/queries.py imports the chunks in original file order).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prod_data_pipeline_spark.session import truncate_lineage

from prod_data_pipeline_spark.plans.query_registry import (
    _TOKS_SQL,
    _t,
    dsum,
    jaccard_prefix_sql,
    jaccard_sql,
    near_dup_pairs_sql,
    query,
    shingles_sql,
    snm_key_sql,
    snm_window_sql,
)

# ---------------------------------------------------------------------------
# Round-6 additions: link prediction over the dup graph, per-source content
# novelty, sorted-neighborhood blocking, reciprocal-rank fusion, and PMI
# collocations.
# ---------------------------------------------------------------------------


@query(
    "parts_adamic_adar_links",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), e AS MATERIALIZED (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), sym AS MATERIALIZED (
      SELECT u AS z, v AS n FROM e UNION ALL SELECT v AS z, u AS n FROM e
    ), w AS (
      SELECT z, ROUND(1.0 / ln(deg), 12) AS w FROM (
        SELECT z, COUNT(*) AS deg FROM sym GROUP BY z
      ) WHERE deg >= 2
    ), wedge AS (
      SELECT x.z, x.n AS u, y.n AS v
      FROM sym x JOIN sym y ON y.z = x.z AND x.n < y.n
    ), cand AS (
      SELECT u, v, COUNT(*) AS cn,
             CAST(SUM(CAST(FLOOR(w.w * 1000000000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS sn
      FROM wedge JOIN w ON w.z = wedge.z
      GROUP BY u, v
    )
    SELECT u AS id_a, v AS id_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           ((sn + 500000) // 1000000) / 1000000.0
               AS aa_score
    FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v)
    ORDER BY aa_score DESC, id_a, id_b LIMIT 50
    """,
)
def parts_adamic_adar_links(spark, sf_dir):
    """Adamic-Adar link prediction over the part co-purchase graph
    (operators.graph.adamic_adar): edges are part pairs sharing >= 2
    distinct orders (the support gate that bounds graph density, same
    relation basket_part_pair_lift mines); the query surfaces the top
    50 NON-adjacent pairs whose shared neighborhoods predict an affinity
    the support gate hasn't confirmed yet — the classic
    related-products / next-basket recommendation signal.  Rare shared
    neighbors weigh 1/ln(deg), so popular hub parts don't dominate.
    (The near-dup DOCUMENT graph is deliberately not used here: its
    components are isolated near-exact pairs on this corpus, so
    link prediction over it is vacuous — documented dead end.)
    Basket expansion costs ~ sum(basket^2) and the wedge join
    ~ sum(deg^2), both graph-sized; per-neighbor weights round to 12
    digits and sum as exact int64 numerators (round-11 dsum sweep), so
    the DuckDB oracle replays the float math bit-for-bit with zero
    BigDecimal in the wedge aggregation."""
    from prod_data_pipeline_spark.operators.graph import adamic_adar

    # both self-join sides read op — a lazy cut guarantees the scan +
    # distinct run once instead of leaning on ReuseExchange firing
    op = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(truncate_lineage, eager=False)
    )
    edges = (
        op.alias("a")
        .join(op.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("id_a", "id_b")
    )
    return (
        adamic_adar(edges)
        .orderBy(F.desc("aa_score"), "id_a", "id_b")
        .limit(50)
    )


def _ppr_oracle_sql(n_iters: int = 6, n_seeds: int = 4, top_n: int = 25) -> str:
    """Co-purchase edges + personalized-PageRank recurrence unrolled as
    CTEs (same quantization replay as the docs_dup_pagerank oracle)."""
    its = []
    prev = "r0"
    for k in range(n_iters):
        its.append(f"""
    c{k} AS (
      SELECT e.dst, SUM(CAST(ROUND(r.rank / d.deg, 12) AS DECIMAL(20,12))) AS s
      FROM sym e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r{k+1} AS (
      SELECT COALESCE(c.dst, s.node) AS node,
             ROUND(CASE WHEN s.node IS NOT NULL
                        THEN (1.0 - 0.85) / (SELECT n FROM ns) ELSE 0.0 END
                   + 0.85 * COALESCE(CAST(c.s AS DOUBLE), 0.0), 12) AS rank
      FROM c{k} c FULL JOIN seeds s ON s.node = c.dst
    )""")
        prev = f"r{k+1}"
    return f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), e AS MATERIALIZED (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), sym AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e
    ), deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM sym GROUP BY src
    ), seeds AS MATERIALIZED (
      SELECT src AS node FROM deg ORDER BY src LIMIT {n_seeds}
    ), ns AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds
    ), r0 AS (
      SELECT node, ROUND(1.0 / (SELECT n FROM ns), 12) AS rank FROM seeds
    ),{",".join(its)}
    SELECT node AS part_id, ROUND(rank, 9) AS ppr
    FROM {prev}
    WHERE node NOT IN (SELECT node FROM seeds)
    ORDER BY ppr DESC, part_id LIMIT {top_n}
    """


@query(
    "parts_related_by_ppr",
    oracle=_ppr_oracle_sql(6, 4, 25),
)
def parts_related_by_ppr(spark, sf_dir):
    """Related-products by personalized PageRank
    (operators.graph.ppr_quantized): a random walk with restart over the
    part co-purchase graph (support >= 2 edges, as
    parts_adamic_adar_links), teleporting to the four lowest-keyed parts
    as the seed basket; the top 25 non-seed parts by stationary mass are
    the multi-hop recommendation set — unlike Adamic-Adar it sees past
    2-hop wedges and weighs paths by walk probability.  The fourth
    iterative algorithm made exact-hash-oracle-checkable by the
    round-then-DECIMAL quantization recipe (after PageRank, PCA power
    iteration, Hotelling deflation): the DuckDB oracle replays all 6
    damped iterations as unrolled CTEs.  State is sparse (only reached
    nodes carry rows); per iteration one (node, rank) shuffle + a scan
    of the persisted symmetrized edges."""
    from prod_data_pipeline_spark.operators.graph import ppr_quantized

    # both self-join sides read op — a lazy cut guarantees the scan +
    # distinct run once instead of leaning on ReuseExchange firing
    op = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(truncate_lineage, eager=False)
    )
    edges = (
        op.alias("a")
        .join(op.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("id_a", "id_b")
        # graph-sized relation read by sym-union, seeds, and the anti join:
        # materialize once or every consumer re-runs the basket self-join
        .transform(truncate_lineage, eager=True)
    )
    nodes = (
        edges.select(F.col("id_a").alias("node"))
        .union(edges.select(F.col("id_b").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(4).transform(truncate_lineage, eager=True)
    ranks = ppr_quantized(edges, seeds, n_iters=6)
    return (
        ranks.join(F.broadcast(seeds), "node", "left_anti")
        .select(
            F.col("node").alias("part_id"), F.round("rank", 9).alias("ppr")
        )
        .orderBy(F.desc("ppr"), "part_id")
        .limit(25)
    )


@query(
    "docs_novelty_by_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ), g AS (
      SELECT doc_id, source,
             unnest({shingles_sql()}) AS gram
      FROM t
    ), fst AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
    ), per_doc AS (
      SELECT g.doc_id, g.source,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM g JOIN fst f USING (gram)
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(n_novel) AS DOUBLE) / SUM(n_grams), 6) AS novelty_rate,
           ROUND((CAST(CAST(SUM(CAST(FLOOR(ROUND(CAST(n_novel AS DOUBLE)
                                                  / n_grams, 6) * 1000000.0
                                            + 0.5) AS BIGINT)) AS BIGINT)
                       AS DOUBLE) / 1000000.0) / COUNT(*), 6)
               AS avg_doc_novelty
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def docs_novelty_by_source(spark, sf_dir):
    """Marginal-content attribution: a 3-gram shingle is 'novel' in the
    corpus-order position where it first appears (minimum doc_id), and a
    source's novelty rate is the fraction of its shingle occurrences
    that are first sightings.  This is the dedup-ROI curve a curation
    team reads before buying more of a source — a low-novelty source
    re-ships content the corpus already has.  One gram-keyed exchange
    (corpus-token-sized, the same shape as TF-IDF) computes first
    sightings; everything after is per-doc and per-source aggregation.
    Per-doc novelty ratios round to 6 then sum as exact int64
    numerators (round-11 dsum sweep) so the per-source mean is
    summation-order-free with no BigDecimal per doc.  Docs with < 3 tokens have
    no shingles and are excluded by construction (no gram rows)."""
    from prod_data_pipeline_spark.functions.text import shingles, tokens

    docs = _t(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(shingles(tokens(F.col("text")), 3))).alias("gram"),
    )
    first = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        g.join(first, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .withColumn(
            "doc_novelty",
            F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 6),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.round(
                F.sum("n_novel").cast("double") / F.sum("n_grams"), 6
            ).alias("novelty_rate"),
            F.round(
                dsum("doc_novelty", 6) / F.count(F.lit(1)),
                6,
            ).alias("avg_doc_novelty"),
        )
        .orderBy("source")
    )


@query(
    "docs_sorted_neighborhood_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {snm_key_sql()} AS key, {_TOKS_SQL} AS toks FROM documents
    ), r AS MATERIALIZED (
      SELECT doc_id, key, {shingles_sql()} AS sh,
             ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk
      FROM t
    )
    SELECT id_a, id_b, rank_gap, jac AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
             ROUND({jaccard_sql("a.sh", "b.sh")}, 4) AS jac
      FROM r a JOIN r b ON {snm_window_sql()}
      WHERE len(a.sh) > 0 AND len(b.sh) > 0
    ) WHERE jac >= 0.3
    ORDER BY id_a, id_b
    """,
)
def docs_sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking dedup
    (operators.dedup.sorted_neighborhood_pairs): candidates are the 5
    successors of each document in normalized-prefix-key order, verified
    by 3-gram Jaccard >= 0.3 — the classic entity-resolution blocking
    strategy with data-size-LINEAR candidate count (exactly n*window),
    the guarantee LSH banding can't make under key skew.  The global
    order comes from the two-pass bucketed rank (no single-partition
    sort); the DuckDB oracle replays it as a plain ROW_NUMBER, which the
    bucket-monotone key encoding provably equals."""
    from prod_data_pipeline_spark.operators.dedup import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(docs).orderBy("id_a", "id_b")


@query(
    "emb_rrf_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 4),
    cosr AS (
      SELECT query_id, neighbor_id, rnk AS rank_cos FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * v.e[i]))
                 / (sqrt(list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * q.qe[i])))
                    * sqrt(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * v.e[i]))))
                 DESC, v.vec_id) AS rnk
        FROM q, v WHERE q.query_id <> v.vec_id
      ) WHERE rnk <= 50
    ), l2r AS (
      SELECT query_id, neighbor_id, rnk AS rank_l2 FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(range(1, len(q.qe)+1),
                          i -> (q.qe[i] - v.e[i]) * (q.qe[i] - v.e[i])))
                 ASC, v.vec_id) AS rnk
        FROM q, v WHERE q.query_id <> v.vec_id
      ) WHERE rnk <= 50
    ), fused AS (
      SELECT COALESCE(c.query_id, l.query_id) AS query_id,
             COALESCE(c.neighbor_id, l.neighbor_id) AS neighbor_id,
             COALESCE(c.rank_cos, 0) AS rank_cos,
             COALESCE(l.rank_l2, 0) AS rank_l2,
             CAST(COALESCE(ROUND(1.0 / CAST(60 + c.rank_cos AS DOUBLE), 9), 0.0)
                  AS DECIMAL(18,9))
             + CAST(COALESCE(ROUND(1.0 / CAST(60 + l.rank_l2 AS DOUBLE), 9), 0.0)
                  AS DECIMAL(18,9)) AS rrf_dec
      FROM cosr c FULL JOIN l2r l
        ON l.query_id = c.query_id AND l.neighbor_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(rank_cos AS BIGINT) AS rank_cos,
           CAST(rank_l2 AS BIGINT) AS rank_l2,
           ROUND(CAST(rrf_dec AS DOUBLE), 9) AS rrf_score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf_dec DESC, neighbor_id) AS BIGINT) AS fused_rank
    FROM fused QUALIFY fused_rank <= 10
    ORDER BY query_id, fused_rank
    """,
)
def emb_rrf_topk(spark, sf_dir):
    """Reciprocal-rank fusion of two exact retrievers — cosine top-50
    (operators.similarity.brute_force_topk) and squared-L2 top-50
    (l2_topk), fused per the standard RRF formula sum(1/(60+rank)) with
    rank 0 contributions for list misses.  On unnormalized embeddings
    the two metrics genuinely disagree (L2 is norm-sensitive), so the
    fused top-10 differs from either list: the hybrid-retrieval pattern
    RAG stacks use to combine dense scores with a second signal.  Rank
    lists are candidate-bounded (k=50 per query), the fusion join is
    rank-list-sized, and each 1/(60+r) term rounds to 9 digits before
    an exact DECIMAL sum — fused order is bit-stable across engines."""
    from prod_data_pipeline_spark.operators.similarity import brute_force_topk, l2_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    cos = brute_force_topk(emb, qs, k=50).select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_cos")
    )
    l2 = l2_topk(emb, qs, k=50).select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_l2")
    )
    fused = cos.join(l2, ["query_id", "neighbor_id"], "full").withColumn(
        "rrf_dec",
        F.coalesce(
            F.round(F.lit(1.0) / (F.col("rank_cos") + F.lit(60)).cast("double"), 9),
            F.lit(0.0),
        ).cast("decimal(18,9)")
        + F.coalesce(
            F.round(F.lit(1.0) / (F.col("rank_l2") + F.lit(60)).cast("double"), 9),
            F.lit(0.0),
        ).cast("decimal(18,9)"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_dec"), F.asc("neighbor_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.coalesce("rank_cos", F.lit(0)).cast("long").alias("rank_cos"),
            F.coalesce("rank_l2", F.lit(0)).cast("long").alias("rank_l2"),
            F.round(F.col("rrf_dec").cast("double"), 9).alias("rrf_score"),
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
        .orderBy("query_id", "fused_rank")
    )


def _audio_band_pw_cte() -> str:
    """Shared oracle prefix: PCM regeneration (as
    media_audio_waveform_stats) + integer-scaled DFT-bin projections
    with the SAME coefficient literals the Arrow kernel embeds
    (functions.dsp) — no engine runs trig at query time.  Ends with the
    `pw` CTE exposing (doc_id, n, p_band0..3)."""
    from prod_data_pipeline_spark.functions.dsp import COEF_SCALE, goertzel_tables

    proj_cols, pw_cols = [], []
    for i, (p, cos_t, sin_t) in enumerate(goertzel_tables()):
        c_lit = "[" + ", ".join(str(v) for v in cos_t) + "]"
        s_lit = "[" + ", ".join(str(v) for v in sin_t) + "]"
        for name, lit in ((f"sc{i}", c_lit), (f"ss{i}", s_lit)):
            proj_cols.append(
                f"CAST(list_sum(list_transform(range(0, n), k -> "
                f"CAST(pcm[CAST(k AS INT) + 1] AS BIGINT)"
                f" * ({lit})[CAST(k % {p} AS INT) + 1]))"
                f" AS DOUBLE) / CAST({COEF_SCALE} AS DOUBLE) AS {name}"
            )
        pw_cols.append(f"ROUND(sc{i} * sc{i} + ss{i} * ss{i}, 2) AS p_band{i}")
    sep = ",\n             "
    proj_sql = sep.join(proj_cols)
    pw_sql = sep.join(pw_cols)
    return f"""
    WITH a AS (
      SELECT doc_id, text,
             80 + 8 * (doc_id % 120) AS n,
             length(text) AS l
      FROM documents WHERE doc_id % 3 = 1
    ), f AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               k -> (ascii(substr(text, CAST(k % l AS INT) + 1, 1)) - 128) * 256)
                 AS pcm
      FROM a
    ), proj AS (
      SELECT doc_id, n,
             {proj_sql}
      FROM f
    ), pw AS (
      SELECT doc_id, n,
             {pw_sql}
      FROM proj
    )"""


def _audio_band_oracle_sql() -> str:
    return (
        _audio_band_pw_cte()
        + """
    SELECT doc_id AS asset_id, CAST(n AS BIGINT) AS n_samples,
           p_band0, p_band1, p_band2, p_band3,
           CAST(CASE
             WHEN p_band0 >= p_band1 AND p_band0 >= p_band2 AND p_band0 >= p_band3 THEN 0
             WHEN p_band1 >= p_band2 AND p_band1 >= p_band3 THEN 1
             WHEN p_band2 >= p_band3 THEN 2
             ELSE 3 END AS INT) AS dominant_band
    FROM pw ORDER BY asset_id
    """
    )


def _audio_band_hash_oracle_sql() -> str:
    total = " + ".join(f"p_band{i}" for i in range(4))
    bits = " || ".join(
        f"(CASE WHEN 4.0 * p_band{i} > {total} THEN '1' ELSE '0' END)"
        for i in range(4)
    )
    return (
        _audio_band_pw_cte()
        + f""", hb AS (
      SELECT doc_id, {bits} AS band_hash FROM pw
    )
    SELECT band_hash,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           MIN(doc_id) AS min_asset_id,
           MAX(doc_id) AS max_asset_id
    FROM hb GROUP BY band_hash ORDER BY band_hash
    """
    )


@query(
    "media_audio_dominant_band",
    oracle=_audio_band_oracle_sql(),
)
def media_audio_dominant_band(spark, sf_dir):
    """Spectral band analysis over REAL WAV decode
    (operators.multimodal.audio_band_energies): per-asset DFT-bin
    energies at normalized frequencies 1/4, 1/8, 1/16, 1/32 plus the
    dominant band — the tonal-content screen of an audio curation pass,
    done with ZERO runtime trigonometry: functions.dsp evaluates the
    cos/sin tables once at import and embeds them as integer literals in
    BOTH the Arrow kernel and this oracle, so each projection is an
    exact int64 dot product and the only float math is four IEEE ops on
    identical inputs.  The oracle regenerates the decoded waveform from
    the documented byte tiling and replays the same integer projections
    — a wrong sample anywhere flips the hash."""
    from prod_data_pipeline_spark.operators.multimodal import (
        audio_band_energies,
        synthetic_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "audio")
    return audio_band_energies(assets).orderBy("asset_id")


@query(
    "media_audio_band_hash_groups",
    oracle=_audio_band_hash_oracle_sql(),
)
def media_audio_band_hash_groups(spark, sf_dir):
    """Perceptual AUDIO dedup: each real-decoded WAV gets a band-energy
    sign hash (operators.multimodal.audio_band_hash — bit i set iff band
    i's DFT power exceeds the across-band mean, by cross-multiplication)
    and clips group by the key — the audio member of the perceptual
    dedup triad next to media_image_phash_groups (aHash) and
    media_video_framehash_groups (temporal hash): re-encoded or
    container-differing clips with the same spectral shape share a
    bucket that exact payload hashing misses.  The oracle regenerates
    the decoded PCM and replays the integer DFT projections, so a wrong
    sample anywhere flips the hash.  One Arrow kernel pass + one
    4-char-key groupBy; payload bytes never shuffle."""
    from prod_data_pipeline_spark.operators.multimodal import (
        audio_band_hash,
        synthetic_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "audio")
    return (
        audio_band_hash(assets)
        .groupBy("band_hash")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("asset_id").alias("min_asset_id"),
            F.max("asset_id").alias("max_asset_id"),
        )
        .orderBy("band_hash")
    )


@query(
    "media_video_framehash_groups",
    oracle="""
    WITH v AS (
      SELECT doc_id, text,
             4 + 2 * (doc_id % 7) AS w,
             4 + 2 * (doc_id % 5) AS h,
             1 + doc_id % 4 AS nf,
             length(text) AS l
      FROM documents WHERE doc_id % 3 = 2
    ), fr AS (
      SELECT doc_id, w * h AS wh, l, unnest(range(0, nf)) AS i FROM v
    ), fs AS (
      SELECT f.doc_id, f.i,
             CAST(list_sum(list_transform(range(0, f.wh),
               k -> CASE WHEN f.l > f.i
                         THEN ascii(substr(v.text,
                                CAST(k % (f.l - f.i) AS INT) + CAST(f.i AS INT) + 1, 1))
                         ELSE ascii(substr(v.text, CAST(k % f.l AS INT) + 1, 1))
                    END)) AS BIGINT) AS ys
      FROM fr f JOIN v ON v.doc_id = f.doc_id
    ), w2 AS (
      SELECT doc_id, i, ys,
             COUNT(*) OVER (PARTITION BY doc_id) AS nf,
             SUM(ys) OVER (PARTITION BY doc_id) AS tot
      FROM fs
    ), h AS (
      SELECT doc_id,
             string_agg(CASE WHEN nf * ys > tot THEN '1' ELSE '0' END,
                        '' ORDER BY i) AS temporal_hash
      FROM w2 GROUP BY doc_id
    )
    SELECT temporal_hash,
           CAST(COUNT(*) AS BIGINT) AS n_videos,
           MIN(doc_id) AS min_asset_id,
           MAX(doc_id) AS max_asset_id
    FROM h GROUP BY temporal_hash ORDER BY temporal_hash
    """,
)
def media_video_framehash_groups(spark, sf_dir):
    """Perceptual VIDEO dedup: each real-decoded Y4M clip gets its
    per-frame brightness sign sequence (operators.multimodal
    .video_temporal_hash — frame i's bit set iff the frame is brighter
    than the clip mean, all-integer) and clips group by the sequence —
    the TIME-axis aHash that completes near-dup coverage across all
    three modalities (image aHash r5, audio band hash above).  The key's
    length pins the frame count so different-length clips never collide.
    Oracle regenerates every frame's luma sum from the documented Y4M
    tiling and rebuilds the bit string with window functions — a frame
    stride bug desyncs the sequence and flips the hash.  One Arrow
    kernel pass emits slim (asset, frame) integer rows; the hash is a
    per-asset agg; payload bytes never shuffle."""
    from prod_data_pipeline_spark.operators.multimodal import (
        synthetic_media_assets,
        video_temporal_hash,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "video")
    return (
        video_temporal_hash(assets)
        .groupBy("temporal_hash")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.min("asset_id").alias("min_asset_id"),
            F.max("asset_id").alias("max_asset_id"),
        )
        .orderBy("temporal_hash")
    )


@query(
    "docs_collocations_pmi",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), tok AS (
      SELECT unnest(toks) AS token FROM t
    ), cu AS MATERIALIZED (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cu
    ), bi AS (
      SELECT toks[i] AS prev, toks[i+1] AS cur
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ), cb AS (
      SELECT prev, cur, COUNT(*) AS c FROM bi GROUP BY prev, cur
    ), nb AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cb)
    SELECT prev, cur, CAST(cb.c AS BIGINT) AS n_pair,
           ROUND(ln(
             (CAST(cb.c AS DOUBLE) / (SELECT n FROM nb))
             / ((CAST(cp.c AS DOUBLE) / (SELECT n FROM nu))
                * (CAST(cc.c AS DOUBLE) / (SELECT n FROM nu)))), 6) AS pmi
    FROM cb
    JOIN cu cp ON cp.token = cb.prev
    JOIN cu cc ON cc.token = cb.cur
    WHERE cb.c >= 10
    ORDER BY pmi DESC, prev, cur LIMIT 30
    """,
)
def docs_collocations_pmi(spark, sf_dir):
    """Top-30 bigram collocations by pointwise mutual information with a
    min-support gate (pair count >= 10): PMI = ln(p(ab) / (p(a)p(b)))
    over corpus token streams — the phrase-mining signal tokenizer and
    vocabulary builders use to decide which word pairs deserve a single
    token.  All counts aggregate map-side before one vocabulary-keyed
    exchange; the PMI float math is a fixed chain of single IEEE ops on
    identical integer-derived doubles (same division order both
    engines), rounded to 6 for the deterministic top-k cut, ties broken
    lexicographically."""
    from prod_data_pipeline_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # Tokenize once (same cut as the n-gram LM queries): the snapshot
    # feeds the unigram and bigram count streams — 5 corpus reads without
    # it, 1 tokenize pass with.
    t = docs.select(tokens(F.col("text")).alias("toks")).transform(
        truncate_lineage, eager=False
    )
    tok = t.select(F.explode("toks").alias("token"))
    cu = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    nu = cu.agg(F.sum("c").cast("double").alias("nu"))
    bi = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("prev"),
                        F.element_at(F.col("toks"), i + 1).alias("cur"),
                    ),
                )
            ).alias("b")
        )
        .select(F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    )
    cb = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n_pair"))
    nb = cb.agg(F.sum("n_pair").cast("double").alias("nb"))
    return (
        cb.filter(F.col("n_pair") >= 10)
        .join(
            cu.select(F.col("token").alias("prev"), F.col("c").alias("cp")), "prev"
        )
        .join(cu.select(F.col("token").alias("cur"), F.col("c").alias("cc")), "cur")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "prev",
            "cur",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("nb"))
                    / (
                        (F.col("cp").cast("double") / F.col("nu"))
                        * (F.col("cc").cast("double") / F.col("nu"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "prev", "cur")
        .limit(30)
    )


@query(
    "docs_shard_rebalance_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             md5('doc:' || doc_id) AS pt,
             ('0x' || substr(md5('shard:' || doc_id), 1, 10))::BIGINT AS h
      FROM documents
    ), vn AS (
      -- position salt deliberately excludes n_shards: growing the cluster
      -- ADDS vnodes, it never moves existing ones (that IS the ring's point)
      SELECT s.s AS shard, v.v AS vnode, n.n AS n_shards,
             md5('vn:' || s.s || ':' || v.v) AS pos
      FROM (SELECT unnest(range(0, 10)) AS s) s
      CROSS JOIN (SELECT unnest(range(0, 16)) AS v) v
      CROSS JOIN (SELECT unnest([8, 10]) AS n) n
      WHERE s.s < n.n
    ), ring AS (
      SELECT d.doc_id, vn.n_shards,
             MIN(CASE WHEN vn.pos >= d.pt THEN vn.pos END) AS nxt,
             MIN(vn.pos) AS wrap
      FROM d CROSS JOIN vn
      GROUP BY 1, 2
    ), rassign AS (
      SELECT r.doc_id, r.n_shards, vn.shard
      FROM ring r JOIN vn
        ON vn.n_shards = r.n_shards AND vn.pos = COALESCE(r.nxt, r.wrap)
    ), ringmv AS (
      SELECT a.doc_id, (a.shard <> b.shard) AS moved
      FROM rassign a JOIN rassign b
        ON b.doc_id = a.doc_id AND a.n_shards = 8 AND b.n_shards = 10
    ), modmv AS (
      SELECT doc_id, ((h % 8) <> (h % 10)) AS moved FROM d
    )
    SELECT scheme, n_docs, n_moved,
           ROUND(CAST(n_moved AS DOUBLE) / n_docs, 6) AS moved_frac
    FROM (
      SELECT 'mod_n' AS scheme, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
      FROM modmv
      UNION ALL
      SELECT 'ring' AS scheme, CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT)
      FROM ringmv
    ) ORDER BY scheme
    """,
)
def docs_shard_rebalance_audit(spark, sf_dir):
    """Shard-rebalance blast radius, mod-N vs consistent-hash ring: when
    the training-shard count grows 8 -> 10, hash-mod-N routing moves
    ~90% of documents (every doc whose hash lands differently mod 8 vs
    mod 10 re-shuffles, re-packs, and re-uploads), while a consistent
    ring with 16 virtual nodes per shard moves only the arcs the two new
    shards claim (~2/10 in expectation).  This audit quantifies both on
    the real corpus — the numbers a platform team needs before picking
    the sharded-writer layout.  Everything is md5 string/integer
    comparison (doc point vs vnode positions, ring successor = MIN pos
    >= point with wraparound), so both engines replay it exactly; the
    vnode relation (8+10 shards x 16 vnodes) broadcasts and assignment
    is one agg over the doc x vnode candidates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))).alias("pt"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 10
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    spark_sess = docs.sparkSession
    vn_rows = [
        (s, v, n)
        for n in (8, 10)
        for s in range(n)
        for v in range(16)
    ]
    # position salt excludes n_shards: scaling out adds vnodes, never moves
    # the existing ones — that property IS consistent hashing
    vn = spark_sess.createDataFrame(vn_rows, "shard int, vnode int, n_shards int").select(
        "shard",
        "n_shards",
        F.md5(
            F.concat_ws(":", F.lit("vn"), F.col("shard"), F.col("vnode"))
        ).alias("pos"),
    )
    ring = (
        d.crossJoin(F.broadcast(vn))
        .groupBy("doc_id", "n_shards")
        .agg(
            F.min(F.when(F.col("pos") >= F.col("pt"), F.col("pos"))).alias("nxt"),
            F.min("pos").alias("wrap"),
        )
    )
    rassign = ring.join(
        F.broadcast(vn),
        (vn.n_shards == ring.n_shards)
        & (vn.pos == F.coalesce(ring.nxt, ring.wrap)),
    ).select("doc_id", ring.n_shards.alias("n_shards"), "shard")
    a8 = rassign.filter(F.col("n_shards") == 8).select(
        "doc_id", F.col("shard").alias("s8")
    )
    a10 = rassign.filter(F.col("n_shards") == 10).select(
        "doc_id", F.col("shard").alias("s10")
    )
    ringmv = a8.join(a10, "doc_id").select(
        (F.col("s8") != F.col("s10")).alias("moved")
    )
    modmv = d.select(((F.col("h") % 8) != (F.col("h") % 10)).alias("moved"))

    def _summ(df, scheme):
        return df.agg(
            F.lit(scheme).alias("scheme"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("moved"), 1).otherwise(0)).cast("long").alias("n_moved"),
        )

    return (
        _summ(modmv, "mod_n")
        .unionByName(_summ(ringmv, "ring"))
        .select(
            "scheme",
            "n_docs",
            "n_moved",
            F.round(F.col("n_moved").cast("double") / F.col("n_docs"), 6).alias(
                "moved_frac"
            ),
        )
        .orderBy("scheme")
    )


@query(
    "customers_survival_curve",
    oracle="""
    WITH pu AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS first_day,
             MAX(CAST(o_orderdate AS DATE)) AS last_day
      FROM orders GROUP BY 1
    ), mx AS (
      SELECT MAX(last_day) AS max_day FROM pu
    ), u AS (
      SELECT o_custkey,
             CASE WHEN date_diff('day', last_day, (SELECT max_day FROM mx)) > 365
                  THEN 1 ELSE 0 END AS churned,
             CASE WHEN date_diff('day', last_day, (SELECT max_day FROM mx)) > 365
                  THEN date_diff('day', first_day, last_day)
                  ELSE date_diff('day', first_day, (SELECT max_day FROM mx))
             END AS duration
      FROM pu
    ), grp AS (
      SELECT duration, SUM(churned) AS d, COUNT(*) AS m FROM u GROUP BY 1
    ), tl AS (
      SELECT duration, d, m,
             (SELECT COUNT(*) FROM u)
               - COALESCE(SUM(m) OVER (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM grp
    ), lnq AS (
      SELECT duration, d, m, n_risk,
             1.0 - CAST(d AS DOUBLE) / n_risk AS q,
             CASE WHEN d < n_risk
                  THEN ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 12)
                  ELSE NULL END AS lq,
             MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY duration
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      FROM tl
    ), surv AS (
      SELECT duration, d, n_risk, dead,
             CAST(CAST(SUM(CAST(FLOOR(COALESCE(lq, 0) * 1000000000000.0
                                            + 0.5) AS BIGINT))
               OVER (ORDER BY duration
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS DOUBLE) / 1000000000000.0 AS cum
      FROM lnq
    )
    SELECT CAST(duration AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_churned,
           CASE WHEN dead = 1 THEN 0.0
                ELSE ROUND(exp(cum), 6) END AS survival
    FROM surv WHERE d > 0 ORDER BY duration_days
    """,
)
def customers_survival_curve(spark, sf_dir):
    """Kaplan-Meier survival curve over customer ORDERING lifetimes: a
    customer 'churns' when their last order is > 365 days before the
    corpus horizon (otherwise right-censored at the horizon — the
    censoring is what distinguishes KM from a naive lifetime histogram,
    which would count still-active customers as dead).  The events table
    is deliberately not the subject: its 30-day synthetic window keeps
    every user active to the horizon, so user-level survival is vacuous
    (documented dead end); order history spans years.  S(t) multiplies (1 - d_t/n_t)
    over churn durations <= t; the product runs as exp of a cumulative
    sum of per-step ln terms ROUNDED to 12 digits and summed as exact
    DECIMAL (the PageRank quantization recipe applied to a window
    product), with censored-only steps contributing ln(1) = 0 exactly
    and an integer 'risk set exhausted' flag pinning S to 0 beyond any
    step where every at-risk user churns.  All heavy work is one
    per-user agg of the events table; the timeline relation is
    DAYS-sized, so its global-order windows are broadcast-cheap
    (partitionBy(lit(0)) — same rationale as the sweep-line carry)."""
    o = _t(spark, sf_dir, "orders")
    pu = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_day"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )
    mx = pu.agg(F.max("last_day").alias("max_day"))
    u = pu.crossJoin(F.broadcast(mx)).select(
        F.when(F.datediff("max_day", "last_day") > 365, 1).otherwise(0).alias("churned"),
        F.when(
            F.datediff("max_day", "last_day") > 365,
            F.datediff("last_day", "first_day"),
        )
        .otherwise(F.datediff("max_day", "first_day"))
        .alias("duration"),
    )
    grp = u.groupBy("duration").agg(
        F.sum("churned").alias("d"), F.count(F.lit(1)).alias("m")
    )
    w_all = Window.partitionBy(F.lit(0))
    w_cum = w_all.orderBy("duration").rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_all.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tl = grp.select(
        "duration",
        "d",
        (
            F.sum("m").over(w_all)
            - F.coalesce(F.sum("m").over(w_cum), F.lit(0))
        ).alias("n_risk"),
    )
    lnq = tl.select(
        "duration",
        "d",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")), 12),
        ).alias("lq"),
        F.max(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0))
        .over(w_run)
        .alias("dead"),
    )
    # long-numerator running sum (round-11 dsum sweep): lq is 12-digit
    # rounded, so the window accumulates exact int64 numerators instead
    # of a BigDecimal per frame step.  Bound: |cum|*1e12 < 2^63 — cum is
    # ln(S) >= -ln(n_customers) per step over <= horizon-days steps.
    surv = lnq.withColumn(
        "cum",
        F.sum(
            F.floor(
                F.coalesce(F.col("lq"), F.lit(0.0)) * F.lit(1e12) + F.lit(0.5)
            )
        )
        .over(w_run)
        .cast("double")
        / F.lit(1e12),
    )
    return (
        surv.filter(F.col("d") > 0)
        .select(
            F.col("duration").cast("long").alias("duration_days"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("n_churned"),
            F.when(F.col("dead") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("cum")), 6))
            .alias("survival"),
        )
        .orderBy("duration_days")
    )


@query(
    "docs_trigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
    ), tok AS (
      SELECT unnest(toks) AS token FROM t
    ), cu AS MATERIALIZED (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), nn AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cu
    ), bi AS (
      SELECT toks[i] AS prev, toks[i+1] AS cur
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ), cb AS MATERIALIZED (
      SELECT prev, cur, COUNT(*) AS c FROM bi GROUP BY 1, 2
    ), cc AS (
      SELECT prev, SUM(c) AS c FROM cb GROUP BY 1
    ), tri AS (
      SELECT doc_id, lang, toks[i] AS p2, toks[i+1] AS p1, toks[i+2] AS cur
      FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 3
    ), c3 AS MATERIALIZED (
      SELECT p2, p1, cur, COUNT(*) AS c FROM tri GROUP BY 1, 2, 3
    ), cctx AS (
      SELECT p2, p1, SUM(c) AS c FROM c3 GROUP BY 1, 2
    ), nll AS MATERIALIZED (
      SELECT c3.p2, c3.p1, c3.cur,
             ROUND(-ln(
               0.6 * (CAST(c3.c AS DOUBLE) / CAST(cctx.c AS DOUBLE))
               + 0.3 * (CAST(cb.c AS DOUBLE) / CAST(cc.c AS DOUBLE))
               + 0.1 * (CAST(cu.c AS DOUBLE) / (SELECT n FROM nn))), 7) AS nll
      FROM c3
      JOIN cctx ON cctx.p2 = c3.p2 AND cctx.p1 = c3.p1
      JOIN cb ON cb.prev = c3.p1 AND cb.cur = c3.cur
      JOIN cc ON cc.prev = c3.p1
      JOIN cu ON cu.token = c3.cur
    ), per_doc AS (
      SELECT tri.doc_id, tri.lang,
             ROUND((CAST(CAST(SUM(CAST(FLOOR(nll.nll * 10000000.0 + 0.5)
                                           AS BIGINT)) AS BIGINT) AS DOUBLE)
                     / 10000000.0) / COUNT(*), 6)
                 AS ce
      FROM tri JOIN nll
        ON nll.p2 = tri.p2 AND nll.p1 = tri.p1 AND nll.cur = tri.cur
      GROUP BY 1, 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND((CAST(CAST(SUM(CAST(FLOOR(ce * 1000000.0 + 0.5) AS BIGINT))
                            AS BIGINT) AS DOUBLE) / 1000000.0) / COUNT(*), 6)
               AS avg_ce,
           ROUND(MIN(ce), 6) AS min_ce,
           ROUND(MAX(ce), 6) AS max_ce
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def docs_trigram_logprob(spark, sf_dir):
    """Order-3 language-model quality signal completing the n-gram LM
    family (docs_unigram_logprob, docs_bigram_logprob): Jelinek-Mercer
    interpolation 0.6*p(cur|p2,p1) + 0.3*p(cur|p1) + 0.1*p(cur), mean
    NLL per document over positions 3..n, per language.  Same
    scale-safe shape as the bigram query: all probability components
    live on VOCABULARY-sized count relations (trigram types, contexts
    derived from them by one tiny re-agg), the per-trigram-TYPE NLL is
    computed once and joined back onto the trigram stream, and the
    round(7)-then-int64-numerator recipe (round-11 dsum sweep) makes
    every mean order-free with no BigDecimal on the trigram stream.  The float
    chain (three divisions, three multiplies, two adds, one ln) runs in
    the same left-to-right order in both engines on identical
    integer-derived doubles."""
    from prod_data_pipeline_spark.functions.text import tokens
    from prod_data_pipeline_spark.session import truncate_lineage

    docs = _t(spark, sf_dir, "documents")
    # The tokenized snapshot feeds FOUR corpus-sized consumers (unigram
    # stream, bigram stream, and the trigram stream twice: type counts +
    # the per-doc scoring join).  Without a lineage cut each consumer
    # replays the scan AND the regex tokenization — 7 executed-plan
    # parquet scans (r16 plan census).  One materialization is the same
    # trade the dedup family documents: tokenize once, never re-shuffle
    # snapshot text.
    t = docs.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    t = t.transform(truncate_lineage, eager=False)
    tok = t.select(F.explode("toks").alias("token"))
    cu = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cu"))
    nn = cu.agg(F.sum("cu").cast("double").alias("n"))
    bi = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("prev"),
                        F.element_at(F.col("toks"), i + 1).alias("cur"),
                    ),
                )
            ).alias("b")
        )
        .select(F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    )
    cb = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb"))
    cc = cb.groupBy("prev").agg(F.sum("cb").alias("cc"))
    tri = (
        t.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("p2"),
                        F.element_at(F.col("toks"), i + 1).alias("p1"),
                        F.element_at(F.col("toks"), i + 2).alias("cur"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "lang", "g.p2", "g.p1", "g.cur")
    )
    c3 = tri.groupBy("p2", "p1", "cur").agg(F.count(F.lit(1)).alias("c3"))
    cctx = c3.groupBy("p2", "p1").agg(F.sum("c3").alias("cctx"))
    nll = (
        c3.join(cctx, ["p2", "p1"])
        .join(cb.withColumnRenamed("prev", "p1"), ["p1", "cur"])
        .join(cc.withColumnRenamed("prev", "p1"), "p1")
        .join(cu.withColumnRenamed("token", "cur"), "cur")
        .crossJoin(F.broadcast(nn))
        .select(
            "p2",
            "p1",
            "cur",
            F.round(
                -F.log(
                    F.lit(0.6) * (F.col("c3").cast("double") / F.col("cctx").cast("double"))
                    + F.lit(0.3) * (F.col("cb").cast("double") / F.col("cc").cast("double"))
                    + F.lit(0.1) * (F.col("cu").cast("double") / F.col("n"))
                ),
                7,
            ).alias("nll"),
        )
    )
    per_doc = (
        tri.join(nll, ["p2", "p1", "cur"])
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                dsum("nll", 7) / F.count(F.lit(1)),
                6,
            ).alias("ce")
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                dsum("ce", 6) / F.count(F.lit(1)),
                6,
            ).alias("avg_ce"),
            F.round(F.min("ce"), 6).alias("min_ce"),
            F.round(F.max("ce"), 6).alias("max_ce"),
        )
        .orderBy("lang")
    )


@query(
    "media_image_edge_density",
    oracle="""
    WITH img AS (
      SELECT doc_id, text,
             CAST(4 + doc_id % 13 AS BIGINT) AS w,
             CAST(4 + doc_id % 7 AS BIGINT) AS h,
             (3 * (4 + doc_id % 13) + 3) // 4 * 4 AS stride,
             length(text) AS l
      FROM documents WHERE doc_id % 3 = 0
    ), g AS (
      SELECT doc_id, w, h,
             list_transform(range(0, w * h), k ->
               ( ascii(substr(text, CAST(((k // w) * stride + 3 * (k % w)) % l AS BIGINT) + 1, 1))
               + ascii(substr(text, CAST(((k // w) * stride + 3 * (k % w) + 1) % l AS BIGINT) + 1, 1))
               + ascii(substr(text, CAST(((k // w) * stride + 3 * (k % w) + 2) % l AS BIGINT) + 1, 1))
               ) // 3) AS gr
      FROM img
    ), e AS (
      SELECT doc_id, w, h, (h - 2) * (w - 2) AS n_interior,
             list_sum(list_transform(range(0, (h - 2) * (w - 2)), j ->
               abs(- gr[CAST((j // (w-2)) * w + (j % (w-2)) + 1 AS BIGINT)]
                   + gr[CAST((j // (w-2)) * w + (j % (w-2)) + 3 AS BIGINT)]
                   - 2 * gr[CAST((j // (w-2)) * w + (j % (w-2)) + 1 + w AS BIGINT)]
                   + 2 * gr[CAST((j // (w-2)) * w + (j % (w-2)) + 3 + w AS BIGINT)]
                   - gr[CAST((j // (w-2)) * w + (j % (w-2)) + 1 + 2*w AS BIGINT)]
                   + gr[CAST((j // (w-2)) * w + (j % (w-2)) + 3 + 2*w AS BIGINT)])
               + abs(- gr[CAST((j // (w-2)) * w + (j % (w-2)) + 1 AS BIGINT)]
                   - 2 * gr[CAST((j // (w-2)) * w + (j % (w-2)) + 2 AS BIGINT)]
                   - gr[CAST((j // (w-2)) * w + (j % (w-2)) + 3 AS BIGINT)]
                   + gr[CAST((j // (w-2)) * w + (j % (w-2)) + 1 + 2*w AS BIGINT)]
                   + 2 * gr[CAST((j // (w-2)) * w + (j % (w-2)) + 2 + 2*w AS BIGINT)]
                   + gr[CAST((j // (w-2)) * w + (j % (w-2)) + 3 + 2*w AS BIGINT)])
             )) AS edge_sum
      FROM g
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(n_interior AS BIGINT) AS n_interior,
           CAST(edge_sum AS BIGINT) AS edge_sum,
           ROUND(CAST(edge_sum AS DOUBLE) / n_interior, 4) AS mean_edge
    FROM e ORDER BY asset_id
    """,
)
def media_image_edge_density(spark, sf_dir):
    """Sobel edge density over REAL BMP decode
    (operators.multimodal.image_edge_density): the first NEIGHBORHOOD
    operator in the multimodal family — a 3x3 integer convolution whose
    every interior pixel the oracle recomputes from the byte tiling
    (point-lookup verification as in phash, extended to stencil reads:
    an off-by-one in stride, row order, or channel offset shifts a
    neighbor and flips the hash).  Near-zero density flags flat /
    synthetic-fill images for curation.  One Arrow kernel pass; only
    per-asset scalar rows shuffle."""
    from prod_data_pipeline_spark.operators.multimodal import (
        image_edge_density,
        synthetic_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "image")
    return image_edge_density(assets).orderBy("asset_id")


@query(
    "media_video_motion_energy",
    oracle="""
    WITH v AS (
      SELECT doc_id, text,
             4 + 2 * (doc_id % 7) AS w,
             4 + 2 * (doc_id % 5) AS h,
             1 + doc_id % 4 AS nf,
             length(text) AS l
      FROM documents WHERE doc_id % 3 = 2
    ), fr AS (
      SELECT doc_id, w * h AS wh, l, unnest(range(0, nf)) AS i FROM v
    ), fy AS (
      SELECT f.doc_id, f.i, f.wh,
             list_transform(range(0, f.wh),
               k -> CASE WHEN f.l > f.i
                         THEN ascii(substr(v.text,
                                CAST(k % (f.l - f.i) AS INT) + CAST(f.i AS INT) + 1, 1))
                         ELSE ascii(substr(v.text, CAST(k % f.l AS INT) + 1, 1))
                    END) AS y
      FROM fr f JOIN v ON v.doc_id = f.doc_id
    )
    SELECT a.doc_id AS asset_id,
           CAST(a.i AS INT) AS frame_idx,
           CAST(a.wh AS BIGINT) AS n_pixels,
           CAST(list_sum(list_transform(range(0, a.wh),
                k -> abs(a.y[CAST(k AS INT) + 1] - b.y[CAST(k AS INT) + 1])))
             AS BIGINT) AS motion_sum
    FROM fy a JOIN fy b ON b.doc_id = a.doc_id AND b.i = a.i - 1
    ORDER BY asset_id, frame_idx
    """,
)
def media_video_motion_energy(spark, sf_dir):
    """Pixel-level temporal motion energy over REAL Y4M decode
    (operators.multimodal.video_motion_energy): per consecutive frame
    pair, sum of absolute per-pixel luma differences — the static-clip /
    slideshow screen, at pixel granularity where the scene-change query
    works on frame MEANS (a scene cut that preserves average brightness
    is invisible to the mean but lights up here).  All integers; the
    oracle regenerates both frames of every pair from the byte tiling
    and replays the diff, so frame-stride bugs shift bytes and flip the
    hash.  Single-frame assets produce no rows by construction."""
    from prod_data_pipeline_spark.operators.multimodal import (
        synthetic_media_assets,
        video_motion_energy,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "video")
    return video_motion_energy(assets).orderBy("asset_id", "frame_idx")


@query(
    "events_scd2_asof_snapshot",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS prev,
             row_number() OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS rn
      FROM events WHERE user_id IS NOT NULL
    ), ch AS (
      SELECT user_id, ts, event_type, event_id FROM c
      WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    ), hist AS (
      SELECT user_id, event_type,
             ts AS effective_from,
             lead(ts) OVER w AS effective_to
      FROM ch
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_type, effective_from
    FROM hist
    WHERE effective_from <= TIMESTAMP '2024-01-15 12:00:00'
      AND (effective_to IS NULL OR effective_to > TIMESTAMP '2024-01-15 12:00:00')
    ORDER BY user_id
    """,
)
def events_scd2_asof_snapshot(spark, sf_dir):
    """Bitemporal AS-OF read over the SCD2 history: reconstruct every
    user's event_type state exactly as it was at 2024-01-15 12:00 — the
    validity-interval containment query (effective_from <= T <
    effective_to, open intervals current) that makes an SCD2 dimension
    useful: training-data snapshots 'as the labeler saw it', audit
    reconstruction, late-join backfills against past state.  Row-level
    output (one row per user active at T) so the hash certifies every
    interval boundary, not just counts.  Same single
    (exchange, sort) as the history build; the as-of filter is a
    residual predicate, no extra shuffle."""
    from prod_data_pipeline_spark.operators.cdc import scd2_history

    asof = F.lit("2024-01-15 12:00:00").cast("timestamp")
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hist = scd2_history(ev, "user_id", "ts", "event_type", tiebreak=["event_id"])
    return (
        hist.filter(
            (F.col("effective_from") <= asof)
            & (F.col("effective_to").isNull() | (F.col("effective_to") > asof))
        )
        .select("user_id", "event_type", "effective_from")
        .orderBy("user_id")
    )


@query(
    "orders_revenue_trend_ols",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority,
             (year(CAST(o_orderdate AS DATE)) - 1995) * 12
               + (month(CAST(o_orderdate AS DATE)) - 1) AS x,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1, 2
    ), s AS (
      SELECT priority,
             COUNT(*) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM m GROUP BY 1
    ), f AS (
      SELECT priority, n, sy,
             n * sxy - sx * sy AS a,
             n * sxx - sx * sx AS b,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS c,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
      FROM s
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n_months,
           CAST(sy AS DOUBLE) / 100.0 AS total_revenue,
           ROUND(slope / 100.0, 4) AS slope_per_month,
           ROUND((CAST(sy AS DOUBLE) - slope * (SELECT CAST(SUM(x) AS DOUBLE)
                    FROM m mm WHERE mm.priority = f.priority)) / n / 100.0, 4)
               AS intercept,
           ROUND(CAST(CAST(a AS HUGEINT) * a AS DOUBLE)
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) AS r2
    FROM f ORDER BY priority
    """,
)
def orders_revenue_trend_ols(spark, sf_dir):
    """Per-priority monthly revenue trend by closed-form OLS: slope,
    intercept, and r^2 of cents-exact monthly totals against the month
    index — the is-this-segment-growing screen, done with the Zipf/Heaps
    fit recipe generalized to money: every moment (Sx, Sxx, Sy, Sxy,
    Syy) is an EXACT integer/decimal sum, so the regression reduces to a
    fixed handful of IEEE ops on identical inputs (one division for the
    slope, three casts + multiply + divide for r^2) — no float
    accumulates across rows anywhere.  Syy and a^2 exceed int64 and ride
    DECIMAL(38)/HUGEINT.  Two aggregations: orders -> months (the only
    corpus-sized exchange), months -> 5 priority rows."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (
            (F.year(F.to_date("o_orderdate")) - 1995) * 12
            + (F.month(F.to_date("o_orderdate")) - 1)
        ).alias("x"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
    s = m.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).alias("syy"),
    )
    f = s.select(
        "priority",
        "n",
        "sy",
        "sx",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("a"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("b"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("syy")
            - F.col("sy").cast("decimal(19,0)") * F.col("sy")
        ).alias("c"),
    ).withColumn(
        "slope", F.col("a").cast("double") / F.col("b").cast("double")
    )
    return f.select(
        "priority",
        F.col("n").cast("long").alias("n_months"),
        (F.col("sy").cast("double") / F.lit(100.0)).alias("total_revenue"),
        F.round(F.col("slope") / 100.0, 4).alias("slope_per_month"),
        F.round(
            (F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double"))
            / F.col("n")
            / 100.0,
            4,
        ).alias("intercept"),
        F.round(
            (F.col("a").cast("decimal(19,0)") * F.col("a")).cast("double")
            / (F.col("b").cast("double") * F.col("c").cast("double")),
            6,
        ).alias("r2"),
    ).orderBy("priority")


@query(
    "docs_token_mass_quantiles",
    oracle=f"""
    WITH t AS (
      SELECT len({_TOKS_SQL}) AS n FROM documents
    ), g AS (
      SELECT n, COUNT(*) AS docs, SUM(n) AS toks FROM t GROUP BY n
    ), c AS (
      SELECT n, docs, toks,
             SUM(toks) OVER (ORDER BY n
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks,
             SUM(docs) OVER (ORDER BY n
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_docs,
             (SELECT SUM(toks) FROM g) AS total
      FROM g
    ), qs AS (
      SELECT unnest([25, 50, 75, 90]) AS q100
    ), hit AS (
      SELECT qs.q100, MIN(c.n) AS len_at_q
      FROM qs JOIN c ON 100 * c.cum_toks >= qs.q100 * c.total
      GROUP BY 1
    )
    SELECT CAST(h.q100 AS DOUBLE) / 100.0 AS quantile,
           CAST(h.len_at_q AS BIGINT) AS len_at_q,
           CAST(c.cum_toks AS BIGINT) AS cum_tokens,
           CAST(c.cum_docs AS BIGINT) AS cum_docs,
           CAST(c.total AS BIGINT) AS total_tokens
    FROM hit h JOIN c ON c.n = h.len_at_q
    ORDER BY quantile
    """,
)
def docs_token_mass_quantiles(spark, sf_dir):
    """TOKEN-MASS-weighted length quantiles: the smallest document length
    L such that docs of length <= L hold >= q of all corpus tokens, for
    q in 25/50/75/90% — the packing-configuration curve (max_seq_len
    choices are about token mass, not doc counts: 90% of DOCS under 100
    tokens can still be 10% of the MASS).  The decision 100*cum >=
    q100*total is pure integer cross-multiplication; the cumulative runs
    on the DISTINCT-LENGTHS relation (bounded by max doc length), so
    both windows are tiny — the corpus contributes one length-keyed
    agg."""
    from prod_data_pipeline_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select(F.size(tokens(F.col("text"))).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n").alias("toks"))
    )
    w_all = Window.partitionBy(F.lit(0))
    w_run = w_all.orderBy("n").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = g.select(
        "n",
        "docs",
        F.sum("toks").over(w_run).alias("cum_toks"),
        F.sum("docs").over(w_run).alias("cum_docs"),
        F.sum("toks").over(w_all).alias("total"),
    )
    qs = spark.createDataFrame([(25,), (50,), (75,), (90,)], "q100 int")
    hit = (
        c.crossJoin(F.broadcast(qs))
        .filter(100 * F.col("cum_toks") >= F.col("q100") * F.col("total"))
        .groupBy("q100")
        .agg(F.min("n").alias("len_at_q"))
    )
    return (
        hit.join(c.withColumnRenamed("n", "len_at_q"), "len_at_q")
        .select(
            (F.col("q100").cast("double") / 100.0).alias("quantile"),
            F.col("len_at_q").cast("long").alias("len_at_q"),
            F.col("cum_toks").cast("long").alias("cum_tokens"),
            F.col("cum_docs").cast("long").alias("cum_docs"),
            F.col("total").cast("long").alias("total_tokens"),
        )
        .orderBy("quantile")
    )


@query(
    "lineitem_mahalanobis_outliers",
    oracle="""
    WITH r AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qx,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS py
      FROM lineitem
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(qx) AS sx, SUM(py) AS sy,
             SUM(qx * qx) AS sxx,
             SUM(qx * py) AS sxy,
             SUM(CAST(py AS HUGEINT) * py) AS syy
      FROM r
    ), mom AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx,
             CAST(sy AS DOUBLE) / n AS my,
             CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vxx,
             CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vxy,
             CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vyy
      FROM s
    )
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           ROUND(
             ((CAST(qx AS DOUBLE) - mx) * (CAST(qx AS DOUBLE) - mx) * vyy
              - 2.0 * (CAST(qx AS DOUBLE) - mx) * (CAST(py AS DOUBLE) - my) * vxy
              + (CAST(py AS DOUBLE) - my) * (CAST(py AS DOUBLE) - my) * vxx)
             / (vxx * vyy - vxy * vxy), 6) AS maha_d2
    FROM r, mom
    ORDER BY maha_d2 DESC, l_orderkey, l_linenumber LIMIT 50
    """,
)
def lineitem_mahalanobis_outliers(spark, sf_dir):
    """Multivariate outliers by exact-moment Mahalanobis distance over
    (quantity, price): the joint screen that flags rows whose
    COMBINATION is anomalous even when each marginal is ordinary (tiny
    quantity at a huge price) — the step beyond the per-column P99/MAD
    screens.  Means and the 2x2 covariance come from exact cents-integer
    sums in ONE aggregation (Syy rides DECIMAL(38)/HUGEINT), the matrix
    inverse is closed-form, and each row's distance is a fixed chain of
    IEEE ops on identical inputs — so the float math replays exactly and
    the top-50 cut (TakeOrdered, no full sort) is deterministic with
    key tiebreaks."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qx"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("py"),
    )
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("qx").alias("sx"),
        F.sum("py").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).alias("sxx"),
        F.sum(F.col("qx") * F.col("py")).alias("sxy"),
        F.sum(F.col("py").cast("decimal(19,0)") * F.col("py")).alias("syy"),
    )
    mom = s.select(
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        (
            F.col("sxx").cast("double") / F.col("n")
            - (F.col("sx").cast("double") / F.col("n"))
            * (F.col("sx").cast("double") / F.col("n"))
        ).alias("vxx"),
        (
            F.col("sxy").cast("double") / F.col("n")
            - (F.col("sx").cast("double") / F.col("n"))
            * (F.col("sy").cast("double") / F.col("n"))
        ).alias("vxy"),
        (
            F.col("syy").cast("double") / F.col("n")
            - (F.col("sy").cast("double") / F.col("n"))
            * (F.col("sy").cast("double") / F.col("n"))
        ).alias("vyy"),
    )
    dx = F.col("qx").cast("double") - F.col("mx")
    dy = F.col("py").cast("double") - F.col("my")
    return (
        li.crossJoin(F.broadcast(mom))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.round(
                (
                    dx * dx * F.col("vyy")
                    - F.lit(2.0) * dx * dy * F.col("vxy")
                    + dy * dy * F.col("vxx")
                )
                / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy")),
                6,
            ).alias("maha_d2"),
        )
        .orderBy(F.desc("maha_d2"), "l_orderkey", "l_linenumber")
        .limit(50)
    )


@query(
    "events_value_sketch_quantiles",
    oracle="""
    WITH r AS (
      SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL
    ), sk AS (
      -- the mergeable sketch: per-DAY bucket counts (merge IS addition)
      SELECT CAST(ts AS DATE) AS day,
             LEAST(CAST(ROUND(value * 100) AS BIGINT) * 64 // 50000, 63) AS bucket,
             COUNT(*) AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), merged AS (
      SELECT bucket, SUM(cnt) AS cnt FROM sk GROUP BY 1
    ), cum AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT SUM(cnt) FROM merged) AS n
      FROM merged
    ), qs AS (SELECT unnest([25, 50, 75, 90]) AS q100
    ), est AS (
      SELECT q100, MIN(bucket) AS b
      FROM qs JOIN cum ON 100 * cum.cum >= qs.q100 * cum.n
      GROUP BY 1
    ), rk AS (
      SELECT vc, ROW_NUMBER() OVER (ORDER BY vc, event_id) AS rnk,
             (SELECT COUNT(*) FROM r) AS n
      FROM r
    ), exact AS (
      SELECT q.q100, rk.vc AS exact_vc
      FROM qs q JOIN rk ON rk.rnk = (q.q100 * rk.n + 99) // 100
    )
    SELECT CAST(e.q100 AS DOUBLE) / 100.0 AS quantile,
           ROUND(CAST((e.b + 1) * 50000 AS DOUBLE) / 64.0 / 100.0, 4) AS sketch_value,
           CAST(x.exact_vc AS DOUBLE) / 100.0 AS exact_value,
           ROUND(abs(CAST((e.b + 1) * 50000 AS DOUBLE) / 64.0 / 100.0
                     - CAST(x.exact_vc AS DOUBLE) / 100.0), 4) AS abs_err,
           CAST((SELECT COUNT(DISTINCT day) FROM sk) AS BIGINT) AS n_day_sketches
    FROM est e JOIN exact x ON x.q100 = e.q100
    ORDER BY quantile
    """,
)
def events_value_sketch_quantiles(spark, sf_dir):
    """Mergeable QUANTILE sketch, exact-replayable — completing the
    sketch family (HLL distinct, count-min frequency, now quantiles):
    per-day equal-width bucket counts on CENTS integers (merge IS
    addition, exactly like the CMS sink), quantile estimate = upper edge
    of the first bucket whose merged cumulative crosses q (integer
    cross-multiplication decides), reported side by side with the EXACT
    value at rank ceil(q*N) from the no-global-sort bucketed rank — so
    the error bound (one bucket width, here 500000/64 cents) is
    measured, not asserted.  Unlike t-digest/KLL this sketch is fully
    deterministic, which is what lets the driver hash-check an
    'approximate' structure.  All integer decisions; the only floats
    are fixed bucket-edge arithmetic."""
    from prod_data_pipeline_spark.operators.ranking import bucketed_global_rank

    from prod_data_pipeline_spark.operators.sketches import (
        value_histogram_build,
        value_histogram_merge,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # Two corpus reads (sketch and exact halves need different columns):
    # the rank operator reads its slim input once, and the tiny per-day
    # sketch (|days| x 64 rows) is cut because it feeds merge + day count.
    r = ev.select("event_id", F.round(F.col("value") * 100).cast("long").alias("vc"))
    sk = value_histogram_build(
        ev, "value", by=(F.to_date("ts").alias("day"),), n_buckets=64, vmax_cents=50_000
    ).transform(truncate_lineage, eager=True)
    merged = value_histogram_merge(sk)
    w_all = Window.partitionBy(F.lit(0))
    w_run = w_all.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.select(
        "bucket",
        F.sum("cnt").over(w_run).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qs = spark.createDataFrame([(25,), (50,), (75,), (90,)], "q100 int")
    est = (
        cum.crossJoin(F.broadcast(qs))
        .filter(100 * F.col("cum") >= F.col("q100") * F.col("n"))
        .groupBy("q100")
        .agg(F.min("bucket").alias("b"))
    )
    ranked = bucketed_global_rank(r, order_cols=("vc", "event_id"))
    exact = (
        ranked.crossJoin(F.broadcast(qs))
        .filter(F.col("rank") == F.expr("(q100 * n_total + 99) div 100"))
        .select("q100", F.col("vc").alias("exact_vc"))
    )
    n_days = sk.select(F.countDistinct("day").alias("nd"))
    edge = F.col("b") + 1
    return (
        est.join(exact, "q100")
        .crossJoin(F.broadcast(n_days))
        .select(
            (F.col("q100").cast("double") / 100.0).alias("quantile"),
            F.round(
                (edge * 50000).cast("double") / 64.0 / 100.0, 4
            ).alias("sketch_value"),
            (F.col("exact_vc").cast("double") / 100.0).alias("exact_value"),
            F.round(
                F.abs(
                    (edge * 50000).cast("double") / 64.0 / 100.0
                    - F.col("exact_vc").cast("double") / 100.0
                ),
                4,
            ).alias("abs_err"),
            F.col("nd").cast("long").alias("n_day_sketches"),
        )
        .orderBy("quantile")
    )


def _mmr_oracle_sql(k_candidates: int = 20, k_select: int = 8) -> str:
    """Top-k candidates + k_select unrolled greedy MMR selection CTEs."""
    cos = (
        "list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
        " / (sqrt(list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {a}[i])))"
        " * sqrt(list_sum(list_transform(range(1, len({b})+1), i -> {b}[i] * {b}[i]))))"
    )
    qcos = cos.format(a="q.qe", b="v.e")
    pcos = cos.format(a="x.e", b="y.e")
    steps = []
    for k in range(2, k_select + 1):
        steps.append(f"""
    pick{k} AS MATERIALIZED (
      SELECT c.neighbor_id, c.sim,
             0.7 * c.sim - 0.3 * (SELECT MAX(p.s) FROM pairs p
                                  JOIN sel{k-1} s ON s.neighbor_id = p.idb
                                  WHERE p.ida = c.neighbor_id) AS raw_score
      FROM cand c
      WHERE c.neighbor_id NOT IN (SELECT neighbor_id FROM sel{k-1})
      ORDER BY raw_score DESC, c.neighbor_id LIMIT 1
    ), sel{k} AS MATERIALIZED (
      SELECT neighbor_id, sim, r, score FROM sel{k-1}
      UNION ALL
      SELECT neighbor_id, sim, {k} AS r, ROUND(raw_score, 6) AS score FROM pick{k}
    )""")
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    cand AS MATERIALIZED (
      SELECT neighbor_id, sim FROM (
        SELECT v.vec_id AS neighbor_id, ROUND({qcos}, 4) AS sim,
               ROW_NUMBER() OVER (ORDER BY {qcos} DESC, v.vec_id) AS rnk
        FROM v, q WHERE v.vec_id <> 0
      ) WHERE rnk <= {k_candidates}
    ), cv AS MATERIALIZED (
      SELECT v.vec_id, v.e FROM v JOIN cand c ON c.neighbor_id = v.vec_id
    ), pairs AS MATERIALIZED (
      SELECT x.vec_id AS ida, y.vec_id AS idb, ROUND({pcos}, 4) AS s
      FROM cv x JOIN cv y ON x.vec_id <> y.vec_id
    ), sel1 AS MATERIALIZED (
      SELECT neighbor_id, sim, 1 AS r, ROUND(0.7 * sim, 6) AS score
      FROM cand ORDER BY sim DESC, neighbor_id LIMIT 1
    ),{",".join(steps)}
    SELECT CAST(r AS BIGINT) AS mmr_rank, neighbor_id, sim, score
    FROM sel{k_select} ORDER BY mmr_rank
    """


@query(
    "emb_mmr_rerank",
    oracle=_mmr_oracle_sql(20, 8),
)
def emb_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-rank
    (operators.similarity.mmr_rerank): the cosine top-20 for query
    vector 0, greedily re-ranked to 8 diverse picks with
    0.7*relevance - 0.3*max-similarity-to-already-selected — the RAG
    context assembly step that stops the window filling with
    near-copies.  The greedy recursion is inherently sequential over a
    PARAMETER-bounded candidate list, so it runs driver-side; the
    corpus-sized candidate scan stays distributed.  Every score is a
    fixed float chain on round-4 cosines, so the DuckDB oracle replays
    all 8 selection steps as unrolled argmax CTEs and the hash holds."""
    from prod_data_pipeline_spark.operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    return mmr_rerank(emb, qv, k_candidates=20, k_select=8).orderBy("mmr_rank")


@query(
    "docs_snm_recall_vs_exact",
    oracle=f"""
    WITH {jaccard_prefix_sql(materialize=True)}, key AS (
      SELECT doc_id, {snm_key_sql()} AS key FROM documents
    ), snmr AS MATERIALIZED (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM key
    ), scand AS (
      SELECT a.doc_id AS ra, b.doc_id AS rb
      FROM snmr a JOIN snmr b ON {snm_window_sql()}
    ), snm AS MATERIALIZED (
      SELECT DISTINCT least(c.ra, c.rb) AS id_a, greatest(c.ra, c.rb) AS id_b
      FROM scand c
      JOIN t2 ta ON ta.doc_id = c.ra
      JOIN t2 tb ON tb.doc_id = c.rb
      WHERE ROUND({jaccard_sql("ta.sh", "tb.sh")}, 4) >= 0.5
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM snm) AS BIGINT) AS n_snm,
           CAST((SELECT COUNT(*) FROM snm s JOIN exact e
                 ON e.id_a = s.id_a AND e.id_b = s.id_b) AS BIGINT) AS n_overlap,
           ROUND(CAST((SELECT COUNT(*) FROM snm s JOIN exact e
                 ON e.id_a = s.id_a AND e.id_b = s.id_b) AS DOUBLE)
                 / greatest((SELECT COUNT(*) FROM exact), 1), 4) AS recall
    """,
)
def docs_snm_recall_vs_exact(spark, sf_dir, sample_pct: int = 100):
    """Sorted-neighborhood recall audit against the SAME exact ground
    truth the LSH audit uses (docs_lsh_recall_vs_exact): every pair with
    3-gram shingle Jaccard >= 0.5 from the prefix-filtered exact join,
    vs the pairs the 5-successor prefix-key neighborhood finds at the
    same threshold.  Together the two audits quantify the blockers'
    COMPLEMENTARY recall profiles — SNM catches prefix-stable dups
    regardless of band luck, LSH catches prefix-divergent rewrites —
    which is the evidence for running both and unioning candidates in a
    production dedup pass.  SNM pairs canonicalize to (min, max) id for
    the overlap join; both memberships replay identically in SQL.

    ``sample_pct`` (same knob and salt as the LSH audit) restricts both
    sides to a deterministic md5-bucketed doc subsample so the exact
    prefix-join ground truth — the expensive half — stays runnable at
    100x.  Caveat specific to SNM: sampling DENSIFIES neighborhoods
    (each survivor's 5 successors in the sampled sort order span a wider
    window of the full corpus), so sampled recall is a slightly
    OPTIMISTIC estimate; still the right audit knob because the bias
    direction is known and one-sided.  Full corpus remains the oracle
    and driver default."""
    from prod_data_pipeline_spark.operators.dedup import (
        jaccard_prefix_pairs,
        sorted_neighborhood_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    if sample_pct < 100:
        from prod_data_pipeline_spark.operators.sampling import hash_sample

        docs = hash_sample(docs, sample_pct / 100.0, "doc_id", salt="recall_audit")
    exact = jaccard_prefix_pairs(
        docs, threshold_pct=50, shingle_n=3, materialize=True
    ).select("id_a", "id_b")
    # snm feeds two actions (its own count + the overlap semi-join);
    # a lazy lineage cut stores the blocks on the first count so the
    # neighborhood pipeline runs once, not twice.
    snm = (
        sorted_neighborhood_pairs(docs, threshold=0.5)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
        .transform(truncate_lineage, eager=False)
    )
    from decimal import ROUND_HALF_UP, Decimal

    n_exact = exact.count()
    n_snm = snm.count()
    n_overlap = snm.join(exact, ["id_a", "id_b"], "left_semi").count()
    # half-up like SQL ROUND; python round() is banker's and diverges on
    # exact ties (e.g. a ratio of 1/32 at 4 digits)
    recall = float(
        Decimal(repr(n_overlap / max(n_exact, 1))).quantize(
            Decimal("0.0001"), ROUND_HALF_UP
        )
    )
    return spark.createDataFrame(
        [(n_exact, n_snm, n_overlap, recall)],
        "n_exact long, n_snm long, n_overlap long, recall double",
    )


@query(
    "docs_lang_source_chi2",
    oracle="""
    WITH o AS (
      SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2
    ), rt AS (
      SELECT lang, SUM(obs) AS r FROM o GROUP BY 1
    ), ct AS (
      SELECT source, SUM(obs) AS c FROM o GROUP BY 1
    ), n AS (
      SELECT CAST(SUM(obs) AS DOUBLE) AS n FROM o
    ), cells AS (
      SELECT rt.lang, ct.source,
             COALESCE(o.obs, 0) AS obs,
             CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / (SELECT n FROM n) AS exp
      FROM rt CROSS JOIN ct
      LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source
    ), terms AS (
      SELECT lang, source,
             ROUND((CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp) / exp,
                   10) AS t
      FROM cells
    )
    SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_langs,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_sources,
           CAST(((SELECT COUNT(*) FROM rt) - 1)
                * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof,
           ROUND(CAST(SUM(CAST(t AS DECIMAL(24,10))) AS DOUBLE), 6) AS chi2
    FROM terms
    """,
)
def docs_lang_source_chi2(spark, sf_dir):
    """Pearson chi-square independence test for language x source — the
    corpus-mix drift tripwire: a significant statistic means sources do
    NOT share a language distribution, so per-source sampling weights
    change the language mix (and a jump between snapshots means a
    source's crawler changed).  Observed counts are integers, expected =
    row*col/n is a fixed float chain, per-cell terms round to 10 and sum
    as exact DECIMAL (order-free, the usual recipe), and zero-count
    cells are materialized by the row x column cross join so the
    statistic covers the full contingency table.  One groupBy of the
    corpus; everything else is |langs| x |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").cast("double").alias("n"))
    cells = (
        rt.crossJoin(ct)
        .join(o, ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.coalesce("obs", F.lit(0)).alias("obs"),
            (F.col("r").cast("double") * F.col("c").cast("double") / F.col("n")).alias(
                "exp"
            ),
        )
    )
    terms = cells.select(
        F.round(
            (F.col("obs").cast("double") - F.col("exp"))
            * (F.col("obs").cast("double") - F.col("exp"))
            / F.col("exp"),
            10,
        ).alias("t")
    )
    n_langs = rt.count()
    n_sources = ct.count()
    return terms.agg(
        F.lit(n_langs).cast("long").alias("n_langs"),
        F.lit(n_sources).cast("long").alias("n_sources"),
        F.lit((n_langs - 1) * (n_sources - 1)).cast("long").alias("dof"),
        F.round(
            F.sum(F.col("t").cast("decimal(24,10)")).cast("double"), 6
        ).alias("chi2"),
    )


def _seq_patterns() -> list[str]:
    initials = ["c", "e", "p", "s", "v"]  # click error purchase signup view
    return [a + b + c for a in initials for b in initials for c in initials]


@query(
    "users_frequent_type_sequences",
    oracle=f"""
    WITH seqs AS MATERIALIZED (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    ), pats AS (
      SELECT unnest([{", ".join(repr(p) for p in _seq_patterns())}]) AS pat
    ), sup AS (
      SELECT p.pat,
             SUM(CASE WHEN regexp_matches(s.s,
                   substr(p.pat, 1, 1) || '.*' || substr(p.pat, 2, 1)
                   || '.*' || substr(p.pat, 3, 1))
                 THEN 1 ELSE 0 END) AS support
      FROM pats p CROSS JOIN seqs s
      GROUP BY p.pat
    )
    SELECT pat AS pattern, CAST(support AS BIGINT) AS n_users,
           ROUND(CAST(support AS DOUBLE)
                 / (SELECT COUNT(*) FROM seqs), 4) AS support_frac
    FROM sup
    ORDER BY n_users DESC, pattern LIMIT 20
    """,
)
def users_frequent_type_sequences(spark, sf_dir):
    """Frequent length-3 event-type SUBSEQUENCES (PrefixSpan-style
    support counting): for each of the 125 ordered type triples, how
    many users exhibit it somewhere in their time-ordered event stream —
    not necessarily adjacent, which is what separates sequential-pattern
    support from the adjacent-only transition matrix
    (events_type_transitions).  Each user's stream compresses to a
    type-initial string ONCE (one groupBy with an ordered aggregation);
    subsequence containment is then a fixed regex a.*b.*c per pattern
    against the broadcast 125-pattern relation — corpus work is one
    pass, pattern work is |users| x 125 boolean matches, all integer
    counting."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    seqs = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
                    )
                ),
                lambda x: F.substring(x["event_type"], 1, 1),
            ),
        ).alias("s")
    )
    n_users = seqs.count()
    pats = spark.createDataFrame([(p,) for p in _seq_patterns()], "pat string")
    sup = (
        seqs.crossJoin(F.broadcast(pats))
        .select(
            "pat",
            F.when(
                F.regexp_like(
                    F.col("s"),
                    F.concat(
                        F.substring("pat", 1, 1),
                        F.lit(".*"),
                        F.substring("pat", 2, 1),
                        F.lit(".*"),
                        F.substring("pat", 3, 1),
                    ),
                ),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("pat")
        .agg(F.sum("hit").alias("support"))
    )
    return (
        sup.select(
            F.col("pat").alias("pattern"),
            F.col("support").cast("long").alias("n_users"),
            F.round(F.col("support").cast("double") / n_users, 4).alias(
                "support_frac"
            ),
        )
        .orderBy(F.desc("n_users"), "pattern")
        .limit(20)
    )


def _markov_oracle_sql(n_iters: int = 8) -> str:
    """Transition counts + quantized power iteration unrolled as CTEs."""
    its = []
    prev = "x0"
    for k in range(n_iters):
        its.append(f"""
    x{k+1} AS MATERIALIZED (
      SELECT t.next_type AS event_type,
             CAST(ROUND(SUM(CAST(ROUND(x.p * CAST(t.n AS DOUBLE)
                                       / CAST(rs.n AS DOUBLE), 12)
                                 AS DECIMAL(20,12))), 12) AS DOUBLE) AS p
      FROM trans t
      JOIN {prev} x ON x.event_type = t.event_type
      JOIN rowsum rs ON rs.event_type = t.event_type
      GROUP BY t.next_type
    )""")
        prev = f"x{k+1}"
    return f"""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS next_type
      FROM events WHERE user_id IS NOT NULL
    ), trans AS MATERIALIZED (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM o WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), rowsum AS MATERIALIZED (
      SELECT event_type, SUM(n) AS n FROM trans GROUP BY 1
    ), emp AS (
      SELECT next_type AS event_type,
             CAST(SUM(n) AS DOUBLE)
               / (SELECT CAST(SUM(n) AS DOUBLE) FROM trans) AS f
      FROM trans GROUP BY 1
    ), x0 AS (
      SELECT event_type,
             ROUND(1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM rowsum), 12) AS p
      FROM rowsum
    ),{",".join(its)}
    SELECT x.event_type,
           ROUND(CAST(x.p AS DOUBLE), 9) AS stationary,
           ROUND(e.f, 9) AS empirical_freq,
           ROUND(abs(CAST(x.p AS DOUBLE) - e.f), 9) AS abs_gap
    FROM {prev} x JOIN emp e ON e.event_type = x.event_type
    ORDER BY x.event_type
    """


@query(
    "events_type_markov_stationary",
    oracle=_markov_oracle_sql(8),
)
def events_type_markov_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain — the
    first WEIGHTED-graph iteration in the engine (PageRank/PPR/LPA are
    unweighted): transition probabilities c_ab/c_a drive a quantized
    power iteration from the uniform vector, 8 steps, with the
    round-then-DECIMAL recipe making the recurrence replayable as
    unrolled SQL CTEs.  Reported next to the EMPIRICAL long-run type
    frequency — for an ergodic chain the two converge, so the gap
    column is a built-in sanity check on both the chain estimate and
    the iteration count (observed <= ~1e-3 on this corpus).  All state
    is |types|-sized; the only corpus work is the one windowed
    transition count."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(truncate_lineage, eager=True)  # tiny (|types|^2); read 8+2 times
    )
    rowsum = trans.groupBy("event_type").agg(F.sum("n").alias("rn"))
    total = trans.agg(F.sum("n").cast("double").alias("tot"))
    emp = (
        trans.groupBy(F.col("next_type").alias("event_type"))
        .agg(F.sum("n").alias("cn"))
        .crossJoin(F.broadcast(total))
        .select("event_type", (F.col("cn").cast("double") / F.col("tot")).alias("f"))
    )
    n_states = rowsum.count()
    x = rowsum.select(
        "event_type", F.round(F.lit(1.0 / n_states), 12).alias("p")
    )
    for _ in range(8):
        x = (
            trans.join(x, "event_type")
            .join(rowsum, "event_type")
            .select(
                F.col("next_type"),
                F.round(
                    F.col("p") * F.col("n").cast("double") / F.col("rn").cast("double"),
                    12,
                )
                .cast("decimal(20,12)")
                .alias("c"),
            )
            .groupBy(F.col("next_type").alias("event_type"))
            .agg(F.round(F.sum("c"), 12).cast("double").alias("p"))
        )
    return (
        x.join(emp, "event_type")
        .select(
            "event_type",
            F.round("p", 9).alias("stationary"),
            F.round("f", 9).alias("empirical_freq"),
            F.round(F.abs(F.col("p") - F.col("f")), 9).alias("abs_gap"),
        )
        .orderBy("event_type")
    )


@query(
    "docs_weighted_reservoir_topk",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars,
             ln(CAST(('0x' || substr(md5('res:' || doc_id), 1, 10))::BIGINT + 1
                     AS DOUBLE) / CAST(1099511627776 AS DOUBLE))
               / CAST(n_chars AS DOUBLE) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           ROUND(k, 9) AS selection_key,
           CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS BIGINT) AS rank
    FROM d QUALIFY rank <= 50 ORDER BY rank
    """,
)
def docs_weighted_reservoir_topk(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement: a
    FIXED-SIZE 50-doc sample with inclusion probability proportional to
    document weight (n_chars here), via key = ln(u)/w with u a
    content-free md5 uniform — the exact-budget companion to the
    Bernoulli acceptance sampler (docs_quality_weighted_sample), which
    cannot promise a sample size.  The A-ES key is mergeable top-k
    state: per-partition top-50 heaps union associatively, so the plan
    is one scan + TakeOrdered (no sort exchange), identical at any
    parallelism, and a distributed reservoir refresh is just re-running
    the same deterministic expression.  u = (h40+1)/2^40 is exact
    integer arithmetic until one division; ln and the weight division
    are single IEEE ops replayed identically by the oracle."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h40 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("res:"), F.col("doc_id").cast("string"))), 1, 10
        ),
        16,
        10,
    ).cast("long")
    k = F.log(
        (h40 + F.lit(1)).cast("double") / F.lit(1099511627776.0)
    ) / F.col("n_chars").cast("double")
    d = docs.select("doc_id", F.col("n_chars").cast("long").alias("weight"), k.alias("k"))
    # TakeOrdered keeps the top-k merge distributed (per-partition heaps);
    # the rank window then runs over the 50-row result only
    top = d.orderBy(F.desc("k"), F.asc("doc_id")).limit(50)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "doc_id",
            "weight",
            F.round("k", 9).alias("selection_key"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


@query(
    "customers_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT o_custkey, MIN(year(CAST(o_orderdate AS DATE))) AS cohort
      FROM orders GROUP BY 1
    ), r AS (
      SELECT f.cohort,
             year(CAST(o.o_orderdate AS DATE)) - f.cohort AS age,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_cents,
             COUNT(DISTINCT o.o_custkey) AS active_customers
      FROM orders o JOIN f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ), sz AS (
      SELECT cohort, COUNT(*) AS n FROM f GROUP BY 1
    )
    SELECT r.cohort AS cohort, CAST(r.age AS BIGINT) AS age,
           CAST(sz.n AS BIGINT) AS cohort_size,
           CAST(r.active_customers AS BIGINT) AS active_customers,
           CAST(r.rev_cents AS DOUBLE) / 100.0 AS revenue,
           ROUND(CAST(SUM(r.rev_cents) OVER (
                   PARTITION BY r.cohort ORDER BY r.age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 100.0 / sz.n, 2) AS cum_ltv_per_customer
    FROM r JOIN sz ON sz.cohort = r.cohort
    ORDER BY r.cohort, age
    """,
)
def customers_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value triangle: customers grouped by
    first-order year, revenue accumulated by cohort age — the
    cumulative-LTV-per-customer curve finance reads off the diagonal
    (young cohorts have short rows; comparing columns at equal age is
    the like-for-like growth check).  The revenue companion to the
    event-level user_retention_cohorts.  Cents-exact sums throughout;
    the cumulative window runs per cohort over the cohort x age
    relation (years x years rows); two fact-sized aggregations total."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.to_date("o_orderdate"))
    f = o.groupBy("o_custkey").agg(F.min(yr).alias("cohort"))
    r = (
        o.join(f, "o_custkey")
        .groupBy("cohort", (yr - F.col("cohort")).alias("age"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )
    sz = f.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        r.join(sz, "cohort")
        .select(
            "cohort",
            F.col("age").cast("long").alias("age"),
            F.col("n").cast("long").alias("cohort_size"),
            F.col("active_customers").cast("long").alias("active_customers"),
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
            F.round(
                F.sum("rev_cents").over(w).cast("double") / 100.0 / F.col("n"), 2
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort", "age")
    )


@query(
    "events_conversion_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS vt
      FROM events WHERE user_id IS NOT NULL AND event_type = 'view'
      GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS pt
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= v.vt
      GROUP BY 1
    ), lat AS (
      SELECT p.user_id, epoch_us(p.pt) - epoch_us(v.vt) AS us
      FROM p JOIN v USING (user_id)
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM v), 4) AS conversion_rate,
           ROUND(quantile_cont(us, 0.5) / 1000000.0, 3) AS p50_seconds,
           ROUND(quantile_cont(us, 0.9) / 1000000.0, 3) AS p90_seconds
    FROM lat
    """,
)
def events_conversion_latency(spark, sf_dir):
    """View-to-purchase conversion latency: for each user, microseconds
    from their FIRST view to their first purchase at-or-after it, with
    the median and P90 computed by the exact distributed quantile
    machinery (operators.ranking.exact_quantiles — quantile_cont
    interpolation semantics, no global sort) — the time-to-convert
    curve growth teams read next to the conversion rate.  Latencies are
    exact integer microseconds until the final interpolation; two
    per-user aggs and one key join are the only corpus-sized work."""
    from prod_data_pipeline_spark.operators.ranking import exact_quantiles
    from prod_data_pipeline_spark.session import truncate_lineage

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # per-user first-view is SLIM (|users| rows) but feeds THREE
    # consumers (the purchase join, the latency join, the viewer count);
    # cut lineage so its corpus agg runs once instead of replaying the
    # events scan per consumer (r16 census: 6 scans -> 2)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
        .transform(truncate_lineage, eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    # one-column converted-user relation, consumed by the count and the
    # quantile operator
    lat = p.join(v, "user_id").select(
        (F.unix_micros("pt") - F.unix_micros("vt")).alias("us")
    ).transform(truncate_lineage, eager=False)
    n_viewers = v.count()
    n_conv = lat.count()
    q = exact_quantiles(lat, "us", {"p50": 0.5, "p90": 0.9})
    return q.agg(
        F.lit(n_viewers).cast("long").alias("n_viewers"),
        F.lit(n_conv).cast("long").alias("n_converted"),
        F.round(F.lit(n_conv).cast("double") / F.lit(n_viewers), 4).alias(
            "conversion_rate"
        ),
        F.round(
            F.max(F.when(F.col("qname") == "p50", F.col("quantile"))) / 1000000.0, 3
        ).alias("p50_seconds"),
        F.round(
            F.max(F.when(F.col("qname") == "p90", F.col("quantile"))) / 1000000.0, 3
        ).alias("p90_seconds"),
    )


@query(
    "docs_containment_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents
    ), t2 AS MATERIALIZED (
      SELECT doc_id, toks FROM t WHERE len(toks) >= 10
    ), tok AS (
      SELECT doc_id, unnest(toks) AS token, len(toks) AS sz FROM t2
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), ranked AS (
      SELECT doc_id, token, sz,
             row_number() OVER (PARTITION BY doc_id ORDER BY df, token) AS rn
      FROM tok JOIN dfreq USING (token)
    ), prefix AS (
      SELECT doc_id AS id_a, token, sz AS sz_a FROM ranked
      WHERE rn <= sz - ((95 * sz + 99) // 100) + 1
    ), cand AS (
      SELECT DISTINCT p.id_a, b.doc_id AS id_b
      FROM prefix p JOIN tok b ON b.token = p.token
      WHERE p.id_a <> b.doc_id AND b.sz >= 2 * p.sz_a
    ), v AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(ta.toks, tb.toks)) AS inter,
             len(ta.toks) AS sz_a
      FROM cand c
      JOIN t2 ta ON ta.doc_id = c.id_a
      JOIN t2 tb ON tb.doc_id = c.id_b
    )
    SELECT id_a AS id_small, id_b AS id_container,
           CAST(inter AS BIGINT) AS inter,
           ROUND(CAST(inter AS DOUBLE) / sz_a, 4) AS containment
    FROM v WHERE 100 * inter >= 95 * sz_a
    ORDER BY id_small, id_container
    """,
)
def docs_containment_pairs(spark, sf_dir):
    """EXACT asymmetric containment join at 95% with a 2x container
    size bound (operators.dedup.containment_pairs): pairs where >= 95%
    of the smaller document's distinct tokens occur in a >= 2x-larger
    container — the
    quote/excerpt relationship symmetric Jaccard structurally misses
    (an excerpt inside a long page has Jaccard ~0 but containment ~1),
    and the whole-doc companion to span-level substring dedup.  The
    prefix filter is one-sided (pigeonhole on the contained doc's
    rarest tokens), the size bound and membership are all-integer, so
    both engines agree on the exact pair set."""
    from prod_data_pipeline_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold_pct=95).orderBy(
        "id_small", "id_container"
    )


_BM25_TERMS = ("merge", "stream", "hash")


@query(
    "docs_bm25_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), d AS MATERIALIZED (
      SELECT doc_id, toks, len(toks) AS dl FROM t WHERE len(toks) > 0
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM d
    ), q AS (
      SELECT unnest(['merge', 'stream', 'hash']) AS term
    ), dfreq AS (
      SELECT q.term,
             CAST(COUNT(*) AS DOUBLE) AS df
      FROM q JOIN d ON list_contains(d.toks, q.term)
      GROUP BY q.term
    ), idf AS (
      SELECT term,
             ROUND(ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0), 12)
                 AS idf
      FROM dfreq
    ), tf AS (
      SELECT d.doc_id, d.dl, q.term,
             CAST(len(list_filter(d.toks, x -> x = q.term)) AS DOUBLE) AS tf
      FROM d CROSS JOIN q
      WHERE list_contains(d.toks, q.term)
    ), contrib AS (
      SELECT tf.doc_id,
             ROUND(idf.idf * ((tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75
                      * (CAST(tf.dl AS DOUBLE) / (SELECT avgdl FROM stats))))),
                   9) AS c
      FROM tf JOIN idf ON idf.term = tf.term
    )
    SELECT doc_id,
           ((CAST(SUM(CAST(FLOOR(c * 1000000000.0 + 0.5) AS BIGINT))
                            AS BIGINT) + 500) // 1000) / 1000000.0
               AS bm25
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def docs_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    the lexical scoring half of hybrid search, complementing the dense
    side (emb_topk_bruteforce / emb_rrf_topk / emb_mmr_rerank): tf from
    the posting relation, idf from one document-frequency agg, length
    normalization against the corpus average.  The float chain per
    (doc, term) is a fixed sequence of IEEE ops on integer-derived
    doubles (0.25/0.75 are binary-exact literals), each contribution
    rounds to 9 and sums as an exact int64 numerator (round-11 dsum
    sweep; the 6-digit report is integer half-up on the numerator —
    contributions are non-negative), so the DuckDB oracle replays the
    ranking bit-for-bit with no BigDecimal in the score agg.  Shuffles: one df agg + one per-doc score
    agg — posting-list-sized, and only for the query's terms."""
    docs = _t(spark, sf_dir, "documents")
    from prod_data_pipeline_spark.functions.text import tokens

    d = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    d = d.withColumn("dl", F.size("toks"))
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    hit = d.crossJoin(F.broadcast(qterms)).filter(
        F.array_contains("toks", F.col("term"))
    )
    dfreq = hit.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 12
        ).alias("idf"),
    )
    tf = hit.select(
        "doc_id",
        "dl",
        "term",
        F.size(F.filter("toks", lambda x: x == F.col("term"))).cast("double").alias("tf"),
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (
                    (F.col("tf") * 2.2)
                    / (
                        F.col("tf")
                        + 1.2
                        * (0.25 + 0.75 * (F.col("dl").cast("double") / F.col("avgdl")))
                    )
                ),
                9,
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum(F.floor(F.col("c") * F.lit(1e9) + F.lit(0.5))).alias("n9")
        )
        .select(
            "doc_id",
            (
                F.expr("(n9 + 500L) div 1000")
                / F.lit(1000000.0)
            ).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@query(
    "docs_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {near_dup_pairs_sql(0.5)}, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), walk AS (
      SELECT src, dst AS reach FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ), comp AS (
      SELECT src AS doc_id, least(src, MIN(reach)) AS cluster_id
      FROM walk GROUP BY src
    ), assigned AS MATERIALIZED (
      SELECT t.doc_id, len(t.toks) AS n_tokens,
             COALESCE(comp.cluster_id, t.doc_id) AS cluster_id,
             CASE
               WHEN ('0x' || substr(md5('lsplit:'
                       || COALESCE(comp.cluster_id, t.doc_id)), 1, 10))::BIGINT
                    % 100 < 80 THEN 'train'
               WHEN ('0x' || substr(md5('lsplit:'
                       || COALESCE(comp.cluster_id, t.doc_id)), 1, 10))::BIGINT
                    % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
      FROM t LEFT JOIN comp ON comp.doc_id = t.doc_id
    ), leak AS (
      SELECT COUNT(*) AS n FROM pairs p
      JOIN assigned a ON a.doc_id = p.id_a
      JOIN assigned b ON b.doc_id = p.id_b
      WHERE a.split <> b.split
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST((SELECT n FROM leak) AS BIGINT) AS n_cross_split_dup_pairs
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def docs_leakage_safe_split(spark, sf_dir):
    """LEAKAGE-SAFE train/val/test split: the 80/10/10 hash split is
    assigned per near-dup CLUSTER (transitive LSH components; singletons
    are their own cluster), not per document — so a near-duplicate of a
    training doc can never land in val/test, the eval-contamination
    failure mode a plain per-doc split (docs_train_val_test_split)
    cannot rule out.  The output carries its own proof: the
    n_cross_split_dup_pairs column counts verified near-dup pairs whose
    endpoints straddle splits, and is 0 BY CONSTRUCTION — an engine or
    clustering bug would surface as a nonzero count before any hash
    mismatch.  Cluster ids come from the same min-label components the
    curation pipeline uses; the split hash is content-free md5 on the
    cluster representative (retry-safe, no rand())."""
    from prod_data_pipeline_spark.operators.corpus import dup_clusters
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, threshold=0.5, sort=False, materialize=True)
    comp = dup_clusters(pairs)
    base = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    assigned = (
        base.join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
        .withColumn(
            "h",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("lsplit:"), F.col("cluster_id").cast("string"))),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("long")
            % 100,
        )
        .withColumn(
            "split",
            F.when(F.col("h") < 80, "train")
            .when(F.col("h") < 90, "val")
            .otherwise("test"),
        )
        .transform(truncate_lineage, eager=True)
    )
    a = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    n_leak = (
        pairs.join(a, "id_a").join(b, "id_b").filter(F.col("sa") != F.col("sb")).count()
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_tokens",
            F.lit(n_leak).cast("long").alias("n_cross_split_dup_pairs"),
        )
        .orderBy("split")
    )


