"""Query registrations (chunk 3/5 of the former monolithic
plans/queries.py — split round 10, registration order preserved:
plans/queries.py imports the chunks in original file order).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Window
from pyspark.sql import functions as F

from prod_data_pipeline_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH
from prod_data_pipeline_spark.session import truncate_lineage

from prod_data_pipeline_spark.plans.query_registry import (
    _COS_SQL,
    _TOKS_SQL,
    _t,
    cms_bucket_sql,
    cms_cells_sql,
    dnum,
    dsum,
    int40_cov_sql,
    near_dup_pairs_sql,
    num_to_double,
    query,
    shingles_sql,
)

# ---------------------------------------------------------------------------
# Round 5: the four remaining TPC-H shapes — Q2/Q5/Q11/Q20 — completing all
# 22.  The testdata has no partsupp table, so Q2/Q11/Q20 derive the
# part-supplier relation from lineitem (l_partkey, l_suppkey), preserving
# each query's defining operator shape (correlated MIN, scalar-subquery
# HAVING, nested semi-join chain) rather than its exact catalog.
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2
    ), eu AS (
      SELECT ps.partkey, ps.suppkey, ps.unit_cost,
             s.s_name, s.s_acctbal, n.n_name
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ), best AS (
      SELECT partkey, MIN(unit_cost) AS min_cost FROM eu GROUP BY 1
    )
    SELECT CAST(e.s_acctbal AS DOUBLE) AS s_acctbal, e.s_name,
           e.n_name AS nation, p.p_partkey, p.p_name
    FROM eu e
    JOIN best b ON b.partkey = e.partkey AND e.unit_cost = b.min_cost
    JOIN part p ON p.p_partkey = e.partkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, nation, s_name, p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for every size-15 STANDARD part, the EUROPE supplier
    offering the minimum unit cost.  No partsupp table exists, so the
    supply relation is derived as MIN(l_extendedprice/l_quantity) per
    (l_partkey, l_suppkey) — the correlated-MIN subquery of the spec is
    decorrelated into a per-part groupBy-min joined back on (partkey,
    unit_cost).  Unit cost stays a raw IEEE double end-to-end (one
    division, one MIN — both engines produce identical bits; no rounding
    ever decides the match).  At 100 TB the ps aggregation shuffles
    (partkey, suppkey) once; supplier/nation/region broadcast; the
    per-part minimum is a whole-partition window over the slim eu
    relation — ONE partkey exchange, no groupBy+self-join (the former
    decorrelated-join form consumed eu twice, replaying the lineitem agg
    and every broadcast: 9 scans, r16 census; the window form reads each
    table once and keeps min-cost ties exactly as the equality join
    did)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        ps.join(F.broadcast(s), ps.suppkey == s.s_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .select("partkey", "suppkey", "unit_cost", "s_name", "s_acctbal", "n_name")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    return (
        eu.withColumn(
            "min_cost", F.min("unit_cost").over(Window.partitionBy("partkey"))
        )
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("partkey") == p.p_partkey)
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_name",
        )
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY revenue DESC, nation
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 (full fidelity — every column exists): revenue by nation
    for orders where customer and supplier share the nation, region-
    filtered.  The local-supplier condition (s_nationkey = c_nationkey)
    rides the broadcast supplier join as an extra predicate, so the only
    shuffle is the orders-lineitem orderkey exchange; the date filter
    prunes orders before that shuffle and region/nation prune the
    broadcast build sides.  Exact decimal revenue, double at the end."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@query(
    "q11_important_part_value",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey AS p_partkey,
             CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS vn
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY 1
    )
    SELECT p_partkey, CAST(vn AS DOUBLE) / 10000.0 AS part_value
    FROM val
    WHERE vn * 500 > (SELECT SUM(vn) FROM val)
    ORDER BY part_value DESC, p_partkey
    """,
)
def q11_important_part_value(spark, sf_dir):
    """TPC-H Q11 shape: parts whose traded value through NATION_3
    suppliers exceeds 1/500 of that nation's total (partsupp's
    availqty*supplycost is modeled as lineitem revenue per part).  The
    defining operator — a scalar aggregate subquery in the HAVING — is
    decorrelated as a one-row broadcast cross join against the per-part
    values.  The threshold test is exact: per-part int64 revenue
    numerators (dnum), the global total an int64 sum of those, and an
    integer comparison (vn*500 > total) — no float ever decides
    membership.  One fact shuffle on l_partkey; the one-row total
    broadcasts.

    The per-part relation is localCheckpoint'd (lazy) before it forks
    into the total branch and the filter branch: without it Catalyst
    re-derives both branches from the scan and the fact table is read
    TWICE (AQE's ReuseExchange does not fire here — the grouping branches
    canonicalize differently).  The checkpoint materializes only the
    per-part aggregates (bounded by |parts|, not |lineitem|), which is
    the cheap side of that trade at any scale; cf. SCALE.md "cache
    lifecycle" policy."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(dnum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("vn"))
    )
    val = val.transform(truncate_lineage, eager=False)
    total = val.agg(F.sum("vn").alias("total"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("vn") * 500 > F.col("total"))
        .select("p_partkey", num_to_double(F.col("vn"), 4).alias("part_value"))
        .orderBy(F.desc("part_value"), "p_partkey")
    )


@query(
    "q20_promotable_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l.l_suppkey, l.l_partkey,
             (CAST(CAST(SUM(CAST(FLOOR((l.l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'red%'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    )
    SELECT s.s_name, n.n_name AS nation, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 40)
    ORDER BY s_name
    """,
)
def q20_promotable_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: EUROPE suppliers who shipped more than 40 units
    of some 'red…' part in 1997 — the spec's nested semi-join chain
    (supplier IN (… agg over part-name-filtered lineitem HAVING …)),
    with the availqty threshold modeled as a fixed quantity bound since
    partsupp does not exist.  The inner aggregate groups by (suppkey,
    partkey) exactly as the spec correlates per part; quantities sum as
    exact long numerators (dsum) so the threshold gate is engine-stable.  Part broadcast-prunes lineitem
    before its one shuffle; the surviving supplier keys flow into a LEFT
    SEMI join — duplicates never materialize."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    shipped = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .join(shipped, shipped.l_suppkey == s.s_suppkey, "left_semi")
        .select("s_name", F.col("n_name").alias("nation"), F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Round 5: semantic dedup (SemDeDup) and incremental cross-snapshot dedup —
# the two remaining standard LLM-corpus curation primitives.
# ---------------------------------------------------------------------------


@query(
    "emb_semdedup_stats",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), pruned AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ROUND({_COS_SQL.format(a="a.e", b="b.e")}, 4) >= 0.3
    )
    SELECT v.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pruned,
           CAST(SUM(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           ROUND(CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS pruned_frac
    FROM v LEFT JOIN pruned p ON p.vec_id = v.vec_id
    GROUP BY v.label ORDER BY v.label
    """,
)
def emb_semdedup_stats(spark, sf_dir):
    """SemDeDup audit (operators.similarity.semdedup): per semantic
    cluster (label), how many embeddings the dominated-id cosine rule
    prunes at threshold 0.3.  The kept relation is recomputed as a
    left-anti join against the dominated ids; stats come from one tiny
    per-label agg of (all, kept).  Pairs are label-blocked — never
    corpus x corpus — and the cosine compare is the proven
    round-to-4-then-threshold recipe, so the pruned SET (not just its
    size) is engine-reproducible."""
    from prod_data_pipeline_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    kept = semdedup(emb, threshold=0.3, block_cols=("label",)).select(
        "vec_id", F.lit(1).alias("_kept")
    )
    return (
        emb.join(kept, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.when(F.col("_kept").isNull(), 1).otherwise(0)).cast("long").alias("n_pruned"),
            F.sum(F.when(F.col("_kept").isNotNull(), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.round(
                F.sum(F.when(F.col("_kept").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("pruned_frac"),
        )
        .orderBy("label")
    )


@query(
    "docs_incremental_dedup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS sn,
             md5(array_to_string(list_slice({_TOKS_SQL}, 1, 12), ' ')) AS fp
      FROM documents
    ), snap AS (
      SELECT DISTINCT fp FROM d WHERE sn < 10
    ), batch AS (
      SELECT doc_id, source, fp FROM d WHERE sn >= 10
    ), firsts AS (
      SELECT fp, MIN(doc_id) AS first_id FROM batch GROUP BY fp
    ), flagged AS (
      SELECT b.source,
             CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_snapshot,
             CASE WHEN b.doc_id > f.first_id THEN 1 ELSE 0 END AS dup_batch
      FROM batch b
      LEFT JOIN snap s ON s.fp = b.fp
      JOIN firsts f ON f.fp = b.fp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dup_snapshot) AS BIGINT) AS n_dup_snapshot,
           CAST(SUM(dup_batch) AS BIGINT) AS n_dup_batch,
           CAST(SUM(CASE WHEN dup_snapshot = 0 AND dup_batch = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ingested
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def docs_incremental_dedup(spark, sf_dir):
    """Incremental ingestion dedup (operators.dedup.incremental_dedup):
    sources src10..src19 arrive as the nightly batch and are deduped
    against the already-ingested snapshot (src0..src9) WITHOUT re-reading
    snapshot text — only its fingerprint relation joins.  The key is a
    12-leading-token md5 fingerprint (boilerplate-prefix dedup — catches
    template reuse that whole-text digests miss; the testdata has no
    byte-exact dups at sf<=0.01, and this key keeps the check
    non-trivial).  Kept-first rule inside the batch via per-key MIN(id),
    no sort, no window over the corpus.  All joins are key-partitioned;
    shuffle ∝ unique fingerprints."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens
    from prod_data_pipeline_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(_tokens(F.col("text")), 1, 12)))
    sn = F.substring(F.col("source"), 4, 10).cast("int")
    d = docs.select("doc_id", "source", sn.alias("sn"), fp.alias("fp"))
    snapshot = d.filter(F.col("sn") < 10)
    batch = d.filter(F.col("sn") >= 10).select("doc_id", "source", "fp")
    flagged = incremental_dedup(batch, snapshot, key_col="fp", id_col="doc_id")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dup_snapshot").cast("long").alias("n_dup_snapshot"),
            F.sum("dup_batch").cast("long").alias("n_dup_batch"),
            F.sum(
                F.when((F.col("dup_snapshot") == 0) & (F.col("dup_batch") == 0), 1).otherwise(0)
            ).cast("long").alias("n_ingested"),
        )
        .orderBy("source")
    )


@query(
    "events_value_mad_outliers",
    oracle="""
    WITH ev AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med FROM ev GROUP BY 1
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
      FROM ev e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           ROUND(ANY_VALUE(d.med), 6) AS med,
           ROUND(ANY_VALUE(a.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           ROUND(CAST(SUM(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS outlier_frac
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def events_value_mad_outliers(spark, sf_dir):
    """Robust outlier detection per event type: median/MAD z-score (the
    P99 outlier query's mean/stddev cousin that heavy tails cannot
    poison).  Both medians come from operators.ranking.exact_quantiles —
    bucketed exact ranking, parallel at any scale, never F.percentile's
    whole-group buffering — so the med/MAD values equal quantile_cont
    bit-for-bit and the 3·MAD gate is a deterministic double compare.
    Inherently a two-pass algorithm (MAD needs the median first); each
    pass is one bounded-shuffle quantile job plus a broadcast of the tiny
    per-type threshold relation onto the fact stream."""
    from prod_data_pipeline_spark.operators.ranking import exact_quantiles

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = (
        exact_quantiles(ev, "value", {"med": 0.5}, by=["event_type"])
        .select("event_type", F.col("quantile").alias("med"))
    )
    # `dev` feeds both the second quantile pass and the final rollup —
    # the cut keeps the median chain from replaying per consumer
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("value") - F.col("med")))
        .transform(truncate_lineage, eager=False)
    )
    mad = (
        exact_quantiles(
            dev.select("event_type", "dev"), "dev", {"mad": 0.5}, by=["event_type"]
        )
        .select("event_type", F.col("quantile").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.round(
                F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("outlier_frac"),
        )
        .orderBy("event_type")
    )


@query(
    "emb_matryoshka_energy",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), nz AS (
      SELECT vec_id, e FROM v
      WHERE list_sum(list_transform(range(1, len(e)+1), i -> e[i] * e[i])) > 0
    ), r AS (
      SELECT vec_id, k,
             ROUND(
               list_sum(list_transform(range(1, k+1), i -> e[i] * e[i]))
               / list_sum(list_transform(range(1, len(e)+1), i -> e[i] * e[i])),
               6) AS energy
      FROM nz, (VALUES (8), (16), (32), (64)) t(k)
    )
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST((CAST(CAST(SUM(CAST(FLOOR((energy) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS DOUBLE) / COUNT(*)
               AS avg_energy,
           MIN(energy) AS min_energy
    FROM r GROUP BY k ORDER BY k
    """,
)
def emb_matryoshka_energy(spark, sf_dir):
    """Matryoshka-truncation audit (Kusupati et al. 2022, MRL): how much
    of each embedding's squared-norm energy the first k dimensions carry
    — cos(full, k-prefix) equals sqrt(energy_k), so this table IS the
    expected retrieval-quality loss from serving truncated vectors.  Both
    sums are in-order folds over the double-cast vector (the proven
    _COS_SQL determinism recipe), the per-vector ratio is rounded to 6
    before the corpus mean, and the mean itself is an exact DECIMAL sum —
    order-independent at any parallelism.  One scan, 4 fold projections
    per row, one |k|-row agg; no shuffle carries vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    full = F.aggregate(F.col("e"), F.lit(0.0), lambda a, x: a + x * x)
    # zero-norm guard: a zero vector would make every ratio 0/0 = NaN,
    # which Spark and DuckDB cast differently (NULL-skip vs error) — the
    # same divergence emb_quantization_error guards against.  Exclude
    # zero vectors identically on both sides instead.
    v = emb.select("vec_id", e.alias("e")).filter(full > 0)
    ks = [8, 16, 32, 64]
    r = v.select(
        "vec_id",
        full.alias("full_energy"),
        *[
            F.aggregate(F.slice(F.col("e"), 1, k), F.lit(0.0), lambda a, x: a + x * x).alias(
                f"pre_{k}"
            )
            for k in ks
        ],
    )
    stacked = r.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.round(F.col(f"pre_{k}") / F.col("full_energy"), 6).alias(
                            "energy"
                        ),
                    )
                    for k in ks
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.k").alias("k"), F.col("s.energy").alias("energy"))
    return (
        stacked.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (dsum("energy", 6) / F.count(F.lit(1))).alias("avg_energy"),
            F.min("energy").alias("min_energy"),
        )
        .orderBy("k")
    )


@query(
    "parts_fuzzy_name_matches",
    oracle="""
    WITH n AS (
      SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           CAST(a.n_parts AS BIGINT) AS parts_a,
           CAST(b.n_parts AS BIGINT) AS parts_b
    FROM n a JOIN n b
      ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
     AND a.p_name < b.p_name
     AND abs(len(a.p_name) - len(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """,
)
def parts_fuzzy_name_matches(spark, sf_dir):
    """Fuzzy entity resolution over the part-name catalog
    (operators.joins.blocked_levenshtein_pairs): near-identical names
    within edit distance 3, prefix-blocked with a lossless length band —
    the record-linkage cousin of the text near-dup family (typo'd SKUs /
    vendor name variants).  The join runs on the DISTINCT name relation,
    never the fact table; Levenshtein is an integer both engines define
    identically, so the match set is exact.  Per-name part counts ride
    along so downstream merge decisions know the blast radius."""
    from prod_data_pipeline_spark.operators.joins import blocked_levenshtein_pairs

    parts = _t(spark, sf_dir, "part")
    catalog = parts.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    return (
        blocked_levenshtein_pairs(
            catalog, "p_name", max_dist=3, block_prefix=1, extra_cols=("n_parts",)
        )
        .select(
            "name_a",
            "name_b",
            "edit_dist",
            F.col("n_parts_a").cast("long").alias("parts_a"),
            F.col("n_parts_b").cast("long").alias("parts_b"),
        )
        .orderBy("name_a", "name_b")
    )


@query(
    "docs_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, md5(text) AS digest, {_TOKS_SQL} AS toks FROM documents
    ), feat AS (
      SELECT doc_id, digest,
             len(toks) AS n,
             len(list_distinct(toks)) AS nd,
             CASE WHEN len(toks) >= 2
                  THEN len(list_transform(range(1, len(toks)),
                         i -> array_to_string(toks[i:i+1], ' ')))
                  ELSE 0 END AS ng,
             CASE WHEN len(toks) >= 2
                  THEN len(list_distinct(list_transform(range(1, len(toks)),
                         i -> array_to_string(toks[i:i+1], ' '))))
                  ELSE 0 END AS ngd,
             CASE WHEN len(toks) > 0
                  THEN CAST(ROUND(10000 * ROUND(
                         0.5 * least(len(toks) / 100.0, 1.0)
                         + 0.5 * (len(list_distinct(toks))
                                  / CAST(len(toks) AS DOUBLE)), 4)) AS BIGINT)
                  ELSE 0 END AS score_e4
      FROM t
    ), flags AS (
      SELECT doc_id,
             CASE WHEN n >= 20 THEN 1 ELSE 0 END AS p1,
             CASE WHEN n >= 20 AND 50 * (ng - ngd) <= 3 * ng THEN 1 ELSE 0 END AS p2,
             CASE WHEN n >= 20 AND 50 * (ng - ngd) <= 3 * ng AND score_e4 >= 5000
                  THEN 1 ELSE 0 END AS p3,
             CASE WHEN n >= 20 AND 50 * (ng - ngd) <= 3 * ng AND score_e4 >= 5000
                   AND doc_id = MIN(doc_id) OVER (PARTITION BY digest)
                  THEN 1 ELSE 0 END AS p4
      FROM feat
    ), agg AS (
      SELECT COUNT(*) AS s0, SUM(p1) AS s1, SUM(p2) AS s2,
             SUM(p3) AS s3, SUM(p4) AS s4
      FROM flags
    )
    SELECT stage, gate,
           CAST(n_in AS BIGINT) AS n_in,
           CAST(n_in - n_out AS BIGINT) AS n_failed,
           CAST(n_out AS BIGINT) AS n_out,
           ROUND(CAST(n_out AS DOUBLE) / s0, 6) AS cumulative_frac
    FROM agg, (VALUES (1, 'length'), (2, 'repetition'),
                      (3, 'quality'), (4, 'exact_dedup')) g(stage, gate),
    LATERAL (SELECT CASE stage WHEN 1 THEN s0 WHEN 2 THEN s1
                               WHEN 3 THEN s2 ELSE s3 END AS n_in,
                    CASE stage WHEN 1 THEN s1 WHEN 2 THEN s2
                               WHEN 3 THEN s3 ELSE s4 END AS n_out) v
    ORDER BY stage
    """,
)
def docs_filter_funnel(spark, sf_dir):
    """Curation attrition funnel: how many documents each quality gate
    removes, in pipeline order (length ≥ 20 tokens → duplicate-bigram
    fraction ≤ 0.06 → composite quality ≥ 0.5 → exact dedup kept-first) —
    the data-ablation accounting every corpus report publishes.  Every
    gate decision is ALL-INTEGER (50·(ng−ngd) ≤ 3·ng for the 0.06 repetition
    bound; the 4-decimal quality score scaled to score_e4 ≥ 5000; MIN id
    per digest), so engines cannot disagree on a single document.  One
    scan computes all per-doc features array-side (no explode); the only
    shuffles are the 16-byte digest window and a single-row global agg
    exploded into 4 gate rows."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    bigrams = F.when(
        F.size(F.col("toks")) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("toks")) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feat = docs.select(
        "doc_id", F.md5(F.col("text")).alias("digest"), toks.alias("toks")
    ).select(
        "doc_id",
        "digest",
        F.size("toks").alias("n"),
        F.size(F.array_distinct("toks")).alias("nd"),
        bigrams.alias("grams"),
        F.when(
            F.size("toks") > 0,
            F.round(
                F.lit(10000)
                * F.round(
                    F.lit(0.5) * F.least(F.size("toks") / F.lit(100.0), F.lit(1.0))
                    + F.lit(0.5)
                    * (
                        F.size(F.array_distinct("toks")).cast("double")
                        / F.size("toks").cast("double")
                    ),
                    4,
                ),
                0,
            ).cast("long"),
        )
        .otherwise(0)
        .alias("score_e4"),
    ).select(
        "doc_id",
        "digest",
        "n",
        "score_e4",
        F.size("grams").alias("ng"),
        F.size(F.array_distinct("grams")).alias("ngd"),
    )
    w = W.partitionBy("digest")
    flags = feat.select(
        (F.col("n") >= 20).cast("int").alias("p1"),
        ((F.col("n") >= 20) & (50 * (F.col("ng") - F.col("ngd")) <= 3 * F.col("ng")))
        .cast("int")
        .alias("p2"),
        (
            (F.col("n") >= 20)
            & (50 * (F.col("ng") - F.col("ngd")) <= 3 * F.col("ng"))
            & (F.col("score_e4") >= 5000)
        )
        .cast("int")
        .alias("p3"),
        (
            (F.col("n") >= 20)
            & (50 * (F.col("ng") - F.col("ngd")) <= 3 * F.col("ng"))
            & (F.col("score_e4") >= 5000)
            & (F.col("doc_id") == F.min("doc_id").over(w))
        )
        .cast("int")
        .alias("p4"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum("p1").alias("s1"),
        F.sum("p2").alias("s2"),
        F.sum("p3").alias("s3"),
        F.sum("p4").alias("s4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(g).alias("gate"),
                F.col(f"s{i}").cast("long").alias("n_in"),
                (F.col(f"s{i}") - F.col(f"s{i+1}")).cast("long").alias("n_failed"),
                F.col(f"s{i+1}").cast("long").alias("n_out"),
                F.round(F.col(f"s{i+1}").cast("double") / F.col("s0"), 6).alias(
                    "cumulative_frac"
                ),
            )
            for i, g in enumerate(["length", "repetition", "quality", "exact_dedup"])
        ]
    )
    return (
        agg.select(F.explode(stages).alias("r"))
        .select("r.stage", "r.gate", "r.n_in", "r.n_failed", "r.n_out", "r.cumulative_frac")
        .orderBy("stage")
    )


@query(
    "docs_distribution_shift",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS sn,
             {_TOKS_SQL} AS toks
      FROM documents
    ), g AS (
      SELECT source, sn,
             unnest({shingles_sql(distinct=False)}) AS gram
      FROM t
    ), snap_vocab AS (
      SELECT DISTINCT gram FROM g WHERE sn < 10
    ), batch AS (
      SELECT b.source, b.gram,
             CASE WHEN v.gram IS NULL THEN 1 ELSE 0 END AS novel
      FROM g b LEFT JOIN snap_vocab v ON v.gram = b.gram
      WHERE b.sn >= 10
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_gram_types,
           CAST(SUM(novel) AS BIGINT) AS n_novel_grams,
           CAST(COUNT(DISTINCT CASE WHEN novel = 1 THEN gram END) AS BIGINT)
               AS n_novel_types,
           ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty_rate
    FROM batch GROUP BY source ORDER BY source
    """,
)
def docs_distribution_shift(spark, sf_dir):
    """Cross-corpus distribution-shift audit: what fraction of the new
    batch's token TRIGRAMS (src10..19) never occur in the already-
    ingested snapshot (src0..9) — the drift tripwire run before mixing a
    new crawl into training data (a spiking novelty rate means new
    domain, template change, or scraper breakage; unigram OOV saturates
    at 0 on any closed vocabulary, so the pattern level carries the
    signal).  Membership is exact string equality — no floats anywhere
    until the final rate.  Shape: one distinct over snapshot gram TYPES
    (pattern-vocabulary-sized), left-joined onto the batch gram stream
    (AQE handles the heavy-tail skew exactly as in the unigram-LM
    scorer); per-source aggregation collapses map-side."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    sn = F.substring(F.col("source"), 4, 10).cast("int")
    toks = _tokens(F.col("text"))
    grams = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
                F.element_at(F.col("toks"), i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    t = (
        docs.select("source", sn.alias("sn"), toks.alias("toks"))
        .select("source", "sn", F.explode(grams).alias("gram"))
    )
    snap_vocab = (
        t.filter(F.col("sn") < 10).select("gram").distinct().withColumn("_in", F.lit(1))
    )
    batch = (
        t.filter(F.col("sn") >= 10)
        .join(snap_vocab, "gram", "left")
        .withColumn("novel", F.when(F.col("_in").isNull(), 1).otherwise(0))
    )
    return (
        batch.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gram").alias("n_gram_types"),
            F.sum("novel").cast("long").alias("n_novel_grams"),
            F.countDistinct(F.when(F.col("novel") == 1, F.col("gram"))).alias(
                "n_novel_types"
            ),
            F.round(F.sum("novel").cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty_rate"
            ),
        )
        .orderBy("source")
    )


@query(
    "docs_rag_chunk_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ), d AS (
      SELECT doc_id, source, len(toks) AS n FROM t WHERE len(toks) > 0
    ), per AS (
      SELECT doc_id, source, n,
             len(range(0, n, 24)) AS n_chunks,
             list_sum(list_transform(range(0, n, 24), s -> least(32, n - s)))
                 AS chunk_tokens,
             len(list_filter(range(0, n, 24), s -> n - s < 32)) AS n_short
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(chunk_tokens) AS BIGINT) AS total_chunk_tokens,
           CAST(SUM(n_short) AS BIGINT) AS n_short_chunks,
           ROUND(CAST(SUM(chunk_tokens) AS DOUBLE) / SUM(n), 6)
               AS expansion_ratio
    FROM per GROUP BY source ORDER BY source
    """,
)
def docs_rag_chunk_stats(spark, sf_dir):
    """Sliding-window RAG chunking audit (operators.packing.rag_chunks):
    windows of 32 tokens every 24 (8-token overlap), per-source chunk
    counts, token expansion from the overlap, and short-tail chunks.
    Chunk geometry is closed-form integer arithmetic — any engine
    recomputes the identical chunking from token counts alone.  The chunk
    relation is document-local (sequence + explode, no shuffle — source
    rides through as a kept column, so the corpus is scanned and
    tokenized exactly once); only the per-source rollup exchanges a
    handful of rows."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens
    from prod_data_pipeline_spark.operators.packing import rag_chunks

    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", _tokens(F.col("text")).alias("toks"))
    chunks = rag_chunks(base, window=32, stride=24, keep_cols=("source",))
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").cast("long").alias("total_chunk_tokens"),
            F.sum(F.when(F.col("chunk_len") < 32, 1).otherwise(0))
            .cast("long")
            .alias("n_short_chunks"),
            F.round(
                F.sum("chunk_len").cast("double")
                / F.sum(F.when(F.col("chunk_idx") == 0, F.col("n_tokens")).otherwise(0)),
                6,
            ).alias("expansion_ratio"),
        )
        .orderBy("source")
    )


@query(
    "docs_source_token_cap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len({_TOKS_SQL}) AS n_tokens,
             md5('cap:' || doc_id) AS h
      FROM documents
    ), ranked AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS before_sum
      FROM t
    ), marked AS (
      SELECT source, n_tokens,
             CASE WHEN before_sum < 1200 THEN 1 ELSE 0 END AS kept
      FROM ranked
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           ROUND(CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS DOUBLE)
                 / 1200, 6) AS cap_utilization
    FROM marked GROUP BY source ORDER BY source
    """,
)
def docs_source_token_cap(spark, sf_dir):
    """Per-source token-budget cap enforcement (the per-domain
    downsampling step of CommonCrawl-style curation: no single source may
    contribute more than N tokens).  Documents are ranked by a
    content-free md5 — a deterministic, retry-safe shuffle — and kept
    while the budget is open (kept iff the running sum BEFORE the doc is
    under the cap, so selection is a pure function of the corpus; a doc
    may overshoot the cap once, by design, to keep the rule
    prefix-stable: adding documents never changes earlier keep
    decisions).  One window exchange per source partition, all-integer
    decisions; the same shape enforces per-license or per-language caps
    at 100 TB."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(_tokens(F.col("text"))).alias("n_tokens"),
        F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = t.withColumn("before_sum", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    marked = ranked.withColumn(
        "kept", F.when(F.col("before_sum") < 1200, 1).otherwise(0)
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.round(
                F.sum(F.when(F.col("kept") == 1, F.col("n_tokens")).otherwise(0)).cast(
                    "double"
                )
                / 1200,
                6,
            ).alias("cap_utilization"),
        )
        .orderBy("source")
    )


def _pca_oracle_sql(n_iters: int = 16, dim: int = 64) -> str:
    """DuckDB replay of the quantized power iteration: the covariance CTE
    mirrors covariance_matrix (int40 integer-quantized pair sums), then each
    iteration is an unrolled matvec CTE pair with the identical
    round-then-DECIMAL quantization — same recipe as the PageRank oracle."""
    v0 = f"1.0 / sqrt({dim}.0)"
    parts = [
        f"""
    WITH {int40_cov_sql()}, v0 AS (
      SELECT CAST(i AS INT) AS j, {v0} AS v FROM range(0, {dim}) t(i)
    )"""
    ]
    prev = "v0"
    for t in range(1, n_iters + 1):
        parts.append(
            f""", u{t} AS MATERIALIZED (
      SELECT cov.i,
             CAST(SUM(CAST(ROUND(cov.c * {prev}.v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS u
      FROM cov JOIN {prev} ON {prev}.j = cov.j GROUP BY cov.i
    ), n{t} AS MATERIALIZED (
      SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      FROM u{t}
    ), v{t} AS MATERIALIZED (
      SELECT i AS j, ROUND(u / (SELECT nrm FROM n{t}), 9) AS v FROM u{t}
    )"""
        )
        prev = f"v{t}"
    parts.append(
        f"""
    SELECT CAST(j AS INT) AS pos, v AS loading,
           ROUND((SELECT nrm FROM n{n_iters}), 6) AS eigenvalue
    FROM v{n_iters} ORDER BY pos
    """
    )
    return "".join(parts)


@query(
    "emb_top_principal_component",
    oracle=_pca_oracle_sql(16, 64),
)
def emb_top_principal_component(spark, sf_dir):
    """Top principal component of the embedding corpus by DISTRIBUTED
    power iteration (operators/linalg.py) — the third iterative algorithm
    this engine makes exact-hash-oracle-able (after PageRank and the BPE
    merge recurrence).  The covariance is relational aggregation with
    int40 integer-quantized pair sums (exact primitive-long partials,
    order-independent at any parallelism — see covariance_matrix); each
    of the 16 matvec rounds quantizes terms to 12 digits and the
    normalized vector to 9, so DuckDB's unrolled-CTE replay reproduces
    every loading bit-for-bit.  Convergence note: the synthetic corpus is
    nearly isotropic (top eigengap ratio ~1.07), so 16 rounds yield a
    Rayleigh ESTIMATE, not the converged eigenpair — the unit test
    verifies >0.99 cosine to numpy's eigenvector on anisotropic data,
    where power iteration actually converges; the determinism guarantee
    is unconditional."""
    from prod_data_pipeline_spark.operators.linalg import (
        covariance_matrix,
        top_principal_component,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb).transform(truncate_lineage, eager=True)
    return top_principal_component(cov, dim=64, n_iters=16)


def _taint_oracle_sql(max_hops: int = 4) -> str:
    """Near-dup edges (same minhash-LSH pipeline as the PageRank/triangle
    oracles) + unrolled integer-MIN BFS rounds from the seed set."""
    parts = [
        f"""
    WITH {near_dup_pairs_sql(0.5, materialize=True)}, sym AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b AS src, id_a AS dst FROM pairs
    ), d0 AS MATERIALIZED (
      SELECT doc_id AS node, 0 AS hop FROM documents WHERE doc_id % 97 = 0
    )"""
    ]
    prev = "d0"
    for h in range(1, max_hops + 1):
        parts.append(
            f""", d{h} AS MATERIALIZED (
      SELECT node, MIN(hop) AS hop FROM (
        SELECT node, hop FROM {prev}
        UNION ALL
        SELECT sym.dst AS node, {prev}.hop + 1 AS hop
        FROM {prev} JOIN sym ON sym.src = {prev}.node
      ) GROUP BY node
    )"""
        )
        prev = f"d{h}"
    parts.append(
        f"""
    SELECT hop,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(node) AS min_doc_id,
           MAX(node) AS max_doc_id
    FROM {prev} GROUP BY hop ORDER BY hop
    """
    )
    return "".join(parts)


@query(
    "docs_taint_blast_radius",
    oracle=_taint_oracle_sql(4),
)
def docs_taint_blast_radius(spark, sf_dir):
    """Taint propagation over the near-dup graph
    (operators.graph.min_hop_distance): documents on a synthetic
    known-bad list (doc_id % 97 = 0 — standing in for a contamination or
    policy flag) taint their near-duplicates at hop 1, those documents'
    near-duplicates at hop 2, and so on to hop 4; the histogram is the
    blast radius a curation team reviews before mixing the corpus.
    ALL-INTEGER iterative state — min-hop BFS needs none of the
    quantization machinery PageRank does, so the unrolled-CTE oracle
    replay is trivially exact.  Per round: one frontier join against the
    persisted symmetric edges + an integer MIN agg; state is one row per
    reached node."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.operators.graph import min_hop_distance

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, sort=False)
    seeds = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    dist = min_hop_distance(pairs, seeds, max_hops=4)
    return (
        dist.groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("hop")
    )


@query(
    "media_audio_waveform_stats",
    oracle="""
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
    )
    SELECT doc_id AS asset_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(pcm, x -> abs(x))) AS BIGINT) AS abs_amp_sum,
           CAST(list_sum(list_transform(pcm, x -> x * x)) AS BIGINT) AS energy,
           CAST(list_max(list_transform(pcm, x -> abs(x))) AS BIGINT) AS peak_amp
    FROM f ORDER BY asset_id
    """,
)
def media_audio_waveform_stats(spark, sf_dir):
    """Waveform-level audio verification: synthetic_media_assets builds
    REAL PCM16 WAV payloads, operators.multimodal.audio_features decodes
    them (chunk walk, fmt/data parsing, int16 reconstruction) and reports
    integer loudness statistics — and the oracle regenerates the entire
    DECODED WAVEFORM from doc_id arithmetic + the documented byte tiling
    (sample k = (text_byte[k mod len] - 128) * 256; ASCII assumption as
    in the media-feature oracle), so a single wrong sample anywhere in
    the codec path flips the hash.  This is a strictly stronger check
    than header-fact parity: it certifies the payload BYTES decode
    correctly, not just the container metadata."""
    from prod_data_pipeline_spark.operators.multimodal import (
        audio_features,
        synthetic_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "audio")
    return audio_features(assets).orderBy("asset_id")


@query(
    "media_video_frame_stats",
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
    SELECT doc_id AS asset_id,
           CAST(i AS INT) AS frame_idx,
           CAST(list_sum(y) AS BIGINT) AS y_sum,
           CAST(list_max(y) AS INT) AS y_peak
    FROM fy ORDER BY asset_id, frame_idx
    """,
)
def media_video_frame_stats(spark, sf_dir):
    """Frame-level video verification: synthetic_media_assets builds REAL
    YUV4MPEG2 (C420) payloads, operators.multimodal.video_frame_features
    walks every FRAME header and slices its Y plane, and the oracle
    regenerates each frame's luma bytes from the documented tiling
    (frame i tiles text[i:], falling back to the whole text when the
    shift exhausts it; ASCII assumption as in the media-feature oracle).
    A wrong frame stride, plane offset, or chroma-size term desyncs
    every later frame and flips the hash — sample-level proof the video
    path decodes correctly, completing the audio (waveform) and image
    (byte-histogram) triad."""
    from prod_data_pipeline_spark.operators.multimodal import (
        synthetic_media_assets,
        video_frame_features,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "video")
    return video_frame_features(assets).orderBy("asset_id", "frame_idx")


@query(
    "events_daily_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
    ), dw AS (
      SELECT day, n, CAST(dayofweek(day) AS INT) AS dow FROM daily
    ), med AS (
      SELECT dow, quantile_cont(n, 0.5) AS med FROM dw GROUP BY 1
    ), dev AS (
      SELECT d.day, d.n, d.dow, m.med, abs(d.n - m.med) AS dev
      FROM dw d JOIN med m USING (dow)
    ), mad AS (
      SELECT dow, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.day, CAST(d.n AS BIGINT) AS n_events, d.dow,
           ROUND(d.med, 6) AS dow_median,
           ROUND(a.mad, 6) AS dow_mad,
           CAST(CASE WHEN d.dev > 3 * a.mad AND d.dev > 0 THEN 1 ELSE 0 END AS INT)
               AS is_anomaly
    FROM dev d JOIN mad a USING (dow)
    ORDER BY d.day
    """,
)
def events_daily_anomalies(spark, sf_dir):
    """Day-level traffic anomaly detection against a day-of-week seasonal
    baseline: each day's event count vs the robust median/MAD of its
    weekday cohort (Mondays compare to Mondays — the monitoring pattern
    that doesn't page on weekend dips).  Both medians run through
    operators.ranking.exact_quantiles over the DAILY relation — bounded
    by distinct days, never event-sized — so the whole seasonal model
    costs two tiny quantile jobs after one fact-sized count.  Weekday
    numbering is aligned cross-engine (Spark dayofweek()-1 = DuckDB
    dayofweek(), Sunday=0); the 3·MAD flag is a deterministic double
    compare with a dev>0 guard so an all-identical cohort (MAD 0) never
    self-flags."""
    from prod_data_pipeline_spark.operators.ranking import exact_quantiles

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # the daily relation (|distinct days| rows) feeds THREE plan branches
    # (weekday medians, the deviation relation, and the final projection)
    # — unmaterialized, each branch replays the fact-sized count scan
    # (measured 5.1 -> 3.4 s at sf0.1 warm)
    dw = daily.select(
        "day", "n", (F.dayofweek("day") - 1).cast("int").alias("dow")
    ).transform(truncate_lineage, eager=True)
    med = exact_quantiles(
        dw.select("dow", F.col("n").cast("double").alias("nv")),
        "nv",
        {"med": 0.5},
        by=["dow"],
    ).select("dow", F.col("quantile").alias("med"))
    dev = dw.join(F.broadcast(med), "dow").withColumn(
        "dev", F.abs(F.col("n") - F.col("med"))
    )
    mad = exact_quantiles(
        dev.select("dow", "dev"), "dev", {"mad": 0.5}, by=["dow"]
    ).select("dow", F.col("quantile").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "dow")
        .select(
            "day",
            F.col("n").cast("long").alias("n_events"),
            "dow",
            F.round("med", 6).alias("dow_median"),
            F.round("mad", 6).alias("dow_mad"),
            F.when((F.col("dev") > 3 * F.col("mad")) & (F.col("dev") > 0), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


def _pca_chain_sql(prefix: str, src: str, n_iters: int, dim: int) -> str:
    """One power-iteration chain as unrolled CTEs reading matrix `src`."""
    out = [
        f""", {prefix}v0 AS (
      SELECT CAST(i AS INT) AS j, 1.0 / sqrt({dim}.0) AS v FROM range(0, {dim}) t(i)
    )"""
    ]
    prev = f"{prefix}v0"
    for t in range(1, n_iters + 1):
        out.append(
            f""", {prefix}u{t} AS MATERIALIZED (
      SELECT {src}.i,
             CAST(SUM(CAST(ROUND({src}.c * {prev}.v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS u
      FROM {src} JOIN {prev} ON {prev}.j = {src}.j GROUP BY {src}.i
    ), {prefix}n{t} AS MATERIALIZED (
      SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      FROM {prefix}u{t}
    ), {prefix}v{t} AS MATERIALIZED (
      SELECT i AS j, ROUND(u / (SELECT nrm FROM {prefix}n{t}), 9) AS v FROM {prefix}u{t}
    )"""
        )
        prev = f"{prefix}v{t}"
    return "".join(out)


def _pca2_oracle_sql(n_iters: int = 8, dim: int = 64) -> str:
    """Two-component replay: chain 1 on cov, quantized Hotelling deflation,
    chain 2 on the deflated matrix — mirrors operators.linalg exactly."""
    cov_part = f"""
    WITH {int40_cov_sql()}"""
    c1 = _pca_chain_sql("a_", "cov", n_iters, dim)
    defl = f""", defl AS MATERIALIZED (
      SELECT cov.i, cov.j,
             cov.c - ROUND((SELECT ROUND(nrm, 6) FROM a_n{n_iters})
                           * va.v * vb.v, 12) AS c
      FROM cov
      JOIN a_v{n_iters} va ON va.j = cov.i
      JOIN a_v{n_iters} vb ON vb.j = cov.j
    )"""
    c2 = _pca_chain_sql("b_", "defl", n_iters, dim)
    final = f"""
    SELECT 1 AS component, CAST(j AS INT) AS pos, v AS loading,
           ROUND((SELECT nrm FROM a_n{n_iters}), 6) AS eigenvalue
    FROM a_v{n_iters}
    UNION ALL
    SELECT 2 AS component, CAST(j AS INT) AS pos, v AS loading,
           ROUND((SELECT nrm FROM b_n{n_iters}), 6) AS eigenvalue
    FROM b_v{n_iters}
    ORDER BY component, pos
    """
    return cov_part + c1 + defl + c2 + final


@query(
    "emb_top2_principal_components",
    oracle=_pca2_oracle_sql(8, 64),
)
def emb_top2_principal_components(spark, sf_dir):
    """Top-2 principal components via power iteration + quantized
    Hotelling deflation (operators/linalg.py::top_principal_components):
    component 2 is extracted from C − λ₁v₁v₁ᵀ with the rank-1 update
    rounded to 12 digits, so the deflated recurrence — like the original
    one — replays bit-for-bit in DuckDB's unrolled CTEs.  8 rounds per
    component (the determinism guarantee is iteration-count-independent;
    the anisotropic-data unit test shows convergence where a spectrum gap
    exists).  One corpus-sized covariance pass total; everything after is
    d²-row relational algebra."""
    from prod_data_pipeline_spark.operators.linalg import (
        covariance_matrix,
        top_principal_components,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb).transform(truncate_lineage, eager=True)
    return top_principal_components(cov, dim=64, n_components=2, n_iters=8)


@query(
    "customer_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(MAX(o_orderdate) AS DATE) AS last_order,
             COUNT(*) AS f,
             CAST(SUM(CAST(FLOOR((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS mn
      FROM orders GROUP BY 1
    ), anch AS (
      SELECT CAST(MAX(o_orderdate) AS DATE) AS anchor FROM orders
    ), scored AS (
      SELECT o_custkey, f, mn,
             date_diff('day', last_order, (SELECT anchor FROM anch)) AS r_days
      FROM cust
    ), q AS (
      SELECT o_custkey, f, mn, r_days,
             ntile(4) OVER (ORDER BY r_days, o_custkey) AS r_q,
             ntile(4) OVER (ORDER BY f, o_custkey) AS f_q,
             ntile(4) OVER (ORDER BY CAST(mn AS DOUBLE) / 100.0, o_custkey) AS m_q
      FROM scored
    )
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(r_days AS BIGINT)) AS BIGINT) AS total_recency_days,
           CAST(SUM(f) AS BIGINT) AS total_orders,
           CAST(CAST(SUM(mn) AS BIGINT) AS DOUBLE) / 100.0 AS total_monetary
    FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary
    quartiles) — the canonical BI workload, built on the exact-NTILE
    machinery: each dimension quartiles via
    operators.ranking.bucketed_global_rank + ntile_from_rank over the
    CUSTOMER relation (orders of magnitude below the fact table; the
    fact table pays exactly one groupBy).  Quartile 1 = most recent /
    least frequent / smallest spend — ascending NTILE with a custkey
    tie-break, so both engines assign identical buckets; monetary flows
    as the exact int64 cent numerator (dnum) through the re-sum, one
    double conversion at the end."""
    from prod_data_pipeline_spark.operators.ranking import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("f"),
        dnum("o_totalprice").alias("mn"),
    )
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("anchor"))
    scored = cust.join(F.broadcast(anchor)).select(
        "o_custkey",
        "f",
        "mn",
        F.datediff(F.col("anchor"), F.col("last_order")).alias("r_days"),
    )
    # each stage ranks the previous stage's output; the rank operator cuts
    # its own input, so no stage replays the chain before it
    cur = scored
    for metric, alias in (("r_days", "r_q"), ("f", "f_q"), ("m_d", "m_q")):
        if metric == "m_d":
            cur = cur.withColumn("m_d", num_to_double(F.col("mn")))
        ranked = bucketed_global_rank(cur, [metric, "o_custkey"])
        cur = ranked.withColumn(
            alias, ntile_from_rank(F.col("rank"), F.col("n_total"), 4)
        ).drop("rank", "n_total")
    return (
        cur.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("r_days").cast("long")).cast("long").alias("total_recency_days"),
            F.sum("f").cast("long").alias("total_orders"),
            num_to_double(F.sum("mn")).alias("total_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
      SELECT p.p_type, l.l_suppkey,
             CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS rn
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT p_type, CAST(SUM(rn) AS BIGINT) AS tn, COUNT(*) AS n_suppliers
      FROM rev GROUP BY 1
    ), shares AS (
      SELECT rev.p_type,
             ROUND(CAST(rev.rn AS DOUBLE) / CAST(tot.tn AS DOUBLE), 9) AS s,
             tot.n_suppliers
      FROM rev JOIN tot USING (p_type)
    )
    SELECT p_type,
           CAST(ANY_VALUE(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST((CAST(CAST(SUM(CAST(FLOOR((ROUND(10000 * s * s, 6)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS DOUBLE) AS hhi
    FROM shares GROUP BY p_type ORDER BY p_type
    """,
)
def supplier_concentration_hhi(spark, sf_dir):
    """Supplier-concentration Herfindahl–Hirschman index per part type:
    HHI = Σ (100·share)² over each type's suppliers — the standard
    market-concentration screen (≥2500 = highly concentrated), here
    auditing supply-chain single-source risk.  Revenue flows as exact
    int64 numerators (dnum) through the per-type re-sum — shares divide
    numerator by numerator-total so the ratio is scale-free — and each
    squared share is rounded to 6 digits before the exact long-numerator
    re-sum, so the index is order-independent at any parallelism.  One
    fact shuffle on (type, suppkey); the per-type totals ride the same
    key space."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(dnum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("rn"))
    )
    tot = rev.groupBy("p_type").agg(
        F.sum("rn").alias("tn"), F.count(F.lit(1)).alias("n_suppliers")
    )
    shares = rev.join(tot, "p_type").select(
        "p_type",
        "n_suppliers",
        F.round(F.col("rn").cast("double") / F.col("tn").cast("double"), 9).alias("s"),
    )
    return (
        shares.groupBy("p_type")
        .agg(
            F.first("n_suppliers").cast("long").alias("n_suppliers"),
            dsum(F.round(F.lit(10000) * F.col("s") * F.col("s"), 6), 6).alias("hhi"),
        )
        .orderBy("p_type")
    )


@query(
    "orders_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
    ), t AS (
      SELECT SUM(n) AS total FROM c
    )
    SELECT c.digit,
           CAST(c.n AS BIGINT) AS n_orders,
           ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS observed_freq,
           ROUND(log10(1.0 + 1.0 / c.digit), 6) AS benford_freq,
           ROUND(abs(CAST(c.n AS DOUBLE) / t.total - log10(1.0 + 1.0 / c.digit)), 6)
               AS abs_deviation
    FROM c, t ORDER BY c.digit
    """,
)
def orders_benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit on order totals — the classic
    forensic screen for fabricated or truncated monetary data: natural
    multi-scale amounts put digit d first with probability log10(1+1/d),
    and a flat or spiked distribution flags generator artifacts the same
    way it flags fraud.  Digit extraction is integer string arithmetic
    (floor → first char), frequencies are single double divisions of
    exact counts, and the Benford reference is a per-digit constant — all
    deterministic.  One scan, nine-row output."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return (
        c.join(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n_orders"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("observed_freq"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_freq"),
            F.round(
                F.abs(
                    F.col("n").cast("double") / F.col("total")
                    - F.log10(1.0 + 1.0 / F.col("digit"))
                ),
                6,
            ).alias("abs_deviation"),
        )
        .orderBy("digit")
    )


@query(
    "basket_part_pair_lift",
    oracle="""
    WITH ol AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ol
    ), item AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM ol GROUP BY 1
    ), pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_n
      FROM ol a JOIN ol b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), scored AS (
      SELECT p.part_a, p.part_b, p.pair_n,
             ia.cnt AS cnt_a, ib.cnt AS cnt_b,
             ROUND(CAST(p.pair_n AS DOUBLE) / (SELECT n_orders FROM n), 6)
                 AS support,
             ROUND(CAST(p.pair_n AS DOUBLE) / ia.cnt, 6) AS confidence_ab,
             ROUND(CAST(p.pair_n AS DOUBLE) * (SELECT n_orders FROM n)
                   / (CAST(ia.cnt AS DOUBLE) * ib.cnt), 6) AS lift
      FROM pair p
      JOIN item ia ON ia.l_partkey = p.part_a
      JOIN item ib ON ib.l_partkey = p.part_b
      WHERE p.pair_n >= 2
    )
    SELECT part_a, part_b, CAST(pair_n AS BIGINT) AS pair_n,
           CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
           support, confidence_ab, lift
    FROM scored
    ORDER BY pair_n DESC, part_a, part_b LIMIT 50
    """,
)
def basket_part_pair_lift(spark, sf_dir):
    """Market-basket association mining: the top co-purchased part pairs
    with support / confidence / lift — the frequent-itemset primitive of
    retail analytics (and of co-occurrence feature engineering
    generally).  Pair generation self-joins the DISTINCT (order, part)
    relation on the order key, so the work is Σ basket_size² — bounded by
    the largest basket, never |parts|²; at 100 TB add a min-support
    pre-filter on the item counts (downward closure) exactly as Apriori
    does.  All ratios are single double divisions of exact counts,
    rounded to 6; the min-support gate (pair_n ≥ 2) and the (pair_n,
    part_a, part_b) tie-break keep the top-50 deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    # ol feeds FOUR consumers (n_orders, item→ia/ib, both self-join
    # sides); without a lineage cut each replays the fact scan + distinct
    # exchange unless ReuseExchange happens to fire (never relied on).
    ol = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .transform(truncate_lineage, eager=False)
    )
    n_orders = ol.select(F.countDistinct("l_orderkey").alias("n_orders"))
    item = ol.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = ol.alias("a")
    b = ol.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("pair_n").cast("long").alias("pair_n"),
            F.col("cnt_a").cast("long").alias("cnt_a"),
            F.col("cnt_b").cast("long").alias("cnt_b"),
            F.round(F.col("pair_n").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("pair_n").cast("double") / F.col("cnt_a"), 6).alias(
                "confidence_ab"
            ),
            F.round(
                F.col("pair_n").cast("double")
                * F.col("n_orders")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_n"), "part_a", "part_b")
        .limit(50)
    )


@query(
    "docs_heaps_law_fit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                                i -> array_to_string(toks[i:i+1], ' '))
                         ELSE [] END) AS gram
      FROM t
    ), firsts AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
    ), percount AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id
    ), mx AS (
      SELECT MAX(doc_id) AS m FROM documents
    ), ks AS (
      SELECT CAST(k AS INT) AS k, ((SELECT m FROM mx) * k) // 10 AS t
      FROM range(1, 11) r(k)
    ), pts AS (
      SELECT ks.k,
             (SELECT COUNT(*) FROM firsts WHERE first_doc <= ks.t) AS v,
             (SELECT COALESCE(SUM(n_grams), 0) FROM percount
              WHERE doc_id <= ks.t) AS n
      FROM ks
    ), xy AS (
      SELECT ROUND(ln(CAST(n AS DOUBLE)), 9) AS x,
             ROUND(ln(CAST(v AS DOUBLE)), 9) AS y
      FROM pts WHERE n > 0 AND v > 0
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST((CAST(CAST(SUM(CAST(FLOOR((x) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sx,
             CAST((CAST(CAST(SUM(CAST(FLOOR((y) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sy,
             CAST((CAST(CAST(SUM(CAST(FLOOR((ROUND(x * y, 9)) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sxy,
             CAST((CAST(CAST(SUM(CAST(FLOOR((ROUND(x * x, 9)) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sxx
      FROM xy
    )
    SELECT CAST(s.n AS BIGINT) AS n_checkpoints,
           ROUND((s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx), 6)
               AS heaps_beta,
           ROUND((s.sy - ((s.n * s.sxy - s.sx * s.sy)
                          / (s.n * s.sxx - s.sx * s.sx)) * s.sx) / s.n, 6)
               AS intercept,
           (SELECT CAST(v AS BIGINT) FROM pts WHERE k = 10) AS vocab_final,
           (SELECT CAST(n AS BIGINT) FROM pts WHERE k = 10) AS grams_final
    FROM s
    """,
)
def docs_heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit — the companion corpus-health number to the Zipf
    slope: vocabulary growth V(n) ≈ K·n^β measured on bigram TYPES (the
    unigram vocabulary of the synthetic corpus saturates instantly; the
    pattern level actually grows) at 10 doc-id-prefix checkpoints.
    β ≈ 0.5–0.8 is a healthy natural corpus; β → 0 means the crawl has
    stopped discovering new language (or dedup failed), β → 1 flags
    near-random token soup.  Checkpoint thresholds are integer doc-id
    arithmetic, V_k counts first-appearance docs (one groupBy-min over
    the gram stream), and the OLS fit reuses the Zipf-fit
    round(9)-then-DECIMAL determinism recipe."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    grams_arr = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The gram stream (regex tokenize + bigram explode) feeds both the
    # first-appearance and per-doc-count aggregations; without the cut the
    # whole tokenize pipeline replays per consumer and the checkpoint
    # fan-out below multiplies that to 10 corpus reads.  The two tiny
    # relations (ks: 10 rows, pts: 10 rows) are cut eagerly so their
    # broadcast fan-out does not replay the gram aggregations either.
    g = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(grams_arr).alias("gram"))
        .transform(truncate_lineage, eager=False)
    )
    firsts = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    percount = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    mx = docs.agg(F.max("doc_id").alias("m"))
    ks = mx.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("k"), "m"
    ).select("k", F.expr("(m * k) div 10").alias("t")).transform(
        truncate_lineage, eager=True
    )
    v = (
        firsts.join(F.broadcast(ks))
        .filter(F.col("first_doc") <= F.col("t"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    n = (
        percount.join(F.broadcast(ks))
        .filter(F.col("doc_id") <= F.col("t"))
        .groupBy("k")
        .agg(F.sum("n_grams").alias("n"))
    )
    pts = ks.select("k").join(v, "k", "left").join(n, "k", "left").select(
        "k",
        F.coalesce("v", F.lit(0)).alias("v"),
        F.coalesce("n", F.lit(0)).alias("n"),
    ).transform(truncate_lineage, eager=True)
    xy = pts.filter((F.col("n") > 0) & (F.col("v") > 0)).select(
        F.round(F.log(F.col("n").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("v").cast("double")), 9).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x", 9).alias("sx"),
        dsum("y", 9).alias("sy"),
        dsum(F.round(F.col("x") * F.col("y"), 9), 9).alias("sxy"),
        dsum(F.round(F.col("x") * F.col("x"), 9), 9).alias("sxx"),
    )
    fin = pts.filter(F.col("k") == 10).select(
        F.col("v").cast("long").alias("vocab_final"),
        F.col("n").cast("long").alias("grams_final"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        s.join(F.broadcast(fin))
        .select(
            F.col("n").cast("long").alias("n_checkpoints"),
            F.round(slope, 6).alias("heaps_beta"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
                "intercept"
            ),
            "vocab_final",
            "grams_final",
        )
    )


def _local_cc_oracle_sql() -> str:
    """Near-dup edges (same LSH pipeline as the triangle/taint oracles) +
    per-node triangle credit and local clustering coefficient."""
    return f"""
    WITH {near_dup_pairs_sql(0.5, materialize=True)}, edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
    ), deg AS MATERIALIZED (
      SELECT v, COUNT(*) AS deg FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
      ) GROUP BY v
    ), tri AS MATERIALIZED (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ), credit AS (
      SELECT v, COUNT(*) AS t FROM (
        SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
        UNION ALL SELECT c AS v FROM tri
      ) GROUP BY v
    )
    SELECT deg.v, CAST(deg.deg AS BIGINT) AS deg,
           CAST(COALESCE(credit.t, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN deg.deg >= 2 THEN 1 ELSE 0 END AS INT) AS defined,
           CASE WHEN deg.deg >= 2
                THEN ROUND(2.0 * COALESCE(credit.t, 0)
                           / (deg.deg * (deg.deg - 1)), 6)
                ELSE 0.0 END AS local_cc
    FROM deg LEFT JOIN credit ON credit.v = deg.v
    ORDER BY deg.v
    """


@query(
    "docs_local_clustering",
    oracle=_local_cc_oracle_sql(),
)
def docs_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficients over the near-dup graph
    (operators.graph.local_clustering): cc(v) near 1 marks documents
    sitting in tight duplicate cliques (safe to transitively remove), cc
    near 0 marks bridge documents whose removal would over-delete — the
    node-level companion to docs_dup_triangles' global coefficient.
    Triangles list once via the canonical a<b<c wedge join; degrees and
    credits are vertex-keyed aggs; cc is one double division of exact
    integers rounded to 6.  Graph-sized throughout."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.operators.graph import local_clustering

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, sort=False)
    return local_clustering(pairs).orderBy("v")


# ---------------------------------------------------------------------------
# Round 6: mergeable count-min sketches, k-core decomposition, exact-rational
# EWMA baselines, referential-integrity audit, interval concurrency, embedding
# class separation, and content-defined chunk dedup.
# ---------------------------------------------------------------------------


@query(
    "events_cms_heavy_hitters",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS true_count
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), cells AS (
      {cms_cells_sql("counts", "user_id", "true_count")}
    ), top AS (
      SELECT user_id, true_count FROM counts
      ORDER BY true_count DESC, user_id LIMIT 20
    ), est AS (
      SELECT t.user_id, MIN(COALESCE(c.cnt, 0)) AS cms_count
      FROM top t
      CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j) r
      LEFT JOIN cells c
        ON c.j = r.j AND c.bucket = {cms_bucket_sql("r.j", "t.user_id")}
      GROUP BY 1
    )
    SELECT t.user_id,
           CAST(t.true_count AS BIGINT) AS true_count,
           CAST(e.cms_count AS BIGINT) AS cms_count,
           CAST(e.cms_count - t.true_count AS BIGINT) AS overcount
    FROM top t JOIN est e USING (user_id)
    ORDER BY true_count DESC, user_id
    """,
)
def events_cms_heavy_hitters(spark, sf_dir):
    """Heavy-hitter frequency estimation via MERGEABLE count-min sketches
    (operators/sketches.py): each day builds its own depth-4 x width-512
    sketch (the incremental path — daily partitions sketch as they land,
    history is never re-read), the daily sketches merge by cell-wise
    addition, and the merged sketch answers point queries for the exact
    top-20 users, whose CMS estimate is compared against truth.  The
    overcount column is the sketch's collision error — always >= 0 by
    construction (a negative value anywhere would prove the operator
    wrong).  The md5 bucket derivation is replayed bit-for-bit by the
    oracle, which builds the sketch globally — cell addition is
    associative, so per-day-then-merge MUST equal one global build; the
    hash check proves the mergeability property, not just the estimates.
    Sketch state is bounded (days x 4 x 512 rows) regardless of corpus
    size."""
    from prod_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = cms_build(
        ev.select(F.to_date("ts").alias("day"), "user_id"),
        "user_id",
        group_cols=("day",),
    )
    merged = cms_merge(daily)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    top = counts.orderBy(F.desc("true_count"), "user_id").limit(20)
    est = cms_estimate(merged, top.select("user_id"), "user_id")
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            F.col("true_count").cast("long"),
            F.col("cms_count").cast("long"),
            (F.col("cms_count") - F.col("true_count")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("true_count"), "user_id")
    )


@query(
    "events_selfjoin_size_cms",
    oracle=f"""
    WITH counts AS (
      SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), cells AS (
      {cms_cells_sql("counts", "k", "c")}
    ), dots AS (
      SELECT j, CAST(SUM(cnt * cnt) AS BIGINT) AS dot FROM cells GROUP BY j
    ), agg AS (
      SELECT CAST((SELECT SUM(c) FROM counts) AS BIGINT) AS n_rows,
             CAST((SELECT COUNT(*) FROM counts) AS BIGINT) AS n_keys,
             CAST((SELECT SUM(c * c) FROM counts) AS BIGINT) AS exact_size,
             CAST(COALESCE((SELECT MIN(dot) FROM dots), 0) AS BIGINT) AS cms_est
    )
    SELECT n_rows, n_keys, exact_size, cms_est,
           CAST(cms_est - exact_size AS BIGINT) AS overcount,
           cms_est >= exact_size AS est_ge_exact,
           (cms_est - exact_size) * {CMS_WIDTH} <= 3 * n_rows * n_rows
               AS within_weak_bound
    FROM agg
    """,
)
def events_selfjoin_size_cms(spark, sf_dir):
    """Self-join size (second frequency moment F2 = sum f(u)^2) of events
    on user_id, estimated from ONE depth-4 x width-512 count-min sketch
    via the CMS inner product (operators.sketches.cms_inner_product) and
    checked against the exact value — the planner signal for whether a
    user-level self-join (sessionization, co-visit mining) will blow up
    on skewed keys, answered WITHOUT running the join: the sketch is a
    2048-cell relation, mergeable per day like events_cms_heavy_hitters'.
    est >= exact ALWAYS (each hash row's dot adds non-negative collision
    mass — est_ge_exact is a provable-property boolean, false anywhere =
    operator bug); the checked overestimate bound is the deliberately
    WEAKER integer form (est-exact)*width <= 3*N^2 (3 > e, so it is
    implied by the textbook (e/width)*N^2 guarantee yet needs no float
    math — exact int64 comparison while 3*N^2 < 2^63, i.e. N < ~1.7e9
    rows; past that, compare in DECIMAL or estimate per partition).
    All columns integer; the md5 bucket derivation replays bit-for-bit
    in the oracle."""
    from prod_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sketch = cms_build(ev, "user_id")
    est = cms_inner_product(sketch, sketch).agg(
        F.coalesce(F.min("dot"), F.lit(0)).cast("long").alias("cms_est")
    )
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    exact = counts.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_size"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_rows",
        "n_keys",
        "exact_size",
        "cms_est",
        (F.col("cms_est") - F.col("exact_size")).cast("long").alias("overcount"),
        (F.col("cms_est") >= F.col("exact_size")).alias("est_ge_exact"),
        (
            (F.col("cms_est") - F.col("exact_size")) * F.lit(512)
            <= F.lit(3) * F.col("n_rows") * F.col("n_rows")
        ).alias("within_weak_bound"),
    )


@query(
    "lineitem_orders_join_size_cms",
    oracle=f"""
    WITH la AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), ob AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
    ), ca AS (
      {cms_cells_sql("la", "k", "c")}
    ), cb AS (
      {cms_cells_sql("ob", "k", "c")}
    ), dots AS (
      SELECT ca.j, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS dot
      FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket
      GROUP BY ca.j
    ), agg AS (
      SELECT CAST((SELECT SUM(c) FROM la) AS BIGINT) AS n_fact_rows,
             CAST((SELECT SUM(c) FROM ob) AS BIGINT) AS n_dim_rows,
             CAST((SELECT COALESCE(SUM(l.c * o.c), 0) FROM la l
                   JOIN ob o ON l.k = o.k) AS BIGINT) AS exact_join_size,
             CAST(COALESCE((SELECT MIN(dot) FROM dots), 0) AS BIGINT) AS cms_est
    )
    SELECT n_fact_rows, n_dim_rows, exact_join_size, cms_est,
           CAST(cms_est - exact_join_size AS BIGINT) AS overcount,
           cms_est >= exact_join_size AS est_ge_exact,
           (cms_est - exact_join_size) * {CMS_WIDTH} <= 3 * n_fact_rows * n_dim_rows
               AS within_weak_bound
    FROM agg
    """,
)
def lineitem_orders_join_size_cms(spark, sf_dir):
    """Cross-relation join-size estimation: |lineitem JOIN urgent orders
    ON orderkey| predicted from TWO independently-built count-min
    sketches via their inner product, vs the exact join count — the
    planner's pre-flight sizing of a fact x filtered-dim join from
    2048-cell sketch state instead of a corpus pass.  Because CMS cells
    are counters, each side's sketch can be maintained incrementally as
    partitions land (cms_merge) and the estimate stays a constant-size
    computation no matter how large either table grows; the two sketches
    share (depth, width, hash, salt), which is what makes the inner
    product meaningful.  Same provable-property booleans as
    events_selfjoin_size_cms: est >= exact always, and the weak integer
    bound (est-exact)*width <= 3*|fact|*|dim| (implied by the textbook
    (e/width)*||fA||*||fB|| guarantee, no float math; exact while
    3*|fact|*|dim| < 2^63).  The md5 buckets replay bit-for-bit in the
    oracle."""
    from prod_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    sa = cms_build(li, "l_orderkey")
    sb = cms_build(od, "o_orderkey")
    est = cms_inner_product(sa, sb).agg(
        F.coalesce(F.min("dot"), F.lit(0)).cast("long").alias("cms_est")
    )
    nf = li.agg(F.count(F.lit(1)).cast("long").alias("n_fact_rows"))
    nd = od.agg(F.count(F.lit(1)).cast("long").alias("n_dim_rows"))
    ex = (
        li.select(F.col("l_orderkey").alias("k"))
        .join(od.select(F.col("o_orderkey").alias("k")), "k")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_size"))
    )
    return (
        nf.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(est))
        .select(
            "n_fact_rows",
            "n_dim_rows",
            "exact_join_size",
            "cms_est",
            (F.col("cms_est") - F.col("exact_join_size"))
            .cast("long")
            .alias("overcount"),
            (F.col("cms_est") >= F.col("exact_join_size")).alias("est_ge_exact"),
            (
                (F.col("cms_est") - F.col("exact_join_size")) * F.lit(512)
                <= F.lit(3) * F.col("n_fact_rows") * F.col("n_dim_rows")
            ).alias("within_weak_bound"),
        )
    )


def _kcore_oracle_sql(k: int = 2, rounds: int = 6) -> str:
    """Near-dup edges (same LSH pipeline as the triangle/taint oracles) +
    `rounds` unrolled peeling iterations.  Peeling is monotone, so a
    fixed unroll equals the Spark side's early-exited fixpoint whenever
    the graph converges within the bound (and equals its partial state
    otherwise — the two engines replay the identical recurrence)."""
    parts = [
        f"""
    WITH {near_dup_pairs_sql(0.5, materialize=True)}, e0 AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    )"""
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f""", k{r} AS MATERIALIZED (
      SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {k}
    ), e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {prev} e
      JOIN k{r} x ON x.src = e.src
      JOIN k{r} y ON y.src = e.dst
    )"""
        )
        prev = f"e{r}"
    parts.append(
        f"""
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM {prev} GROUP BY src HAVING COUNT(*) >= {k} ORDER BY node
    """
    )
    return "".join(parts)


@query(
    "docs_kcore_summary",
    oracle=_kcore_oracle_sql(k=2, rounds=6),
)
def docs_kcore_summary(spark, sf_dir):
    """2-core of the near-dup graph (operators.graph.kcore): the maximal
    subgraph where every document near-duplicates >= 2 others in the set
    — bridge/pendant nodes peel away, leaving the dense template and
    boilerplate neighborhoods a curation pass reviews first.  ALL-INTEGER
    iterative peeling (degrees + semi-joins), so the DuckDB oracle
    replays the recurrence exactly as 6 unrolled CTE rounds; monotonicity
    makes Spark's early exit at the fixpoint equal the fixed unroll.
    Per round: one vertex-keyed degree agg + two semi-joins over a
    shrinking edge relation — graph-sized, never corpus-sized."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.operators.graph import kcore

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, sort=False)
    return kcore(pairs, k=2, max_rounds=6).orderBy("node")


_EWMA_LAGS = 14  # weights 2^(14-k) for lag k: exact integer arithmetic
_EWMA_DENOM = (1 << _EWMA_LAGS) - 1  # 16383 = sum of the weights


@query(
    "events_ewma_anomalies",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
    ), spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), ty AS (
      SELECT DISTINCT event_type FROM events
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), dense AS (
      SELECT s.day, ty.event_type, COALESCE(d.n, 0) AS n
      FROM spine s CROSS JOIN ty
      LEFT JOIN daily d ON d.day = s.day AND d.event_type = ty.event_type
    ), wnd AS (
      SELECT day, event_type, n,
             row_number() OVER w AS rn,
             {" + ".join(f"lag(n, {kk}) OVER w * {1 << (_EWMA_LAGS - kk)}" for kk in range(1, _EWMA_LAGS + 1))} AS num
      FROM dense
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT day, event_type,
           CAST(n AS BIGINT) AS n_events,
           ROUND(num / {_EWMA_DENOM}.0, 6) AS ewma,
           CAST(CASE WHEN n * {_EWMA_DENOM} > 2 * num THEN 1 ELSE 0 END AS INT) AS spike
    FROM wnd WHERE rn > {_EWMA_LAGS}
    ORDER BY event_type, day
    """,
)
def events_ewma_anomalies(spark, sf_dir):
    """EWMA daily-volume baseline with EXACT RATIONAL arithmetic: the
    smoothing weights are 2^(14-k) over the trailing 14 days (half-life
    one day), so the weighted sum is a pure int64 expression and the
    spike decision `count > 2 x EWMA` cross-multiplies integers — no
    float ever decides a flag, so any engine replaying the recurrence
    agrees bit-for-bit (the reported `ewma` column does one double
    division of exact integers, rounded to 6).  Gap-filled on the
    calendar spine first: a day with zero events must drag the baseline
    down, which a sparse GROUP BY would silently skip.  Per-type windows
    partition the shuffle; state is days x types rows — tiny at any
    corpus scale."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    ty = ev.select("event_type").distinct()
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    dense = (
        spine.crossJoin(F.broadcast(ty))
        .join(F.broadcast(daily), ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    num = reduce(
        lambda a, b: a + b,
        [
            F.lag("n", kk).over(w) * F.lit(1 << (_EWMA_LAGS - kk))
            for kk in range(1, _EWMA_LAGS + 1)
        ],
    )
    return (
        dense.select(
            "day",
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.row_number().over(w).alias("rn"),
            num.alias("num"),
        )
        .filter(F.col("rn") > _EWMA_LAGS)
        .select(
            "day",
            "event_type",
            "n_events",
            F.round(F.col("num") / F.lit(float(_EWMA_DENOM)), 6).alias("ewma"),
            F.when(
                F.col("n_events") * _EWMA_DENOM > 2 * F.col("num"), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("spike"),
        )
        .orderBy("event_type", "day")
    )


_FK_EDGES: list[tuple[str, str, str, str]] = [
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _fk_oracle_sql() -> str:
    selects = []
    for c, ck, p, pk in _FK_EDGES:
        orphan_where = (
            f"{ck} IS NOT NULL AND {ck} NOT IN "
            f"(SELECT {pk} FROM {p} WHERE {pk} IS NOT NULL)"
        )
        selects.append(
            f"""SELECT '{c}.{ck}->{p}.{pk}' AS relationship,
           CAST((SELECT COUNT(*) FROM {c}) AS BIGINT) AS n_child_rows,
           CAST((SELECT COUNT(*) FROM {c} WHERE {ck} IS NULL) AS BIGINT) AS n_null_keys,
           CAST((SELECT COUNT(DISTINCT {ck}) FROM {c}) AS BIGINT) AS n_distinct_keys,
           CAST((SELECT COUNT(*) FROM {c} WHERE {orphan_where}) AS BIGINT) AS n_orphan_rows,
           CAST((SELECT COUNT(DISTINCT {ck}) FROM {c} WHERE {orphan_where}) AS BIGINT) AS n_orphan_keys"""
        )

    return "\n    UNION ALL\n    ".join(selects) + "\n    ORDER BY relationship"


@query(
    "fk_integrity_audit",
    oracle=_fk_oracle_sql(),
)
def fk_integrity_audit(spark, sf_dir):
    """Referential-integrity audit over every foreign-key edge of the
    schema: child cardinality, NULL keys, distinct keys, and orphan rows/
    keys (child keys with no parent).  This is the cross-TABLE data-quality
    gate the single-table DQ profile (events_dq_profile, reference
    raw_to_curated_events_v3_dq.py:70-106) cannot express — a broken
    upstream join key shows up here first.  Each edge costs one
    combiner-friendly child agg plus one left-anti join keyed on the FK
    (dimension parents broadcast; fact-fact edges shuffle-hash on the
    key); the 7 one-row results union driver-side.  NULL keys are counted
    separately, never as orphans — SQL FK semantics."""
    rows = []
    for c, ck, p, pk in _FK_EDGES:
        child = _t(spark, sf_dir, c)
        parent = _t(spark, sf_dir, p).select(F.col(pk).alias("__pk")).distinct()
        nn = child.filter(F.col(ck).isNotNull())
        orph = nn.join(parent, nn[ck] == parent["__pk"], "left_anti")
        stats = child.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.sum(F.when(F.col(ck).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_keys"),
            F.countDistinct(ck).alias("n_distinct_keys"),
        )
        ostats = orph.agg(
            F.count(F.lit(1)).alias("n_orphan_rows"),
            F.countDistinct(ck).alias("n_orphan_keys"),
        )
        rows.append(
            stats.crossJoin(F.broadcast(ostats)).select(
                F.lit(f"{c}.{ck}->{p}.{pk}").alias("relationship"),
                "n_child_rows",
                "n_null_keys",
                "n_distinct_keys",
                "n_orphan_rows",
                "n_orphan_keys",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), rows).orderBy("relationship")


@query(
    "sessions_peak_concurrency",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                  OR epoch_us(CAST(ts AS TIMESTAMP))
                     - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), sess AS (
      SELECT user_id, sid, MIN(ts) AS start_ts, MAX(ts) AS end_ts
      FROM s GROUP BY 1, 2
    ), d AS (
      SELECT start_ts AS ts, 1 AS delta FROM sess
      UNION ALL
      SELECT end_ts AS ts, -1 AS delta FROM sess
    ), r AS (
      SELECT CAST(ts AS DATE) AS day, delta,
             SUM(delta) OVER (PARTITION BY CAST(ts AS DATE)
                              ORDER BY ts, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS run
      FROM d
    ), loc AS (
      SELECT day, MAX(run) AS mx, SUM(delta) AS net,
             SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_starts
      FROM r GROUP BY day
    ), c AS (
      SELECT day, n_starts, mx,
             COALESCE(SUM(net) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS carry
      FROM loc
    )
    SELECT day,
           CAST(n_starts AS BIGINT) AS n_sessions_started,
           CAST(carry + greatest(mx, 0) AS BIGINT) AS peak_concurrency
    FROM c ORDER BY day
    """,
)
def sessions_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day by distributed sweep-line: the
    single-machine formulation (sort ALL +1/-1 boundary events globally,
    running sum) is a global sort — forbidden at scale — so this splits
    it into (a) a per-day windowed running sum over boundary deltas and
    (b) a day-level carry-in = cumulative net of prior days, computed on
    the tiny days-sized relation where a global window is free.  Peak =
    carry + max(local running max, 0); sessions crossing midnight are
    exactly the carry.  Tie policy: at the same timestamp, starts (+1)
    process before ends (-1) — inclusive [start, end] intervals — pinned
    by ORDER BY (ts, delta DESC) identically on both engines; reorderings
    within equal (ts, delta) groups cannot change the running-max
    multiset, so the result is deterministic at any parallelism.
    Sessions come from the same 30-min-gap sessionization as
    user_sessions (oracle-green r03)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
    is_new = F.when(
        F.lag("ts").over(wu).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "sid",
            F.sum("is_new").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    d = sess.select(F.col("start_ts").alias("ts"), F.lit(1).alias("delta")).unionByName(
        sess.select(F.col("end_ts").alias("ts"), F.lit(-1).alias("delta"))
    )
    wd = Window.partitionBy("day").orderBy("ts", F.desc("delta")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = d.withColumn("day", F.to_date("ts")).withColumn("run", F.sum("delta").over(wd))
    loc = r.groupBy("day").agg(
        F.max("run").alias("mx"),
        F.sum("delta").alias("net"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_starts"),
    )
    # day-level relation: rows == distinct days, so the global window is
    # a one-partition job over a tiny input — not a data-sized sort
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return (
        loc.withColumn("carry", F.coalesce(F.sum("net").over(wc), F.lit(0)))
        .select(
            "day",
            F.col("n_starts").cast("long").alias("n_sessions_started"),
            (F.col("carry") + F.greatest("mx", F.lit(0)))
            .cast("long")
            .alias("peak_concurrency"),
        )
        .orderBy("day")
    )


@query(
    "emb_label_separation",
    oracle="""
    WITH cent AS (
      SELECT label, pos,
             ROUND(SUM(CAST(embedding[pos] AS DOUBLE)) / COUNT(*), 6) AS c
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)
      GROUP BY 1, 2
    ), carr AS (
      SELECT label, list(c ORDER BY pos) AS carr FROM cent GROUP BY label
    ), rowcos AS (
      SELECT e.label,
             ROUND(
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * a.carr[i]))
               / greatest(
                   sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                   * sqrt(list_sum(list_transform(a.carr, x -> x * x))),
                   1e-12),
               6) AS cs
      FROM embeddings e JOIN carr a USING (label)
    ), own AS (
      SELECT label, COUNT(*) AS n_vecs,
             ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((cs) * 10000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000000000.0) AS DOUBLE) / COUNT(*), 6)
               AS mean_cos_own
      FROM rowcos GROUP BY label
    ), cc AS (
      SELECT x.label AS la, y.label AS lb,
             ROUND(
               list_sum(list_transform(range(1, len(x.carr) + 1),
                        i -> x.carr[i] * y.carr[i]))
               / greatest(
                   sqrt(list_sum(list_transform(x.carr, v -> v * v)))
                   * sqrt(list_sum(list_transform(y.carr, v -> v * v))),
                   1e-12),
               6) AS cs
      FROM carr x JOIN carr y ON x.label <> y.label
    ), best AS (
      SELECT la, lb, cs,
             row_number() OVER (PARTITION BY la ORDER BY cs DESC, lb) AS rn
      FROM cc
    )
    SELECT o.label, o.n_vecs, o.mean_cos_own,
           b.lb AS nearest_other_label, b.cs AS cos_nearest_other,
           ROUND(o.mean_cos_own - b.cs, 6) AS margin
    FROM own o JOIN best b ON b.la = o.label AND b.rn = 1
    ORDER BY o.label
    """,
)
def emb_label_separation(spark, sf_dir):
    """Embedding class-separation diagnostic: per label, the mean cosine
    of member vectors to their OWN centroid versus the highest cosine
    between that centroid and any OTHER label's centroid — the
    Fisher-style margin that predicts whether label-blocked ANN
    (cosine_near_dup_pairs' block_cols) and IVF cells will work on this
    corpus.  Centroids reuse the long-form aggregation of
    emb_label_centroids (oracle-green r03), round to 6 at source, and
    broadcast-join back as arrays; per-row cosines round to 6 then sum as
    exact DECIMAL, so partial-agg order cannot flip the hash.  The
    centroid-pair stage is labels^2 rows — label-sized, never
    corpus-sized; the per-row stage is one broadcast join + one pass."""
    emb = _t(spark, sf_dir, "embeddings")
    cent_long = (
        emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 6).alias("c"))
    )
    cent = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("carr")
    )

    def _cos(a: F.Column, b: F.Column) -> F.Column:
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        na = F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        )
        nb = F.sqrt(
            F.aggregate(
                F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        )
        return F.round(dot / F.greatest(na * nb, F.lit(1e-12)), 6)

    e_dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    rowcos = emb.join(F.broadcast(cent), "label").select(
        "label", _cos(e_dbl, F.col("carr")).alias("cs")
    )
    own = rowcos.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            dsum("cs", 10) / F.count(F.lit(1)),
            6,
        ).alias("mean_cos_own"),
    )
    a = cent.select(F.col("label").alias("la"), F.col("carr").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), F.col("carr").alias("cb"))
    cc = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("la") != F.col("lb"))
        .select("la", "lb", _cos(F.col("ca"), F.col("cb")).alias("cs"))
    )
    wb = Window.partitionBy("la").orderBy(F.desc("cs"), "lb")
    best = cc.withColumn("rn", F.row_number().over(wb)).filter(F.col("rn") == 1)
    return (
        own.join(best, own.label == best.la)
        .select(
            "label",
            "n_vecs",
            "mean_cos_own",
            F.col("lb").alias("nearest_other_label"),
            F.col("cs").alias("cos_nearest_other"),
            F.round(F.col("mean_cos_own") - F.col("cs"), 6).alias("margin"),
        )
        .orderBy("label")
    )


@query(
    "docs_cdc_chunk_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ), tok AS (
      SELECT doc_id, source, i AS pos, toks[i] AS tok,
             CASE WHEN ('0x' || substr(md5('cdc:' || toks[i]), 1, 8))::BIGINT % 8 = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
      WHERE len(toks) > 0
    ), marked AS (
      SELECT doc_id, source, pos, tok,
             COALESCE(SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM tok
    ), chunks AS (
      SELECT doc_id, source, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
             COUNT(*) AS n_tokens
      FROM marked GROUP BY 1, 2, 3
    ), freq AS (
      SELECT chunk_hash, COUNT(*) AS n_occ FROM chunks GROUP BY 1
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(c.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN f.n_occ > 1 THEN c.n_tokens ELSE 0 END) AS BIGINT)
             AS n_dup_tokens,
           ROUND(CAST(SUM(CASE WHEN f.n_occ > 1 THEN c.n_tokens ELSE 0 END) AS DOUBLE)
                 / SUM(c.n_tokens), 6) AS dup_token_frac
    FROM chunks c JOIN freq f USING (chunk_hash)
    GROUP BY c.source ORDER BY c.source
    """,
)
def docs_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunk dedup (the FastCDC/rsync family, token-level):
    chunk boundaries fall where a token's content hash lands in a fixed
    residue class (expected chunk length 8 tokens), so INSERTING text
    shifts chunk ids but not chunk CONTENT — unlike the fixed sliding
    windows of docs_substring_dup_spans, edits only perturb the one chunk
    they touch.  Chunks hash globally; a chunk appearing in >1 place
    (same doc or across docs/sources) is duplicated, and the per-source
    duplicated-token fraction is the storage/training-redundancy the
    corpus carries.  Boundary decisions are pure token-hash residues
    (md5 — the oracle replays every boundary bit-for-bit);
    chunking is one per-doc window pass, dedup one groupBy on chunk
    hash — shuffle proportional to chunks, never doc pairs."""
    docs = _t(spark, sf_dir, "documents")
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    toks = docs.select(
        "doc_id", "source", F.posexplode(_tokens(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "tok")
    boundary = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("cdc:"), F.col("tok"))), 1, 8), 16, 10)
        .cast("long")
        % 8
        == 0,
        1,
    ).otherwise(0)
    wdoc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    marked = toks.withColumn("boundary", boundary).withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(wdoc), F.lit(0))
    )
    chunks = (
        marked.groupBy("doc_id", "source", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("chunk_hash"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    freq = chunks.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("n_occ"))
    dup_tok = F.sum(F.when(F.col("n_occ") > 1, F.col("n_tokens")).otherwise(0))
    return (
        chunks.join(freq, "chunk_hash")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            dup_tok.cast("long").alias("n_dup_tokens"),
            F.round(dup_tok.cast("double") / F.sum("n_tokens"), 6).alias(
                "dup_token_frac"
            ),
        )
        .orderBy("source")
    )


@query(
    "media_image_phash_groups",
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
             list_transform(range(0, 64), c ->
               ( ascii(substr(text, CAST(((c // 8) * h // 8) * stride
                                         + 3 * ((c % 8) * w // 8) AS BIGINT) % l + 1, 1))
               + ascii(substr(text, CAST(((c // 8) * h // 8) * stride
                                         + 3 * ((c % 8) * w // 8) + 1 AS BIGINT) % l + 1, 1))
               + ascii(substr(text, CAST(((c // 8) * h // 8) * stride
                                         + 3 * ((c % 8) * w // 8) + 2 AS BIGINT) % l + 1, 1))
               ) // 3) AS grays
      FROM img
    ), ph AS (
      SELECT doc_id,
             array_to_string(
               list_transform(grays,
                 gr -> CASE WHEN 64 * gr > list_sum(grays) THEN '1' ELSE '0' END),
               '') AS phash
      FROM g
    )
    SELECT phash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           MIN(doc_id) AS min_asset_id,
           MAX(doc_id) AS max_asset_id
    FROM ph GROUP BY phash ORDER BY phash
    """,
)
def media_image_phash_groups(spark, sf_dir):
    """Perceptual image dedup: REAL BMP payloads decode to pixels, each
    image gets an all-integer 64-bit average-hash
    (operators.multimodal.image_phash), and images group by fingerprint —
    the multimodal counterpart of exact text dedup (re-encoded or
    resized-identical images share a perceptual bucket even when payload
    bytes differ).  The oracle regenerates every SAMPLED PIXEL from
    doc_id geometry + the documented byte tiling (ASCII text assumption
    as in the media-feature/audio oracles), so a single wrong byte
    anywhere in the decode -> downsample -> threshold path flips the
    hash.  Fingerprinting is one Arrow-batched kernel pass; grouping is
    one 64-char-key groupBy — payload bytes never shuffle."""
    from prod_data_pipeline_spark.operators.multimodal import (
        image_phash,
        synthetic_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "image")
    ph = image_phash(assets)
    return (
        ph.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("asset_id").alias("min_asset_id"),
            F.max("asset_id").alias("max_asset_id"),
        )
        .orderBy("phash")
    )


def _threshold_sweep_oracle_sql(thresholds: tuple[float, ...]) -> str:
    theta_rows = " UNION ALL ".join(f"SELECT {t} AS theta" for t in thresholds)
    return f"""
    WITH {near_dup_pairs_sql(0.5, materialize=True)}, ends AS MATERIALIZED (
      SELECT id_a AS v, jaccard FROM pairs UNION ALL SELECT id_b AS v, jaccard FROM pairs
    ), thetas AS ({theta_rows})
    SELECT theta,
           CAST((SELECT COUNT(*) FROM pairs WHERE jaccard >= theta) AS BIGINT) AS n_pairs,
           CAST((SELECT COUNT(DISTINCT v) FROM ends WHERE jaccard >= theta) AS BIGINT)
             AS n_nodes,
           ROUND(COALESCE(
             (SELECT CAST((CAST(CAST(SUM(CAST(FLOOR((jaccard) * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100000000.0) AS DOUBLE)
                     / COUNT(*) FROM pairs WHERE jaccard >= theta), 0.0), 6) AS avg_jaccard
    FROM thetas ORDER BY theta
    """


@query(
    "docs_dup_threshold_sweep",
    oracle=_threshold_sweep_oracle_sql((0.5, 0.6, 0.7, 0.8)),
)
def docs_dup_threshold_sweep(spark, sf_dir):
    """Dedup-aggressiveness knob sweep: the verified LSH near-dup pairs are
    scored ONCE (the expensive corpus-sized pass), then each candidate
    threshold theta reads the bounded pair relation — pairs retained,
    documents touched, and mean retained similarity per theta.  This is
    the curve a curation team inspects before committing to a dedup
    threshold (too low over-deletes via chains, too high leaves
    templates); sweeping by re-running the pipeline per theta would cost
    |thetas| corpus scans instead of one.  Candidates come from banding
    tuned for theta=0.5, so higher-theta rows measure the SAME verified
    pair set filtered tighter — stated in the name: this sweeps the dedup
    decision, not LSH recall (emb_ivf_recall / docs_lsh_recall_vs_exact
    cover recall).  The pair relation localCheckpoints so four theta
    aggregates don't re-run LSH."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, sort=False, materialize=True)
    thetas = spark.createDataFrame([(t,) for t in (0.5, 0.6, 0.7, 0.8)], ["theta"])
    ends = pairs.select(F.col("id_a").alias("v"), "jaccard").unionByName(
        pairs.select(F.col("id_b").alias("v"), "jaccard")
    )
    # Broadcast the 4-row theta relation explicitly: the bounded pair side is
    # a localCheckpointed RDD with no stats, so without the hint the non-equi
    # join degenerates to CartesianProduct instead of BroadcastNestedLoop.
    kept = pairs.crossJoin(F.broadcast(thetas)).filter(
        F.col("jaccard") >= F.col("theta")
    )
    kept_ends = ends.crossJoin(F.broadcast(thetas)).filter(
        F.col("jaccard") >= F.col("theta")
    )
    agg_pairs = kept.groupBy("theta").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            dsum("jaccard", 8)
            / F.count(F.lit(1)),
            6,
        ).alias("avg_jaccard"),
    )
    agg_nodes = kept_ends.groupBy("theta").agg(
        F.countDistinct("v").alias("n_nodes")
    )
    return (
        thetas.join(agg_pairs, "theta", "left")
        .join(agg_nodes, "theta", "left")
        .select(
            "theta",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
            F.coalesce("avg_jaccard", F.lit(0.0)).alias("avg_jaccard"),
        )
        .orderBy("theta")
    )


@query(
    "docs_bpe_encode_stats",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS_SQL}) AS token FROM documents
    ), tsrc AS (
      SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ), tf AS (
      SELECT token, SUM(c) AS c FROM tsrc GROUP BY token
    ), p1 AS (
      SELECT unnest(list_transform(range(1, length(token)), i -> substr(token, i, 2)))
                 AS pair, c
      FROM tf WHERE length(token) >= 2
    ), m1 AS (
      SELECT pair FROM p1 GROUP BY pair ORDER BY SUM(c) DESC, pair ASC LIMIT 1
    ), v1 AS (
      SELECT token, replace(token, (SELECT pair FROM m1), '1') AS t1, c FROM tf
    ), p2 AS (
      SELECT unnest(list_transform(range(1, length(t1)), i -> substr(t1, i, 2)))
                 AS pair, c
      FROM v1 WHERE length(t1) >= 2
    ), m2 AS (
      SELECT pair FROM p2 GROUP BY pair ORDER BY SUM(c) DESC, pair ASC LIMIT 1
    ), vocab AS (
      SELECT token, length(token) AS len_b,
             length(replace(t1, (SELECT pair FROM m2), '2')) AS len_a
      FROM v1
    )
    SELECT s.source,
           CAST(SUM(s.c) AS BIGINT) AS n_tokens,
           CAST(SUM(s.c * v.len_b) AS BIGINT) AS n_symbols_before,
           CAST(SUM(s.c * v.len_a) AS BIGINT) AS n_symbols_after,
           ROUND(CAST(SUM(s.c * v.len_a) AS DOUBLE) / SUM(s.c * v.len_b), 6)
             AS compression
    FROM tsrc s JOIN vocab v USING (token)
    GROUP BY s.source ORDER BY s.source
    """,
)
def docs_bpe_encode_stats(spark, sf_dir):
    """BPE ENCODE applied end-to-end: the two merges learned by
    docs_bpe_merge_candidates / docs_bpe_second_merge rewrite the
    distinct-word vocabulary (vocab-sized work), and each source's corpus
    re-encodes through that vocabulary by join — symbol counts before vs
    after measure the tokenizer's compression per source, the statistic
    that decides how many merges a corpus needs.  The corpus is touched
    exactly once (per-source word counts); merge selection, application,
    and re-encoding all run on the (word, count) relation — the structure
    that keeps real BPE trainers tractable at 100 TB.  Deterministic
    merge winners via count-desc + pair-asc tie-break, exactly as the
    prior two queries (both oracle-green r05-window)."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    # One corpus tokenize: the (source, word, count) relation feeds the
    # merge-learning chain (tf -> m1 -> v1 -> m2 -> vocab, four replay
    # paths) and the final re-encode join — 5 documents scans without the
    # cut, 1 with; every replay is then a vocab-sized re-agg of the cache.
    tsrc = (
        docs.select("source", F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(truncate_lineage, eager=False)
    )
    tf = tsrc.groupBy("token").agg(F.sum("c").alias("c"))

    def pair_counts(src, col):
        return (
            src.filter(F.length(col) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.length(col) - 1),
                        lambda i: F.substring(F.col(col), i, F.lit(2)),
                    )
                ).alias("pair"),
                "c",
            )
            .groupBy("pair")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
        )

    m1 = pair_counts(tf, "token").select(F.col("pair").alias("m1"))
    v1 = tf.crossJoin(F.broadcast(m1)).select(
        "token", F.replace(F.col("token"), F.col("m1"), F.lit("1")).alias("t1"), "c"
    )
    m2 = pair_counts(v1, "t1").select(F.col("pair").alias("m2"))
    vocab = v1.crossJoin(F.broadcast(m2)).select(
        "token",
        F.length("token").alias("len_b"),
        F.length(F.replace(F.col("t1"), F.col("m2"), F.lit("2"))).alias("len_a"),
    )
    return (
        tsrc.join(vocab, "token")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("len_b")).cast("long").alias("n_symbols_before"),
            F.sum(F.col("c") * F.col("len_a")).cast("long").alias("n_symbols_after"),
            F.round(
                F.sum(F.col("c") * F.col("len_a")).cast("double")
                / F.sum(F.col("c") * F.col("len_b")),
                6,
            ).alias("compression"),
        )
        .orderBy("source")
    )


def _lpa_oracle_sql(n_rounds: int = 4) -> str:
    """Near-dup edges (same LSH pipeline as the kcore/taint oracles) +
    `n_rounds` unrolled synchronous label-propagation rounds with the
    count-desc/label-asc argmax tie-break."""
    parts = [
        f"""
    WITH {near_dup_pairs_sql(0.5, materialize=True)}, e0 AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM e0
    )"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""", n{r} AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS cnt
      FROM e0 e JOIN l{r-1} l ON l.node = e.src GROUP BY 1, 2
    ), b{r} AS (
      SELECT node, label AS new_label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM n{r}
      ) WHERE rn = 1
    ), l{r} AS MATERIALIZED (
      SELECT l.node, COALESCE(b.new_label, l.label) AS label
      FROM l{r-1} l LEFT JOIN b{r} b USING (node)
    )"""
        )
    parts.append(
        f"""
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS min_member,
           MAX(node) AS max_member
    FROM l{n_rounds} GROUP BY label ORDER BY community
    """
    )
    return "".join(parts)


@query(
    "docs_lpa_communities",
    oracle=_lpa_oracle_sql(4),
)
def docs_lpa_communities(spark, sf_dir):
    """Label-propagation communities over the near-dup graph
    (operators.graph.label_propagation): dense duplicate communities
    rather than mere reachability — a thin false-positive bridge between
    two template families keeps them SEPARATE here, where connected
    components (corpus_dup_clusters) would merge them; comparing the two
    partitions is how a curation pass detects over-merging before
    deleting.  Deterministic synchronous LPA (most-frequent neighbor
    label, ties to the smallest label — all-integer argmax), 4 rounds,
    replayed exactly by the oracle's unrolled CTEs.  Per round one
    (node, label) shuffle against the persisted edges; community-level
    output."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.operators.graph import label_propagation

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, sort=False)
    labels = label_propagation(pairs, n_rounds=4)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_member"),
            F.max("node").alias("max_member"),
        )
        .orderBy("community")
    )


@query(
    "emb_centroid_drift",
    oracle="""
    WITH cent AS (
      SELECT label, vec_id % 2 AS half, pos,
             ROUND(SUM(CAST(embedding[pos] AS DOUBLE)) / COUNT(*), 6) AS c
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)
      GROUP BY 1, 2, 3
    ), paired AS (
      SELECT a.label, a.pos, a.c AS c0, b.c AS c1
      FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1
    ), sums AS (
      SELECT label,
             CAST(SUM(CAST(ROUND(c0 * c1, 12) AS DECIMAL(28,14))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(ROUND(c0 * c0, 12) AS DECIMAL(28,14))) AS DOUBLE) AS n0,
             CAST(SUM(CAST(ROUND(c1 * c1, 12) AS DECIMAL(28,14))) AS DOUBLE) AS n1
      FROM paired GROUP BY label
    ), counts AS (
      SELECT label,
             SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
      FROM embeddings GROUP BY label
    )
    SELECT s.label,
           CAST(c.n_a AS BIGINT) AS n_a,
           CAST(c.n_b AS BIGINT) AS n_b,
           ROUND(s.dot / greatest(sqrt(s.n0) * sqrt(s.n1), 1e-12), 6) AS cos_drift
    FROM sums s JOIN counts c USING (label) ORDER BY s.label
    """,
)
def emb_centroid_drift(spark, sf_dir):
    """Embedding drift check between two halves of the corpus (vec_id
    parity stands in for old-snapshot vs new-crawl): per label, the
    cosine between the halves' centroids — cos near 1 means the label's
    geometry is stable and ANN indexes / classifiers transfer; a drop
    flags distribution shift at the REPRESENTATION level, complementing
    the token-level docs_distribution_shift.  Determinism: centroids
    round to 6 at source (the emb_label_centroids recipe), every product
    term rounds to 12 digits and sums as exact DECIMAL — label-keyed
    aggregation of 64-term sums, corpus touched once."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("pos0", "v"),
        )
        .groupBy("label", "half", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 6).alias("c"))
    )
    a = cent.filter(F.col("half") == 0).select("label", "pos", F.col("c").alias("c0"))
    b = cent.filter(F.col("half") == 1).select("label", "pos", F.col("c").alias("c1"))
    dec = "decimal(28,14)"
    sums = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(F.round(F.col("c0") * F.col("c1"), 12).cast(dec))
            .cast("double")
            .alias("dot"),
            F.sum(F.round(F.col("c0") * F.col("c0"), 12).cast(dec))
            .cast("double")
            .alias("n0"),
            F.sum(F.round(F.col("c1") * F.col("c1"), 12).cast(dec))
            .cast("double")
            .alias("n1"),
        )
    )
    counts = emb.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    return (
        sums.join(counts, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("dot")
                / F.greatest(F.sqrt("n0") * F.sqrt("n1"), F.lit(1e-12)),
                6,
            ).alias("cos_drift"),
        )
        .orderBy("label")
    )


@query(
    "orders_pareto_frontier",
    oracle="""
    WITH dm AS (
      SELECT CAST(o_orderdate AS DATE) AS d, MAX(o_totalprice) AS dmax
      FROM orders GROUP BY 1
    ), c AS (
      SELECT d, dmax,
             MAX(dmax) OVER (ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS carry
      FROM dm
    )
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice
    FROM orders o JOIN c ON c.d = CAST(o.o_orderdate AS DATE)
    WHERE o.o_totalprice = c.dmax AND (c.carry IS NULL OR o.o_totalprice > c.carry)
    ORDER BY o_orderdate, o.o_orderkey
    """,
)
def orders_pareto_frontier(spark, sf_dir):
    """Pareto frontier (skyline) of orders under (earlier date, higher
    price): an order survives iff no other order is at least as early AND
    at least as expensive with one strict — the multi-criteria preference
    query behind best-offer/efficiency-frontier reports.  The classic
    algorithm sorts ALL rows and sweeps a running max — a global sort —
    so this uses the same two-phase decomposition as
    sessions_peak_concurrency: per-date max price (combiner-friendly,
    date-keyed), an exclusive running max over the DAYS-sized relation
    (where a global window is free), and one broadcast join back;
    frontier membership is then two comparisons per row.  Dominance uses
    the raw parquet doubles both engines read identically — no arithmetic
    is performed on them, so comparison determinism is unconditional."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    dm = orders.groupBy("d").agg(F.max("o_totalprice").alias("dmax"))
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    c = dm.withColumn("carry", F.max("dmax").over(wc))
    return (
        orders.join(F.broadcast(c), "d")
        .filter(
            (F.col("o_totalprice") == F.col("dmax"))
            & (F.col("carry").isNull() | (F.col("o_totalprice") > F.col("carry")))
        )
        .select(
            "o_orderkey",
            F.col("d").alias("o_orderdate"),
            "o_totalprice",
        )
        .orderBy("o_orderdate", "o_orderkey")
    )


@query(
    "media_video_scene_changes",
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
      SELECT f.doc_id, f.i,
             list_sum(list_transform(range(0, f.wh),
               k -> CASE WHEN f.l > f.i
                         THEN ascii(substr(v.text,
                                CAST(k % (f.l - f.i) AS INT) + CAST(f.i AS INT) + 1, 1))
                         ELSE ascii(substr(v.text, CAST(k % f.l AS INT) + 1, 1))
                    END)) AS y_sum
      FROM fr f JOIN v ON v.doc_id = f.doc_id
    ), lagged AS (
      SELECT doc_id, i, y_sum,
             lag(y_sum) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM fy
    )
    SELECT doc_id AS asset_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                         AND abs(y_sum - prev) * 10 > prev * 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scene_changes,
           CAST(MIN(y_sum) AS BIGINT) AS min_luma_sum,
           CAST(MAX(y_sum) AS BIGINT) AS max_luma_sum
    FROM lagged GROUP BY doc_id ORDER BY asset_id
    """,
)
def media_video_scene_changes(spark, sf_dir):
    """Scene-change detection over REAL-decoded video: consecutive frames
    whose Y-plane luma sum jumps by more than 30% mark a cut — the
    shot-boundary primitive of video curation (frame-sampling budgets,
    per-scene captioning).  The decision is an INTEGER cross-
    multiplication (|cur−prev|·10 > prev·3) over the frame statistics
    media_video_frame_stats already verifies sample-exactly, so the
    oracle replays the full decode → lag → threshold chain.  One Arrow
    kernel pass + a per-asset window (frames per asset are bounded);
    payload bytes never shuffle."""
    from prod_data_pipeline_spark.operators.multimodal import (
        synthetic_media_assets,
        video_frame_features,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synthetic_media_assets(docs).filter(F.col("media_type") == "video")
    frames = video_frame_features(assets)
    wf = Window.partitionBy("asset_id").orderBy("frame_idx")
    lagged = frames.withColumn("prev", F.lag("y_sum").over(wf))
    return (
        lagged.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.abs(F.col("y_sum") - F.col("prev")) * 10 > F.col("prev") * 3),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_scene_changes"),
            F.min("y_sum").cast("long").alias("min_luma_sum"),
            F.max("y_sum").cast("long").alias("max_luma_sum"),
        )
        .orderBy("asset_id")
    )


_FINGERPRINT_COLS: dict[str, tuple[str, ...]] = {
    # integer/string/date columns only: doubles are excluded because their
    # STRING rendering is engine-specific (Spark "1.0E7" vs DuckDB "10000000.0")
    # even when the bits agree — hashing must see identical bytes.
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
    "orders": (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "CAST(o_orderdate AS DATE)",
        "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "CAST(l_shipdate AS DATE)",
    ),
}


def _fingerprint_oracle_sql() -> str:
    selects = []
    for t, cols in _FINGERPRINT_COLS.items():
        concat = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        selects.append(
            f"""SELECT '{t}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(('0x' || substr(md5({concat}), 1, 12))::BIGINT)
                AS DECIMAL(28,0)) AS VARCHAR) AS fingerprint
    FROM {t}"""
        )
    return "\n    UNION ALL\n    ".join(selects) + "\n    ORDER BY table_name"


@query(
    "tables_fingerprint_audit",
    oracle=_fingerprint_oracle_sql(),
)
def tables_fingerprint_audit(spark, sf_dir):
    """Order-insensitive table fingerprints: per table, an exact DECIMAL
    sum of a 48-bit md5 over each row's canonical serialization — two
    engines (or two copies of a table before/after a migration) agree on
    the fingerprint iff they hold the same multiset of rows, making this
    the one-number cross-system equality proof a cutover checklist wants
    (the whole-table generalization of snapshot_changelog's keyed diff).
    Addition is commutative, so partitioning/parallelism cannot move the
    value; doubles are excluded from the serialization because their
    string rendering is engine-specific (see _FINGERPRINT_COLS).  One
    combiner-friendly agg per table — each task contributes one partial
    sum, bytes shuffled ∝ tables, not rows."""
    rows = []
    for t, cols in _FINGERPRINT_COLS.items():
        df = _t(spark, sf_dir, t)
        concat = F.concat_ws(
            "|", *[F.expr(c).cast("string") for c in cols]
        )
        h48 = F.conv(F.substring(F.md5(concat), 1, 12), 16, 10).cast("long")
        rows.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(h48.cast("decimal(28,0)")).cast("string").alias("fingerprint"),
            ).select(
                F.lit(t).alias("table_name"), "n_rows", "fingerprint"
            )
        )
    return reduce(lambda a, b: a.unionByName(b), rows).orderBy("table_name")


_SKEW_KEYS: list[tuple[str, str]] = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
]


def _skew_oracle_sql() -> str:
    selects = []
    for t, k in _SKEW_KEYS:
        selects.append(
            f"""SELECT '{t}.{k}' AS key_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_count,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top1_share,
           ROUND(sqrt(CAST(COUNT(*) AS DOUBLE) * SUM(c * c) - CAST(SUM(c) AS DOUBLE) * SUM(c))
                 / SUM(c), 6) AS cv
    FROM (SELECT {k}, COUNT(*) AS c FROM {t} WHERE {k} IS NOT NULL GROUP BY {k})"""
        )
    return "\n    UNION ALL\n    ".join(selects) + "\n    ORDER BY key_name"


@query(
    "join_key_skew_report",
    oracle=_skew_oracle_sql(),
)
def join_key_skew_report(spark, sf_dir):
    """Join-key skew profile for every shuffle key the workload joins or
    aggregates on: rows, distinct keys, the hottest key's row count and
    share, and the coefficient of variation of per-key counts — the
    numbers that decide, BEFORE a 100 TB run, whether a key needs the
    salting/AQE treatment in operators/skew.py (top1_share ~ 1/reducers
    means one straggler task).  CV is computed from exact integer sums
    (n·Σc² − (Σc)² under one sqrt), so engines agree bit-for-bit; each
    key costs one combiner-friendly count agg + a keys-sized reduction."""
    rows = []
    for t, k in _SKEW_KEYS:
        df = _t(spark, sf_dir, t).filter(F.col(k).isNotNull())
        counts = df.groupBy(k).agg(F.count(F.lit(1)).alias("c"))
        rows.append(
            counts.agg(
                F.sum("c").cast("long").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("c").cast("long").alias("max_count"),
                F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top1_share"),
                F.round(
                    F.sqrt(
                        F.count(F.lit(1)).cast("double") * F.sum(F.col("c") * F.col("c"))
                        - F.sum("c").cast("double") * F.sum("c")
                    )
                    / F.sum("c"),
                    6,
                ).alias("cv"),
            ).select(F.lit(f"{t}.{k}").alias("key_name"), "*")
        )
    return reduce(lambda a, b: a.unionByName(b), rows).orderBy("key_name")


@query(
    "events_kanonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(floor(value) AS BIGINT) AS vbin, COUNT(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
           CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(c) AS BIGINT) AS min_group_size,
           ROUND(CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 6)
             AS at_risk_share
    FROM qi
    """,
)
def events_kanonymity_audit(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (event_type, day,
    integer value bin): groups smaller than k=5 re-identify their members
    under linkage attacks, so the release gate wants their count, row
    mass, and share — the privacy-governance twin of the DQ gate (both
    are one-pass aggregation screens that run BEFORE data leaves the
    pipeline).  One combiner-friendly groupBy on the QI tuple + a
    groups-sized reduction; all decisions integer."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    qi = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor("value").cast("long").alias("vbin"),
    ).agg(F.count(F.lit(1)).alias("c"))
    small = F.sum(F.when(F.col("c") < 5, F.col("c")).otherwise(0))
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("c").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("c") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_small_groups"),
        small.cast("long").alias("n_rows_at_risk"),
        F.min("c").cast("long").alias("min_group_size"),
        F.round(small.cast("double") / F.sum("c"), 6).alias("at_risk_share"),
    )


@query(
    "customer_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rnk
      FROM rev
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS total,
             CAST(SUM(CAST(rnk AS DECIMAL(19,0)) * cents) AS DOUBLE) AS wsum
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(total / 100, 2) AS total_revenue,
           ROUND(2.0 * wsum / (n * total) - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
)
def customer_revenue_gini(spark, sf_dir):
    """Gini coefficient of customer revenue concentration — the
    inequality companion to supplier_concentration_hhi, and a ranking
    showcase: the formula needs every customer's GLOBAL revenue rank,
    which operators/ranking.py::bucketed_global_rank delivers without a
    global sort (bucket bounds + per-bucket row_number + bucket offsets).
    Revenue goes to exact integer cents before anything sums; Σ(rank·x)
    accumulates as DECIMAL(38,0) (rank·cents exceeds int64 at warehouse
    scale), so the single double division at the end is the only float
    op.  Ties in revenue are rank-permutation-invariant in Σ(rank·x) —
    the tie-break exists only to keep row_number a total order."""
    from prod_data_pipeline_spark.operators.ranking import bucketed_global_rank

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = bucketed_global_rank(rev, order_cols=["cents", "o_custkey"])
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("total"),
        F.sum(F.col("rank").cast("decimal(19,0)") * F.col("cents"))
        .cast("double")
        .alias("wsum"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("total") / 100, 2).alias("total_revenue"),
        F.round(
            2.0 * F.col("wsum") / (F.col("n") * F.col("total"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


