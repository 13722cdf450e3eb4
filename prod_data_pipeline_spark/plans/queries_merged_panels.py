"""Consolidation panels: four near-twin query pairs merged into one
query each.

Each panel is registered via @query and its two source queries are not;
the pairs' SURVEY §2 rows live on the panel rows, and the DSUM_EXCEPTIONS
entries migrated (emb_ivf_append_audit/recall -> emb_ivf_append_panel).
Net registry 231 - 8 + 4 = 227; tests/test_merged_panels.py pins the
switch state.

Each panel computes its pair's SHARED pipeline once and emits the union of
both result shapes (NULL-padded, identically on both engines), so the
merge is strictly cheaper than the pair it replaces:

- events_hll_users_panel: one daily-sketch relation + one rollup scan
  serve per-type AND global scopes for all three estimators (the pair ran
  three corpus passes; this runs two).
- docs_gate_eval_panel: ONE trained-gate pipeline pass; the 2x2 agreement
  confusion is derived from the calibration bins (keep <=> prob >= 0.5
  <=> pm >= 500000 <=> bin >= 5), so kappa adds zero scans to ECE (the
  pair ran the gate pipeline end-to-end twice).
- emb_ivf_append_panel: ONE shared snapshot/union codebook aggregation
  (label_centroids_split) and one appended-postings relation serve both
  the balance audit and the three recall searches.
- events_value_distribution: one filtered scan feeds the fixed-width
  histogram and the per-type exact quantiles.

Reference parity: the pair members' docstrings carry the reference
citations; the panels inherit them unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prod_data_pipeline_spark.plans.query_registry import (
    _COS_SQL,
    _SQDIST_SQL,
    _t,
    ft_scored_sql,
    query,
)
from prod_data_pipeline_spark.plans.queries_curation_gates import (
    _IVF_APPEND_SPLIT_SQL,
    kappa_report_columns,
)
from prod_data_pipeline_spark.session import truncate_lineage


# ---------------------------------------------------------------------------
# 1. events_hll_users_panel
#    (events_hll_mergeable_users + events_approx_distinct_users)
# ---------------------------------------------------------------------------

HLL_USERS_PANEL_ORACLE = """
SELECT CASE WHEN GROUPING(event_type) = 1 THEN '__all__'
            ELSE event_type END AS scope,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(0.1 AS DOUBLE) AS rel_err_bound,
       TRUE AS direct_within_bound,
       TRUE AS merged_within_bound
FROM events WHERE user_id IS NOT NULL
GROUP BY ROLLUP (event_type)
ORDER BY scope
"""


@query(
    "events_hll_users_panel",
    oracle=HLL_USERS_PANEL_ORACLE,
)
def events_hll_users_panel(spark, sf_dir):
    """Distinct-user estimation panel, per event_type AND corpus-wide in
    one query: exact count, single-pass HLL sketch, and merged-of-daily
    HLL sketches (the incremental-rollup pattern — daily partitions keep
    a few-KB sketch; any range distinct count is a sketch union, no
    re-scan).  Sketch estimates are engine-specific, so the hashed
    output carries the exact counts plus within-10%-bound booleans for
    both estimators (DataSketches HLL rsd ~1.6% at default lgK, so 0.1
    is a >5-sigma envelope); a sketch/merge regression flips a boolean.
    Scopes: one row per event_type plus a '__all__' row — ONE rollup agg
    computes direct sketches and exact counts for every scope, and ONE
    rollup over the daily-sketch relation computes every merged
    estimate.  The direct/merged rollups join null-safely on scope, so a
    NULL event_type group (scope NULL on both sides, kept by DuckDB's
    ROLLUP too) survives the join instead of being dropped by inner-join
    NULL semantics (r14 advisory); the '__all__' rollup-total label
    assumes no literal '__all__' event_type value — the scan schema pins
    event_type to the TESTDATA_EVENT_TYPES vocabulary, which excludes
    it.  100 TB: two corpus scans (daily sketching + rollup) where the
    pair this panel replaces ran three."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # grouping() is only legal inside the aggregate list, so the scope
    # label derives from a g flag emitted by each rollup agg
    scope = F.when(F.col("g") == 1, F.lit("__all__")).otherwise(
        F.col("event_type")
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = (
        daily.rollup("event_type")
        .agg(
            F.grouping("event_type").alias("g"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("merged_users"),
        )
        .select(scope.alias("scope"), "merged_users")
    )
    de = (
        ev.rollup("event_type")
        .agg(
            F.grouping("event_type").alias("g"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("direct_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .select(scope.alias("scope"), "direct_users", "exact_users")
    )
    bound = F.lit(0.1)
    return (
        de.join(merged, de["scope"].eqNullSafe(merged["scope"]))
        .drop(merged["scope"])
        .select(
            "scope",
            "exact_users",
            bound.cast("double").alias("rel_err_bound"),
            (
                F.abs(F.col("direct_users") - F.col("exact_users"))
                <= bound * F.col("exact_users")
            ).alias("direct_within_bound"),
            (
                F.abs(F.col("merged_users") - F.col("exact_users"))
                <= bound * F.col("exact_users")
            ).alias("merged_within_bound"),
        )
        # asc_nulls_last matches DuckDB's default ORDER BY NULL placement;
        # Spark's default (NULLs first) would diverge if a NULL scope ever
        # appeared (r15 advisory, seated r17).
        .orderBy(F.col("scope").asc_nulls_last())
    )


# ---------------------------------------------------------------------------
# 2. docs_gate_eval_panel
#    (docs_gate_agreement_kappa + docs_gate_calibration)
# ---------------------------------------------------------------------------

GATE_EVAL_PANEL_ORACLE = f"""
    WITH {ft_scored_sql()}, p6 AS (
      SELECT s.doc_id, lab.y,
             CAST(ROUND(s.prob * 1000000.0, 0) AS BIGINT) AS pm
      FROM scored s JOIN lab USING (doc_id)
    ), bins AS (
      SELECT LEAST(pm // 100000, 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(pm) AS BIGINT) AS sum_conf_micro
      FROM p6 GROUP BY 1
    ), ece AS (
      SELECT CAST((2 * SUM(ABS(n_pos * 1000000 - sum_conf_micro))
                   + SUM(n_docs))
                  // (2 * SUM(n_docs)) AS BIGINT) / 1000000.0 AS ece
      FROM bins
    ), conf AS (
      -- the 2x2 model-vs-heuristic confusion is DERIVED from the bins:
      -- model keep <=> prob >= 0.5 <=> pm >= 500000 <=> bin >= 5
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN bin >= 5 THEN n_pos ELSE 0 END)
                  AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN bin >= 5 THEN n_docs - n_pos ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN bin < 5 THEN n_pos ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN bin < 5 THEN n_docs - n_pos ELSE 0 END)
                  AS BIGINT) AS n00
      FROM bins
    )
    SELECT 'calibration' AS metric,
           CAST(bin AS BIGINT) AS bin, n_docs, n_pos, sum_conf_micro,
           CAST((2 * sum_conf_micro + n_docs) // (2 * n_docs) AS BIGINT)
               / 1000000.0 AS mean_conf,
           CAST((2 * n_pos * 1000000 + n_docs) // (2 * n_docs) AS BIGINT)
               / 1000000.0 AS frac_pos,
           CAST(ABS(n_pos * 1000000 - sum_conf_micro) AS BIGINT)
               AS gap_micro,
           (SELECT ece FROM ece) AS ece,
           CAST(NULL AS BIGINT) AS n_both_keep,
           CAST(NULL AS BIGINT) AS n_model_only,
           CAST(NULL AS BIGINT) AS n_heuristic_only,
           CAST(NULL AS BIGINT) AS n_both_drop,
           CAST(NULL AS DOUBLE) AS observed_agreement,
           CAST(NULL AS DOUBLE) AS chance_agreement,
           CAST(NULL AS DOUBLE) AS kappa
    FROM bins
    UNION ALL
    SELECT 'agreement',
           CAST(NULL AS BIGINT), n_docs,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           n11 AS n_both_keep,
           n10 AS n_model_only,
           n01 AS n_heuristic_only,
           n00 AS n_both_drop,
           CAST(FLOOR(CAST(n11 + n00 AS DOUBLE) * 1000000.0
                      / CAST(n_docs AS DOUBLE) + 0.5) AS BIGINT) / 1000000.0
               AS observed_agreement,
           CAST(FLOOR(CAST((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00) AS DOUBLE) * 1000000.0
                      / CAST(n_docs * n_docs AS DOUBLE) + 0.5) AS BIGINT)
               / 1000000.0 AS chance_agreement,
           CASE WHEN n_docs * n_docs
                     = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
                THEN 1.0
                ELSE CAST(FLOOR(CAST(n_docs * (n11 + n00)
                          - ((n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)) AS DOUBLE) * 1000000.0
                     / CAST(n_docs * n_docs
                            - ((n11 + n10) * (n11 + n01)
                               + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                     + 0.5) AS BIGINT) / 1000000.0
           END AS kappa
    FROM conf
    ORDER BY metric, bin
"""


@query(
    "docs_gate_eval_panel",
    oracle=GATE_EVAL_PANEL_ORACLE,
)
def docs_gate_eval_panel(spark, sf_dir):
    """Trained-gate evaluation panel: the reliability diagram + ECE
    (metric='calibration', 10 rows) AND the chance-corrected
    model-vs-heuristic agreement (metric='agreement', 1 row: the 2x2
    confusion + observed/chance agreement + Cohen's kappa) from ONE
    trained-gate pipeline pass.  The confusion is derived from the
    calibration bins — model keep <=> prob >= 0.5 <=> pm >= 500000 <=>
    bin >= 5 (pm = round(prob*1e6) recovers the 6-digit prob exactly,
    so the equivalence is exact, not approximate) — which is what makes
    the merge free: kappa adds a 10-row arithmetic layer, zero scans.
    Exactness notes inherited from the pair: every bin stat is int64,
    each 6-digit report is integer half-up on its numerator, and kappa's
    inputs are exact int64 products (bound N^2 * 1e6 < 2^53)."""
    from prod_data_pipeline_spark.functions.text import tokens
    from prod_data_pipeline_spark.operators.quality import (
        ft_trained_quality_scores,
    )
    from prod_data_pipeline_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    per = ft_trained_quality_scores(docs).select("doc_id", "quality_prob")
    lab = docs.select("doc_id", tokens(F.col("text")).alias("tk")).select(
        "doc_id",
        (quality_score(F.col("tk"), F.array_distinct("tk")) >= F.lit(0.52))
        .cast("int")
        .alias("_y"),
    )
    p6 = per.join(lab, "doc_id").select(
        F.round(F.col("quality_prob") * F.lit(1000000.0), 0)
        .cast("long")
        .alias("pm"),
        F.col("_y"),
    )
    bins = p6.groupBy(
        F.least(F.expr("pm div 100000"), F.lit(9).cast("long")).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum("pm").cast("long").alias("sum_conf_micro"),
    )
    # the 10-row bins relation feeds THREE consumers (calibration rows,
    # the ECE scalar, the derived confusion): cut lineage so the gate
    # pipeline runs once
    bins = bins.transform(truncate_lineage, eager=False)
    ece = bins.agg(
        (
            F.expr(
                "(2 * SUM(ABS(n_pos * 1000000 - sum_conf_micro)) + SUM(n_docs))"
                " div (2 * SUM(n_docs))"
            )
            / F.lit(1000000.0)
        ).alias("ece")
    )
    nulls = {
        "long": F.lit(None).cast("long"),
        "double": F.lit(None).cast("double"),
    }
    cal = (
        bins.crossJoin(F.broadcast(ece))
        .select(
            F.lit("calibration").alias("metric"),
            "bin",
            "n_docs",
            "n_pos",
            "sum_conf_micro",
            (
                F.expr("(2 * sum_conf_micro + n_docs) div (2 * n_docs)")
                / F.lit(1000000.0)
            ).alias("mean_conf"),
            (
                F.expr("(2 * n_pos * 1000000 + n_docs) div (2 * n_docs)")
                / F.lit(1000000.0)
            ).alias("frac_pos"),
            F.expr("ABS(n_pos * 1000000 - sum_conf_micro)")
            .cast("long")
            .alias("gap_micro"),
            "ece",
            nulls["long"].alias("n_both_keep"),
            nulls["long"].alias("n_model_only"),
            nulls["long"].alias("n_heuristic_only"),
            nulls["long"].alias("n_both_drop"),
            nulls["double"].alias("observed_agreement"),
            nulls["double"].alias("chance_agreement"),
            nulls["double"].alias("kappa"),
        )
    )
    keep = F.col("bin") >= 5
    conf = bins.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.when(keep, F.col("n_pos")).otherwise(0)).cast("long").alias("n11"),
        F.sum(F.when(keep, F.col("n_docs") - F.col("n_pos")).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when(~keep, F.col("n_pos")).otherwise(0)).cast("long").alias("n01"),
        F.sum(F.when(~keep, F.col("n_docs") - F.col("n_pos")).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    agr = conf.select(
        F.lit("agreement").alias("metric"),
        nulls["long"].alias("bin"),
        "n_docs",
        nulls["long"].alias("n_pos"),
        nulls["long"].alias("sum_conf_micro"),
        nulls["double"].alias("mean_conf"),
        nulls["double"].alias("frac_pos"),
        nulls["long"].alias("gap_micro"),
        nulls["double"].alias("ece"),
        F.col("n11").alias("n_both_keep"),
        F.col("n10").alias("n_model_only"),
        F.col("n01").alias("n_heuristic_only"),
        F.col("n00").alias("n_both_drop"),
        *kappa_report_columns(),
    )
    return cal.unionByName(agr).orderBy("metric", "bin")


# ---------------------------------------------------------------------------
# 3. emb_ivf_append_panel (emb_ivf_append_audit + emb_ivf_append_recall)
# ---------------------------------------------------------------------------

IVF_APPEND_PANEL_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             {_IVF_APPEND_SPLIT_SQL} AS is_new
      FROM embeddings
    ), cm0 AS (
      SELECT label AS cell, pos,
             CAST(SUM(CAST(e[pos] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      FROM v, UNNEST(range(1, len(e) + 1)) AS t(pos)
      WHERE is_new = 0
      GROUP BY 1, 2
    ), cent0 AS (
      SELECT cell, list(m ORDER BY pos) AS c FROM cm0 GROUP BY cell
    ), cm1 AS (
      SELECT label AS cell, pos,
             CAST(SUM(CAST(e[pos] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      FROM v, UNNEST(range(1, len(e) + 1)) AS t(pos)
      GROUP BY 1, 2
    ), cent1 AS (
      SELECT cell, list(m ORDER BY pos) AS c FROM cm1 GROUP BY cell
    ), acell0 AS (
      SELECT vec_id, is_new, cell FROM (
        SELECT v.vec_id, v.is_new, cent0.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="v.e", b="cent0.c")}, cent0.cell) AS rn
        FROM v, cent0
      ) WHERE rn = 1
    ), sizes AS (
      SELECT cell,
             CAST(SUM(1 - is_new) AS BIGINT) AS n_snapshot,
             CAST(SUM(is_new) AS BIGINT) AS n_batch,
             CAST(COUNT(*) AS BIGINT) AS n_postings
      FROM acell0 GROUP BY cell
    ), tot AS (
      SELECT CAST(SUM(n_postings) AS BIGINT) AS total,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cent0) AS n_cells
      FROM sizes
    ), acell1 AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, cent1.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="v.e", b="cent1.c")}, cent1.cell) AS rn
        FROM v, cent1
      ) WHERE rn = 1
    ), probes0 AS (
      SELECT query_id, cell FROM (
        SELECT v.vec_id AS query_id, cent0.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="v.e", b="cent0.c")}, cent0.cell) AS rn
        FROM v, cent0 WHERE v.vec_id < 8
      ) WHERE rn <= 2
    ), probes1 AS (
      SELECT query_id, cell FROM (
        SELECT v.vec_id AS query_id, cent1.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="v.e", b="cent1.c")}, cent1.cell) AS rn
        FROM v, cent1 WHERE v.vec_id < 8
      ) WHERE rn <= 2
    ), appended AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_COS_SQL.format(a="q.e", b="c.e")} DESC, c.vec_id) AS rk
        FROM probes0 p
        JOIN acell0 a ON a.cell = p.cell
        JOIN v c ON c.vec_id = a.vec_id
        JOIN v q ON q.vec_id = p.query_id
        WHERE c.vec_id <> p.query_id
      ) WHERE rk <= 5
    ), fresh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_COS_SQL.format(a="q.e", b="c.e")} DESC, c.vec_id) AS rk
        FROM probes1 p
        JOIN acell1 a ON a.cell = p.cell
        JOIN v c ON c.vec_id = a.vec_id
        JOIN v q ON q.vec_id = p.query_id
        WHERE c.vec_id <> p.query_id
      ) WHERE rk <= 5
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL.format(a="q.e", b="c.e")} DESC, c.vec_id) AS rk
        FROM v q, v c
        WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
      ) WHERE rk <= 5
    ), hits AS (
      SELECT e.query_id,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit_appended,
             CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit_fresh
      FROM exact e
      LEFT JOIN appended a USING (query_id, neighbor_id)
      LEFT JOIN fresh f USING (query_id, neighbor_id)
      GROUP BY e.query_id
    ), common AS (
      SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM appended a JOIN fresh f USING (query_id, neighbor_id)
      GROUP BY a.query_id
    )
    SELECT 'cell_audit' AS section, CAST(s.cell AS BIGINT) AS key,
           s.n_snapshot, s.n_batch, s.n_postings,
           (2 * s.n_postings <= t.total) AS share_le_half,
           (s.n_postings * t.n_cells <= 4 * t.total) AS imbalance_le_4x,
           CAST(NULL AS BIGINT) AS n_exact,
           CAST(NULL AS BIGINT) AS n_hit_appended,
           CAST(NULL AS BIGINT) AS n_hit_fresh,
           CAST(NULL AS BIGINT) AS n_common,
           CAST(NULL AS DOUBLE) AS recall_appended,
           CAST(NULL AS DOUBLE) AS recall_fresh
    FROM sizes s, tot t
    UNION ALL
    SELECT 'query_recall', CAST(h.query_id AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
           h.n_exact, h.n_hit_appended, h.n_hit_fresh,
           COALESCE(c.n_common, 0) AS n_common,
           ROUND(CAST(h.n_hit_appended AS DOUBLE) / h.n_exact, 4)
               AS recall_appended,
           ROUND(CAST(h.n_hit_fresh AS DOUBLE) / h.n_exact, 4) AS recall_fresh
    FROM hits h LEFT JOIN common c USING (query_id)
    ORDER BY section, key
"""


@query(
    "emb_ivf_append_panel",
    oracle=IVF_APPEND_PANEL_ORACLE,
)
def emb_ivf_append_panel(spark, sf_dir):
    """Post-append IVF maintenance panel: per-cell posting-list balance
    (section='cell_audit': snapshot/batch counts + the share<=0.5 and
    imbalance<=4x bound booleans) AND per-query recall of the appended
    index vs a fresh rebuild vs exact brute force (section=
    'query_recall') — the complete rebuild decision in one query.
    Shared work the pair this panel replaces paid twice: ONE
    label_centroids_split aggregation produces both the stale snapshot
    codebook and the fresh union codebook (bit-identical to separate
    fits), and the appended posting assignment feeds both the audit
    sizes and nothing else re-runs it.  Both codebooks are the
    deterministic label-centroid quantizer, so the oracle replays every
    assignment and all three searches bit-for-bit.  100 TB: snapshot
    embeddings never re-shuffle (zero-exchange codebook assignment); the
    only exchanges carry cell-sized partials and pairs-sized answer
    sets."""
    from prod_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_append,
        ivf_append_topk,
        ivf_topk_label,
        label_centroids_split,
    )

    emb = _t(spark, sf_dir, "embeddings")
    is_new = F.pmod(F.col("vec_id"), F.lit(8)) == F.lit(7)
    queries_df = emb.filter(F.col("vec_id") < 8)
    snap_cents, union_cents = label_centroids_split(
        emb.withColumn("_new", is_new), "_new"
    )
    postings, _, n_cells = ivf_append(
        emb.filter(~is_new), emb.filter(is_new), centroids=snap_cents
    )
    sizes = postings.groupBy("cell").agg(
        F.sum(F.when(F.col("is_new"), 0).otherwise(1))
        .cast("long")
        .alias("n_snapshot"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("long").alias("n_batch"),
        F.count(F.lit(1)).alias("n_postings"),
    )
    sizes = sizes.transform(truncate_lineage, eager=False)  # 2 consumers
    tot = sizes.agg(
        F.sum("n_postings").cast("long").alias("total"),
        F.lit(n_cells).cast("long").alias("n_cells"),
    )
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    nb = F.lit(None).cast("boolean")
    audit = (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            F.lit("cell_audit").alias("section"),
            F.col("cell").cast("long").alias("key"),
            "n_snapshot",
            "n_batch",
            "n_postings",
            (2 * F.col("n_postings") <= F.col("total")).alias("share_le_half"),
            (F.col("n_postings") * F.col("n_cells") <= 4 * F.col("total")).alias(
                "imbalance_le_4x"
            ),
            nl.alias("n_exact"),
            nl.alias("n_hit_appended"),
            nl.alias("n_hit_fresh"),
            nl.alias("n_common"),
            nd.alias("recall_appended"),
            nd.alias("recall_fresh"),
        )
    )
    appended = ivf_append_topk(
        emb.filter(~is_new),
        emb.filter(is_new),
        queries_df,
        k=5,
        nprobe=2,
        centroids=snap_cents,
    ).select("query_id", "neighbor_id")
    fresh = ivf_topk_label(
        emb, queries_df, k=5, nprobe=2, centroids=union_cents
    ).select("query_id", "neighbor_id")
    exact = brute_force_topk(emb, queries_df, k=5).select("query_id", "neighbor_id")
    appended = appended.transform(truncate_lineage, eager=False)
    fresh = fresh.transform(truncate_lineage, eager=False)
    exact = exact.transform(truncate_lineage, eager=False)
    hits = (
        exact.join(
            appended.withColumn("_a", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .join(fresh.withColumn("_f", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("_a", F.lit(0))).cast("long").alias("n_hit_appended"),
            F.sum(F.coalesce("_f", F.lit(0))).cast("long").alias("n_hit_fresh"),
        )
    )
    common = (
        appended.join(fresh, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    recall = (
        hits.join(common, "query_id", "left")
        .select(
            F.lit("query_recall").alias("section"),
            F.col("query_id").cast("long").alias("key"),
            nl.alias("n_snapshot"),
            nl.alias("n_batch"),
            nl.alias("n_postings"),
            nb.alias("share_le_half"),
            nb.alias("imbalance_le_4x"),
            "n_exact",
            "n_hit_appended",
            "n_hit_fresh",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.round(
                F.col("n_hit_appended").cast("double") / F.col("n_exact"), 4
            ).alias("recall_appended"),
            F.round(F.col("n_hit_fresh").cast("double") / F.col("n_exact"), 4).alias(
                "recall_fresh"
            ),
        )
    )
    return audit.unionByName(recall).orderBy("section", "key")


# ---------------------------------------------------------------------------
# 4. events_value_distribution
#    (events_value_histogram + events_value_quantiles)
# ---------------------------------------------------------------------------

VALUE_DISTRIBUTION_ORACLE = """
SELECT 'histogram' AS section,
       CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
       CAST(NULL AS VARCHAR) AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 6) AS bin_min,
       ROUND(MAX(value), 6) AS bin_max,
       CAST(NULL AS DOUBLE) AS p50,
       CAST(NULL AS DOUBLE) AS p90,
       CAST(NULL AS DOUBLE) AS p99
FROM events WHERE value IS NOT NULL
GROUP BY 2
UNION ALL
SELECT 'quantiles', CAST(NULL AS BIGINT), event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events WHERE value IS NOT NULL
GROUP BY 3
ORDER BY section, bin, event_type
"""


@query(
    "events_value_distribution",
    oracle=VALUE_DISTRIBUTION_ORACLE,
)
def events_value_distribution(spark, sf_dir):
    """Event-value distribution panel: the fixed-width 25-unit histogram
    (section='histogram': per-bin count + observed min/max) and exact
    interpolated per-type quantiles (section='quantiles': p50/p90/p99 +
    per-type counts) over one filtered scan of the value column.  The
    histogram is a pure-projection combiner agg (~20 partial rows per
    task at 100 TB); the quantiles use operators.ranking.exact_quantiles
    — bucketed exact ranking, parallel at any scale, same quantile_cont
    answer as a single-state percentile buffer."""
    from prod_data_pipeline_spark.operators.ranking import exact_quantiles

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    hist = (
        ev.groupBy(F.floor(F.col("value") / 25.0).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("bin_min"),
            F.round(F.max("value"), 6).alias("bin_max"),
        )
        .select(
            F.lit("histogram").alias("section"),
            "bin",
            ns.alias("event_type"),
            "n",
            "bin_min",
            "bin_max",
            nd.alias("p50"),
            nd.alias("p90"),
            nd.alias("p99"),
        )
    )
    q = exact_quantiles(
        ev, "value", {"p50": 0.5, "p90": 0.9, "p99": 0.99}, by=["event_type"]
    )
    quant = (
        q.groupBy("event_type", F.col("n_total").alias("n"))
        .pivot("qname", ["p50", "p90", "p99"])
        .agg(F.round(F.first("quantile"), 6))
        .select(
            F.lit("quantiles").alias("section"),
            nl.alias("bin"),
            "event_type",
            "n",
            nd.alias("bin_min"),
            nd.alias("bin_max"),
            "p50",
            "p90",
            "p99",
        )
    )
    return hist.unionByName(quant).orderBy("section", "bin", "event_type")


#: name -> (builder, oracle SQL, (source query A, source query B)) — the
#: pair-provenance record behind the round-15 switch;
#: tests/test_merged_panels.py::test_switch_state pins the post-switch
#: invariant (panel registered <=> both sources de-registered).
MERGED_PANELS = {
    "events_hll_users_panel": (
        events_hll_users_panel,
        HLL_USERS_PANEL_ORACLE,
        ("events_hll_mergeable_users", "events_approx_distinct_users"),
    ),
    "docs_gate_eval_panel": (
        docs_gate_eval_panel,
        GATE_EVAL_PANEL_ORACLE,
        ("docs_gate_agreement_kappa", "docs_gate_calibration"),
    ),
    "emb_ivf_append_panel": (
        emb_ivf_append_panel,
        IVF_APPEND_PANEL_ORACLE,
        ("emb_ivf_append_audit", "emb_ivf_append_recall"),
    ),
    "events_value_distribution": (
        events_value_distribution,
        VALUE_DISTRIBUTION_ORACLE,
        ("events_value_histogram", "events_value_quantiles"),
    ),
}
