"""Query registrations (chunk 2/5 of the former monolithic
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
    dnum,
    dsum,
    jaccard_prefix_sql,
    lsh_bands_sql,
    lsh_candidates_sql,
    minhash_sql,
    near_dup_pairs_sql,
    num_to_double,
    pagerank_sql,
    query,
    shingles_sql,
)

# ---------------------------------------------------------------------------
# Content-quality gates (operators.quality) — Gopher-style repetition rules
# and GPT-3-style benchmark decontamination.  Extends the reference's row-
# level DQ gating (raw_to_curated_events_v3_dq.py:70-106) to document
# content, the gates a pretraining corpus needs.
# ---------------------------------------------------------------------------


@query(
    "docs_repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct_tokens,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                         i -> array_to_string(toks[i:i+1], ' '))
                  ELSE [] END AS grams
      FROM t
    ), e AS (
      SELECT doc_id, unnest(grams) AS gram FROM s
    ), c AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM e GROUP BY 1, 2
    ), a AS (
      SELECT doc_id, SUM(c) AS total_grams, MAX(c) AS max_gram_count,
             COUNT(*) AS n_distinct_grams
      FROM c GROUP BY 1
    )
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(s.n_distinct_tokens AS DOUBLE) / s.n_tokens, 6)
               AS distinct_token_ratio,
           CAST(COALESCE(a.total_grams, 0) AS BIGINT) AS total_grams,
           COALESCE(ROUND(CAST(a.max_gram_count AS DOUBLE) / a.total_grams, 6), 0.0)
               AS top_ngram_frac,
           COALESCE(ROUND(1.0 - CAST(a.n_distinct_grams AS DOUBLE) / a.total_grams, 6), 0.0)
               AS dup_ngram_frac
    FROM s LEFT JOIN a USING (doc_id) ORDER BY doc_id
    """,
)
def docs_repetition_stats(spark, sf_dir):
    """Per-document repetition profile (operators.quality.repetition_profile):
    Gopher/MassiveText-style duplicate-bigram and top-bigram fractions plus
    lexical diversity.  One explode + two doc-keyed hash aggs, all JVM-side;
    map-side partial agg collapses each document's grams before the shuffle."""
    from prod_data_pipeline_spark.operators.quality import repetition_profile

    docs = _t(spark, sf_dir, "documents")
    return repetition_profile(docs, n=2).orderBy("doc_id")


@query(
    "docs_contamination",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {shingles_sql()} AS sh FROM t
    ), bench AS (
      SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 17 = 0
    ), dg AS (
      SELECT doc_id, unnest(sh) AS gram FROM s WHERE doc_id % 17 <> 0
    ), j AS (
      SELECT dg.doc_id, dg.gram,
             CASE WHEN b.gram IS NOT NULL THEN 1 END AS hit
      FROM dg LEFT JOIN bench b USING (gram)
    ), a AS (
      SELECT doc_id, COUNT(gram) AS n_grams,
             CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_contaminated
      FROM j GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(a.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CASE WHEN COALESCE(a.n_grams, 0) > 0
                THEN ROUND(CAST(a.n_contaminated AS DOUBLE) / a.n_grams, 6)
                ELSE 0.0 END AS contamination_frac
    FROM (SELECT doc_id FROM s WHERE doc_id % 17 <> 0) d
    LEFT JOIN a USING (doc_id) ORDER BY doc_id
    """,
)
def docs_contamination(spark, sf_dir):
    """Benchmark decontamination (operators.quality.contamination_overlap):
    every 17th document plays the held-out benchmark; the rest are scored by
    the fraction of their distinct trigrams that appear anywhere in it.  The
    benchmark gram set is broadcast — the corpus side is scanned once with a
    map-side probe, so the plan holds at 100 TB where the benchmark stays
    small."""
    from prod_data_pipeline_spark.operators.quality import contamination_overlap

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    scored = docs.filter(F.col("doc_id") % 17 != 0)
    return contamination_overlap(scored, bench, n=3).orderBy("doc_id")


@query(
    "docs_tfidf_top_terms",
    oracle="""
    WITH e AS (
      SELECT doc_id, lang, unnest(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), per AS (
      SELECT lang, term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM e GROUP BY 1, 2
    ), nd AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs FROM documents GROUP BY 1
    ), scored AS (
      SELECT per.lang, per.term,
             CAST(per.tf AS BIGINT) AS tf,
             CAST(per.df AS BIGINT) AS df,
             ROUND(per.tf * (ln((CAST(nd.n_docs AS DOUBLE) + 1) / (per.df + 1)) + 1), 6)
                 AS tfidf
      FROM per JOIN nd USING (lang)
    )
    SELECT lang, term, tf, df, tfidf
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) <= 5
    ORDER BY lang, tfidf DESC, term
    """,
)
def docs_tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF: top-5 terms per language by smoothed tf-idf.  The
    (lang, term) aggregation is combiner-friendly; the per-lang doc counts
    are a tiny broadcast relation; ranking orders by the ROUNDED score (then
    term) so both engines rank identical doubles, never last-ulp ln noise."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    e = docs.select("doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("term"))
    per = e.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.count_distinct("doc_id").alias("df")
    )
    nd = docs.groupBy("lang").agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = per.join(F.broadcast(nd), "lang").select(
        "lang",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * (F.log((F.col("n_docs").cast("double") + 1) / (F.col("df") + 1)) + 1),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("lang", F.desc("tfidf"), "term")
    )


# ---------------------------------------------------------------------------
# CDC compaction / SCD history (operators.cdc) — incremental-warehouse
# counterparts to the reference's full-partition rewrites (v3_dq.py:113-121).
# ---------------------------------------------------------------------------


@query(
    "events_latest_per_user",
    oracle="""
    SELECT user_id,
           CAST(ts AS TIMESTAMP) AS last_ts,
           event_type AS last_type,
           value AS last_value
    FROM events
    WHERE user_id IS NOT NULL
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
    ) = 1
    ORDER BY user_id
    """,
)
def events_latest_per_user(spark, sf_dir):
    """SCD1 / CDC log compaction (operators.cdc.latest_snapshot): each
    user's most recent event, event_id as the deterministic tie-break.
    One exchange on user_id, one sort, no joins."""
    from prod_data_pipeline_spark.operators.cdc import latest_snapshot

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    snap = latest_snapshot(ev, ["user_id"], "ts", tiebreak=["event_id"])
    return snap.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id")


@query(
    "events_user_type_scd2",
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
    )
    SELECT user_id, event_type,
           ts AS effective_from,
           lead(ts) OVER w AS effective_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, effective_from
    """,
)
def events_user_type_scd2(spark, sf_dir):
    """SCD2 effective-dated history (operators.cdc.scd2_history): each
    user's event_type as a change-compressed validity interval —
    consecutive equal values collapse; effective_to is NULL on the open
    interval.  Both window passes share one (exchange, sort)."""
    from prod_data_pipeline_spark.operators.cdc import scd2_history

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return scd2_history(ev, "user_id", "ts", "event_type", tiebreak=["event_id"]).orderBy(
        "user_id", "effective_from"
    )


@query(
    "orders_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ), unioned AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, price_cents, 1 AS version
      FROM base
      UNION ALL
      SELECT o_orderkey, o_custkey, 'P', (price_cents * 110) // 100, 2
      FROM base WHERE o_orderkey % 50 = 0
    ), merged AS (
      SELECT * FROM unioned
      QUALIFY row_number() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC
      ) = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(SUM(price_cents) AS DOUBLE) / 100.0 AS total_price
    FROM merged
    """,
)
def orders_merge_upsert(spark, sf_dir):
    """MERGE-INTO semantics on bare parquet (operators.cdc.merge_upsert):
    a deterministic change batch (every 50th order repriced +10%) upserted
    into the orders snapshot via union + latest-per-key — one window
    exchange, no table-format dependency.  Prices are carried as integer
    cents (the repriced value is ``cents*110 div 100``) so both engines do
    exact integer arithmetic: ``ROUND(double*1.1, 2)`` tie-breaks
    differently in Spark (HALF_UP on the exact binary expansion) vs DuckDB
    (half-away-from-zero on the double), which flipped 4/300 rows by one
    cent — r03's one hash-red driver row."""
    from prod_data_pipeline_spark.operators.cdc import merge_upsert

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    orders = base.withColumn("version", F.lit(1))
    updates = base.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("P").alias("o_orderstatus"),
        F.expr("(price_cents * 110) div 100").alias("price_cents"),
        F.lit(2).alias("version"),
    )
    merged = merge_upsert(orders, updates, ["o_orderkey"], "version")
    return merged.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("version") == 2, 1).otherwise(0)).alias("n_updated"),
        (F.sum("price_cents").cast("double") / F.lit(100.0)).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Distribution statistics: fixed-width histograms, quantile-threshold outlier
# detection, and deterministic correlation from exact fixed-point sums.  These
# extend the reference's DQ numerics (avg/min/max, v3_dq.py:89-106) to the
# profiling surface a warehouse exposes.
# ---------------------------------------------------------------------------


# events_value_histogram merged into plans/queries_merged_panels.py::
# events_value_distribution (round-15 consolidation switch) — the panel's
# 'histogram' section is this query's exact combiner agg over the shared
# filtered scan.


@query(
    "events_value_p99_outliers",
    oracle="""
    WITH q AS (
      SELECT event_type, ROUND(quantile_cont(value, 0.99), 6) AS p99
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value, q.p99
    FROM events e JOIN q USING (event_type)
    WHERE e.value > q.p99
    ORDER BY e.event_id
    """,
)
def events_value_p99_outliers(spark, sf_dir):
    """Per-type outlier detection against an exact P99 threshold.  The
    threshold comes from operators.ranking.exact_quantiles (bucketed exact
    ranking — no per-group value buffering, unlike `F.percentile`), lands
    as a tiny one-row-per-type relation, and is broadcast so the detail
    side is scanned once with a map-side probe.  Thresholds are ROUNDed
    before comparison so both engines compare against identical doubles."""
    from prod_data_pipeline_spark.operators.ranking import exact_quantiles

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = (
        exact_quantiles(
            ev.select("event_type", "value"), "value", {"p99": 0.99}, by=["event_type"]
        )
        .select("event_type", F.round("quantile", 6).alias("p99"))
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .filter(F.col("value") > F.col("p99"))
        .select("event_id", "event_type", "value", "p99")
        .orderBy("event_id")
    )


@query(
    "lineitem_qty_price_corr",
    oracle="""
    WITH s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST((CAST(CAST(SUM(CAST(FLOOR((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sx,
             CAST((CAST(CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
               AS qty_price_corr,
           ROUND((sxy - sx * sy / n) / (n - 1), 6) AS qty_price_covar
    FROM s
    """,
)
def lineitem_qty_price_corr(spark, sf_dir):
    """Pearson correlation + sample covariance of quantity vs extended
    price, computed from EXACT decimal component sums (order-independent
    addition) with the float arithmetic confined to one final projection of
    identical structure on both engines.  A parallel double `corr()` is not
    reproducible across partitionings; this is, at any cluster size — the
    pattern for every distributed second-moment statistic in the engine."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("l_quantity").alias("sx"),
        dsum("l_extendedprice").alias("sy"),
        # the second moments stay DECIMAL-product sums: their per-row
        # numerators at scale 4 would overflow int64 past ~60M rows of
        # price-squared magnitude, so the long-numerator recipe does not
        # apply (see query_registry.dsum bounds)
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
        F.sum(qty * price).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        n.cast("bigint").alias("n_rows"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("qty_price_corr"),
        F.round((sxy - sx * sy / n) / (n - F.lit(1.0)), 6).alias("qty_price_covar"),
    )


@query(
    "orders_table_diff",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), r AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 50 = 0 THEN 'P' ELSE o_orderstatus END
                 AS o_orderstatus,
             CASE WHEN o_orderkey % 50 = 0
                  THEN CAST(ROUND(o_totalprice * 1.1, 2) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT CAST(900000000000 AS BIGINT), 'O', CAST(1.0 AS DOUBLE)
    )
    SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
           CASE WHEN r.o_orderkey IS NULL THEN 'left_only'
                WHEN l.o_orderkey IS NULL THEN 'right_only'
                WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                  OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
                THEN 'changed' END AS diff_status
    FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
    WHERE CASE WHEN r.o_orderkey IS NULL THEN 'left_only'
               WHEN l.o_orderkey IS NULL THEN 'right_only'
               WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                 OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
               THEN 'changed' END IS NOT NULL
    ORDER BY o_orderkey
    """,
)
def orders_table_diff(spark, sf_dir):
    """Key-level reconciliation (operators.cdc.table_diff) of the orders
    snapshot against a deterministically perturbed copy: every 50th order
    repriced (changed), every 97th dropped (left_only), one synthetic key
    added (right_only).  One full-outer shuffle join; null-safe column
    comparison."""
    from prod_data_pipeline_spark.operators.cdc import table_diff

    left = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    right = (
        left.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 50 == 0, F.lit("P"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 50 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            spark.createDataFrame(
                [(900000000000, "O", 1.0)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )
    return table_diff(
        left, right, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    ).orderBy("o_orderkey")


@query(
    "docs_token_budget",
    oracle="""
    WITH per AS (
      SELECT source,
             CAST(SUM(len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_tokens) AS total FROM per
    )
    SELECT per.source, per.n_tokens,
           ROUND(CAST(per.n_tokens AS DOUBLE) / tot.total, 6) AS share,
           ROUND(CAST(SUM(per.n_tokens) OVER (
                   ORDER BY per.n_tokens DESC, per.source
                 ) AS DOUBLE) / tot.total, 6) AS cum_share,
           CAST(per.n_tokens AS DOUBLE) / tot.total > 0.075 AS over_budget
    FROM per CROSS JOIN tot
    ORDER BY per.n_tokens DESC, per.source
    """,
)
def docs_token_budget(spark, sf_dir):
    """Token-budget accounting per source: BPE-token totals, corpus share,
    cumulative share in descending order, and an over-budget flag against
    a uniform-mix ceiling (7.5% for 20 sources) — the governance view a
    data-mixing pipeline watches, feeding operators.sampling.mixing_weights.
    Per-document token counts collapse map-side; the window runs over the
    tiny per-source relation (one row per source), so cost is one scan +
    one narrow agg at any corpus size."""
    from prod_data_pipeline_spark.functions.text import bpe_tokens

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(bpe_tokens(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    total = per.agg(F.sum("n_tokens").alias("total"))
    w = Window.orderBy(F.desc("n_tokens"), F.asc("source")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("total"), 6).alias("share"),
            F.round(F.sum("n_tokens").over(w).cast("double") / F.col("total"), 6).alias(
                "cum_share"
            ),
            (F.col("n_tokens").cast("double") / F.col("total") > 0.075).alias(
                "over_budget"
            ),
        )
        .orderBy(F.desc("n_tokens"), "source")
    )


@query(
    "events_type_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS next_type
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_type_transitions(spark, sf_dir):
    """Markov transition matrix of event types: per-user lead() pairs
    counted into a |types|^2 relation.  One exchange on user_id for the
    window; the count aggregation collapses map-side to at most 25 rows
    per task."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "next_type")
    )


@query(
    "events_funnel_daily",
    oracle="""
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_type,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id IS NOT NULL
    ), s1 AS (
      SELECT user_id, day,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM ud GROUP BY 1, 2
    ), s2 AS (
      SELECT ud.user_id, ud.day, s1.t_view,
             MIN(CASE WHEN ud.event_type = 'click' AND ud.ts >= s1.t_view
                      THEN ud.ts END) AS t_click
      FROM ud JOIN s1 USING (user_id, day)
      GROUP BY 1, 2, 3
    ), s3 AS (
      SELECT ud.user_id, ud.day, s2.t_view, s2.t_click,
             MIN(CASE WHEN ud.event_type = 'purchase' AND ud.ts >= s2.t_click
                      THEN ud.ts END) AS t_purchase
      FROM ud JOIN s2 USING (user_id, day)
      GROUP BY 1, 2, 3, 4
    )
    SELECT day,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view,
           CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_click,
           CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchase
    FROM s3 GROUP BY day ORDER BY day
    """,
)
def events_funnel_daily(spark, sf_dir):
    """Ordered three-step funnel per day (view -> click after the view ->
    purchase after the click), counted over (user, day) grains.

    The step timestamps are conditional mins layered as three window
    projections over the SAME (user_id, day) partition — Catalyst
    evaluates all three in one exchange + one sort; the daily rollup is a
    trailing tiny aggregation.  At 100 TB this is one shuffle of (user,
    day) keyed rows, no self-joins."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"), "event_type", "ts")
    )
    w = Window.partitionBy("user_id", "day")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    per_user_day = staged.groupBy("user_id", "day").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    return (
        per_user_day.groupBy("day")
        .agg(
            F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("n_view"),
            F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0)).alias("n_click"),
            F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)).alias(
                "n_purchase"
            ),
        )
        .orderBy("day")
    )


@query(
    "emb_label_centroids",
    oracle="""
    SELECT label, pos,
           ROUND(SUM(CAST(embedding[pos] AS DOUBLE)) / COUNT(*), 6) AS centroid_val
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def emb_label_centroids(spark, sf_dir):
    """Per-label centroid vectors in long form (label, dimension, mean) —
    the prototype/coarse-quantizer computation behind IVF and label-based
    ANN blocking.  posexplode + one (label, pos) aggregation: dimension
    keys spread the shuffle |labels|x|dims| ways and partial aggregation
    collapses each task to at most that many rows, so a billion-vector
    corpus exchanges kilobytes.  (Row-form reassembly would need a
    collect_list ordered by pos — long form keeps the oracle exact and
    the plan narrow.)"""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 6).alias(
                "centroid_val"
            )
        )
        .orderBy("label", "pos")
    )


# events_hll_mergeable_users merged into plans/queries_merged_panels.py::
# events_hll_users_panel (round-15 consolidation switch) — the panel's
# '__all__' rollup row carries the same merged-of-daily + single-pass HLL
# within-bound booleans and exact count; the tighter merged==direct and
# error-bound properties stay unit-tested (tests/test_quality_cdc.py).


@query(
    "large_volume_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING (CAST(CAST(SUM(CAST(FLOOR((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) > 300
    )
    GROUP BY 1, 2, 3, 4
    ORDER BY total_qty DESC, o.o_orderkey
    """,
)
def large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: IN-subquery with a HAVING aggregate, decorrelated
    to a semi-join.  The qualifying-order relation is a pre-aggregation of
    lineitem on its OWN key (one shuffle of per-order sums), then a
    left-semi join prunes orders before the customer join — the fact table
    is never joined un-filtered.  Deterministic long-numerator quantity
    sums (see query_registry.dsum)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    o = orders.join(big, orders["o_orderkey"] == big["l_orderkey"], "left_semi")
    return (
        o.join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate")
        .agg(dsum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


@query(
    "parts_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
)
def parts_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, size) with a
    NOT IN exclusion subquery.  The exclusion list (negative-balance
    suppliers) has a non-nullable key, so NOT IN is exactly a left-anti
    join — broadcast, since the exclusion side is tiny; part is broadcast
    for the same reason.  The only shuffle is the distinct-count agg."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(part.filter(F.col("p_brand") != "Brand#1")),
              li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@query(
    "orders_price_deciles",
    oracle="""
    WITH d AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           CAST((CAST(CAST(SUM(CAST(FLOOR((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS total
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def orders_price_deciles(spark, sf_dir):
    """Equal-population price deciles with per-bucket bounds and exact
    decimal totals — EXACT NTILE semantics without NTILE's global-order
    window.  A bare `Window.orderBy` moves every order into one task;
    instead operators.ranking.bucketed_global_rank buckets rows by
    approx_percentile boundaries (load balance only — correctness never
    depends on the sketch), ranks within buckets in parallel, offsets by
    bucket counts, and ntile_from_rank reproduces the NTILE(10) bucket
    assignment in closed form.  o_orderkey tie-break keeps both engines'
    assignment identical; plan pinned single-partition-free in
    tests/test_plans.py.  The operator reads the orders scan once (it
    cuts its own input), so the query needs no lineage cut of its own."""
    from prod_data_pipeline_spark.operators.ranking import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    orders = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = bucketed_global_rank(orders, ["o_totalprice", "o_orderkey"])
    return (
        ranked.select(
            "o_totalprice",
            ntile_from_rank(F.col("rank"), F.col("n_total"), 10).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy("decile")
    )


@query(
    "events_rolling_7day",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT day, CAST(n_events AS BIGINT) AS n_events,
           CAST(SUM(n_events) OVER (
             ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_7d,
           ROUND(CAST(SUM(n_events) OVER (
             ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 7.0, 6) AS rolling_7d_avg
    FROM daily ORDER BY day
    """,
)
def events_rolling_7day(spark, sf_dir):
    """Trailing 7-day event volume: a RANGE-frame window over calendar
    days (gap-correct — a missing day shrinks the window, unlike a
    6-ROWS-PRECEDING frame).  The window runs over the pre-aggregated
    daily relation (one row per day), so the global order is over
    |days| rows regardless of corpus size."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # RANGE frame over days: order by epoch-day number, range 6 preceding
    w = (
        Window.orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "n_events",
        F.sum("n_events").over(w).alias("rolling_7d"),
        F.round(F.sum("n_events").over(w).cast("double") / 7.0, 6).alias(
            "rolling_7d_avg"
        ),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Round-3 additions: remaining classic warehouse shapes (TPC-H Q10/Q12/Q14,
# arg-max aggregates, exact distinct counts, gaps-and-islands) plus the
# skew-salted two-phase aggregation as a first-class oracle-checked query.
# ---------------------------------------------------------------------------


@query(
    "q10_returned_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS rn
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
    )
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(CAST(SUM(rev.rn) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
    FROM rev
    JOIN orders o ON o.o_orderkey = rev.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: customers ranked by revenue they returned.
    Returned-lineitem revenue pre-aggregates on the fact table's own key
    (l_orderkey) before any join — ONE fact shuffle — then the per-order
    sums join orders and the broadcast customer/nation dims; the final
    group runs over per-order rows, not raw lineitems.  The per-order
    partial carries the exact int64 revenue numerator (dnum) so the
    second-level re-sum stays exact integer arithmetic; one long->double
    conversion at the end.  c_custkey breaks revenue ties.
    Reference parity: extends sql/athena/curated_events.sql-style golden
    aggregation to the multi-dim enrichment the reference runs in Athena."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = li.groupBy("l_orderkey").agg(
        dnum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("rn")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(num_to_double(F.sum("rn"), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "lineitem_priority_by_status",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus ORDER BY l.l_linestatus
    """,
)
def lineitem_priority_by_status(spark, sf_dir):
    """TPC-H Q12 shape (shipmode -> linestatus against this schema): a
    fact-fact equi-join with conditional-count buckets.  The shipdate
    filter pushes to the lineitem scan, both sides project to join key +
    two columns before the shuffle, and the priority CASE runs post-join
    map-side — the unavoidable cost is exactly one co-shuffle of two
    slim fact projections."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q14_promo_revenue",
    oracle="""
    WITH j AS (
      SELECT CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5)
                  AS BIGINT) AS rev_n,
             p.p_type
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-03-01 00:00:00'
    ), a AS (
      SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev_n ELSE 0 END)
                  AS BIGINT) AS pn,
             CAST(SUM(rev_n) AS BIGINT) AS tn
      FROM j
    )
    SELECT ROUND(100.0 * CAST(pn AS DOUBLE) / CAST(tn AS DOUBLE), 6)
               AS promo_revenue_pct,
           ((tn + 50) // 100) / 100.0 AS total_revenue
    FROM a
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: promotion revenue share for a ship window.  The date
    filter reaches the lineitem scan before the part join (predicate
    pushdown shrinks the shuffled side ~24x).  Revenue uses the
    long-numerator recipe (round-11 dsum sweep): price*(1-disc) lies
    exactly on the 4-digit grid, so floor(x*1e4+0.5) numerators sum
    exactly in int64 (no BigDecimal in the agg) and the percentage is
    ONE double ratio of the two numerator sums (the 1e4 cancels); the
    2-digit total rounds on the NUMERATOR via long division
    ((n+50) div 100 / Duck `//` — integer half-up, legal because the
    revenue numerator is non-negative; converted from the float
    FLOOR((n+50)/100.0) form in r15, closing its FLOORDIV_EXCEPTIONS
    deferral and lifting the 2^53 long->double cap to the full int64
    bound).  Bound: |sum(revenue)|*1e4 < 2^63 holds to ~9.2e14 of
    summed revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-03-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_n = F.floor(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(10000.0)
        + F.lit(0.5)
    )
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        rev_n.alias("rev_n"), "p_type"
    )
    a = j.agg(
        F.sum(
            F.when(F.col("p_type").startswith("PROMO"), F.col("rev_n")).otherwise(
                F.lit(0)
            )
        ).alias("pn"),
        F.sum("rev_n").alias("tn"),
    )
    return a.select(
        F.round(
            F.lit(100.0) * F.col("pn").cast("double") / F.col("tn").cast("double"), 6
        ).alias("promo_revenue_pct"),
        (F.expr("(tn + 50) div 100") / F.lit(100.0)).alias("total_revenue"),
    )


@query(
    "orders_priority_extremes",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           arg_max(o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                               * 10000000000 + o_orderkey) AS priciest_order,
           arg_min(o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                               * 10000000000 + o_orderkey) AS cheapest_order,
           ROUND(MAX(o_totalprice), 2) AS max_price,
           ROUND(MIN(o_totalprice), 2) AS min_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_priority_extremes(spark, sf_dir):
    """Arg-max aggregates: the order ids carrying each priority class's
    extreme prices via MAX_BY/MIN_BY — one pass, no window, no self-join
    (the classic 'row of the max' anti-pattern at scale).  The ordering
    key packs (cents, orderkey) into one bigint so price ties resolve
    deterministically on both engines."""
    orders = _t(spark, sf_dir, "orders")
    ordkey = (
        F.round(F.col("o_totalprice") * 100, 0).cast("long") * F.lit(10_000_000_000)
        + F.col("o_orderkey")
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max_by("o_orderkey", ordkey).alias("priciest_order"),
            F.min_by("o_orderkey", ordkey).alias("cheapest_order"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "events_daily_distinct_users",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_daily_distinct_users(spark, sf_dir):
    """Exact per-day distinct users alongside raw counts — the
    two-phase distinct aggregate (Spark expands to a (day, user_id)
    partial dedup then re-aggregates; both phases keep map-side partial
    aggregation).  The exact companion to events_approx_distinct_users:
    use HLL when a ~2% error is acceptable, this when it is not."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day")
    )


@query(
    "events_salted_type_counts",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((CAST(CAST(SUM(CAST(FLOOR((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_salted_type_counts(spark, sf_dir):
    """Skew-proof aggregation as a first-class query: event_type has ~5
    values, so a direct groupBy shuffles every row to 5 reducers.  Salting
    (operators.skew's strategy applied to aggregation) splits each key 16
    ways — partial aggregate on (type, salt), final on type — so the heavy
    keys fan across the cluster and the second shuffle carries 16 rows per
    type.  Int64-numerator partials (dnum) keep the re-aggregated sum
    exact (doubles re-summed across salts would not be reproducible); the
    oracle is the plain one-phase GROUP BY it must equal."""
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("event_type", "__salt")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            dnum("value").alias("__val"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("__cnt").alias("n_events"),
            num_to_double(F.sum("__val")).alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "user_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL
    ), anchored AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS anchor
      FROM days
    ), streaks AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_days,
             MIN(day) AS streak_start, MAX(day) AS streak_end
      FROM anchored GROUP BY user_id, anchor
    ), best AS (
      SELECT * FROM streaks
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY streak_days DESC, streak_start) = 1
    )
    SELECT user_id, streak_days, streak_start, streak_end
    FROM best ORDER BY streak_days DESC, user_id LIMIT 20
    """,
)
def user_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: each user's longest run of consecutive active
    days.  day minus its per-user row_number is constant within a
    consecutive run (the classic islands anchor), so streaks fall out of
    one window plus one groupBy — both partitioned by user_id, sharing a
    single exchange.  The window relation is the DISTINCT (user, day)
    set: bounded by users x days, orders of magnitude below raw events."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") == 1)
        .select("user_id", "streak_days", "streak_start", "streak_end")
        .orderBy(F.desc("streak_days"), F.asc("user_id"))
        .limit(20)
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (receiptdate -> shipdate-vs-orderdate against this
    schema): suppliers who were the SOLE late supplier of a multi-supplier
    order.  The two correlated subqueries (EXISTS another supplier /
    NOT EXISTS another late supplier) decorrelate into per-order counts:
    n_suppliers from lineitem, n_late from the late pair set — each one
    narrow aggregation keyed on the order, then two broadcast-probe
    filters.  No per-row subquery execution, no semi/anti join of the
    fact table against itself."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier")
    # late feeds TWO consumers (its own count agg + the final join) —
    # without a cut each replays the fact-fact join (multi-consumer audit)
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .transform(truncate_lineage, eager=False)
    )
    n_supp = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers")
    )
    n_late = late.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_late"))
    return (
        late.join(n_supp, "l_orderkey")
        .join(n_late, "l_orderkey")
        .filter((F.col("n_suppliers") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q22_idle_balances",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (2, 7, 12, 17, 22)
    ), avg_bal AS (
      SELECT CAST((CAST(CAST(SUM(CAST(FLOOR((c_acctbal) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) / COUNT(*) AS a
      FROM pool WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST((CAST(CAST(SUM(CAST(FLOOR((c_acctbal) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS totacctbal
    FROM pool c, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1 ORDER BY 1
    """,
)
def q22_idle_balances(spark, sf_dir):
    """TPC-H Q22 shape (phone country code -> nation key against this
    schema): wealthy-but-lapsed customers per country — above the pooled
    positive-balance average (scalar subquery -> broadcast one-row
    relation) with no orders since 2000 (NOT EXISTS -> left-anti join
    against the date-pruned o_custkey projection).  The threshold is an
    exact long-numerator sum / count (dsum), so the float compare is
    bit-identical on both engines."""
    pool = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(2, 7, 12, 17, 22))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    avg_bal = pool.filter(F.col("c_acctbal") > 0).agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("a")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        pool.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS trn
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           ROUND(CAST(r.trn AS DOUBLE) / 10000.0, 2) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.trn = (SELECT MAX(trn) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: the supplier(s) hitting the window's MAX revenue — the
    max-of-aggregate join-back pattern.  Revenue stays an exact int64
    numerator (dnum) through the max comparison (integer equality; a
    double max would be a last-ulp lottery), the one-row max relation
    broadcasts, and ALL ties surface, matching the SQL subquery
    semantics."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dnum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("trn")
    )
    mx = rev.agg(F.max("trn").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("trn") == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(num_to_double(F.col("trn"), 4), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "docs_dup_pagerank",
    oracle=f"""
    WITH {near_dup_pairs_sql(0.5)}, {pagerank_sql(6)}
    SELECT node AS doc_id, ROUND(rank, 9) AS centrality
    FROM r6
    ORDER BY centrality DESC, doc_id LIMIT 50
    """,
)
def docs_dup_pagerank(spark, sf_dir):
    """Iterative-algorithm surface, ORACLE-CHECKED: PageRank over the
    symmetrized MinHash-LSH near-dup pair graph via
    operators.graph.pagerank_quantized — per-iteration quantization
    (round contributions to 12 digits, sum as exact DECIMAL, round the
    damped update back) makes the float recurrence bit-identical across
    engines, so the DuckDB oracle can replay all 6 power iterations as
    unrolled CTEs and the driver's exact value-hash holds.  Rounds 1-3
    shipped this rows-only; the quantization error (<= 6e-12) is three
    orders below the 9-digit reporting precision, so ranking is
    unchanged.  Numpy-verified in tests/test_graph.py."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.operators.graph import pagerank_quantized

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, sort=False).select("id_a", "id_b")
    ranks = pagerank_quantized(pairs, n_iters=6)
    return (
        ranks.select(
            F.col("node").alias("doc_id"), F.round("rank", 9).alias("centrality")
        )
        .orderBy(F.desc("centrality"), F.asc("doc_id"))
        .limit(50)
    )


@query(
    "docs_textrank_keywords",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents
    ), adj AS (
      SELECT DISTINCT toks[i] AS wa, toks[i+1] AS wb
      FROM t, UNNEST(range(1, len(toks))) AS u(i)
      WHERE toks[i] <> toks[i+1]
    ), vw AS (
      SELECT DISTINCT w
      FROM (SELECT wa AS w FROM adj UNION ALL SELECT wb AS w FROM adj)
    ), vocab AS (
      SELECT w, ('0x' || substr(md5(w), 1, 12))::BIGINT AS vid FROM vw
    ), pairs AS (
      SELECT DISTINCT LEAST(va.vid, vb.vid) AS id_a,
                      GREATEST(va.vid, vb.vid) AS id_b
      FROM adj
      JOIN vocab va ON va.w = adj.wa
      JOIN vocab vb ON vb.w = adj.wb
    ), """
    + pagerank_sql(6)
    + """
    SELECT v.w AS word,
           CAST(d.deg AS BIGINT) AS n_neighbors,
           ROUND(r.rank, 9) AS textrank
    FROM r6 r JOIN vocab v ON v.vid = r.node JOIN deg d ON d.src = r.node
    ORDER BY textrank DESC, word LIMIT 25
    """,
)
def docs_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau): PageRank over the
    corpus-wide word co-occurrence graph — nodes are words, an undirected
    edge links words ADJACENT anywhere in the corpus (window 2, the
    original paper's unweighted co-occurrence form), and the stationary
    rank surfaces the structurally central vocabulary no tf-idf frequency
    cut can see (a rare word bridging many contexts outranks a frequent
    word trapped in one).  The iteration is pagerank_quantized's
    engine-exact recurrence, so the oracle replays all 6 power iterations
    as generated unrolled CTEs (shared with the docs_dup_pagerank
    recipe) and the value hash holds bit-for-bit.  Word nodes map to
    int64 ids via the md5-hex-prefix recipe the CMS bucket derivation
    already proves cross-engine (48-bit ids: collision-free in practice
    below ~1e5 vocabulary types; a web-scale type inventory would widen
    to two concatenated segments).  Top-25 by (rank DESC, word).
    100 TB: the edge build is one corpus scan + a distinct on the
    (|vocab| x window)-bounded adjacency; the graph itself is
    vocabulary-sized, so the iteration cost is independent of corpus
    row count — and the tiny-graph driver fast path replays the same
    quantized recurrence bit-identically when it fits."""
    from prod_data_pipeline_spark.functions.text import tokens
    from prod_data_pipeline_spark.operators.graph import pagerank_quantized

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    adj = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("wa"),
                        F.element_at(F.col("toks"), i + 1).alias("wb"),
                    ),
                )
            ).alias("p")
        )
        .select("p.wa", "p.wb")
        .filter(F.col("wa") != F.col("wb"))
        .distinct()
        # vocabulary-bounded (<= |V|^2 rows) but read by THREE consumers
        # (pairs -> pagerank, vocab, deg): cut lineage so the corpus-wide
        # token explode runs once (the multi-consumer replay audit)
        .transform(truncate_lineage, eager=False)
    )
    wid = lambda c: F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")
    pairs = adj.select(
        F.least(wid(F.col("wa")), wid(F.col("wb"))).alias("id_a"),
        F.greatest(wid(F.col("wa")), wid(F.col("wb"))).alias("id_b"),
    ).distinct()
    ranks = pagerank_quantized(pairs, n_iters=6)
    vocab = (
        adj.select(F.col("wa").alias("word"))
        .union(adj.select(F.col("wb").alias("word")))
        .distinct()
        .select("word", wid(F.col("word")).alias("vid"))
    )
    sym = pairs.select(F.col("id_a").alias("src")).union(
        pairs.select(F.col("id_b").alias("src"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("n_neighbors"))
    return (
        ranks.join(F.broadcast(vocab), ranks.node == vocab.vid)
        .join(F.broadcast(deg), ranks.node == deg.src)
        .select(
            "word",
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
            F.round("rank", 9).alias("textrank"),
        )
        .orderBy(F.desc("textrank"), F.asc("word"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Round 4: remaining TPC-H query shapes expressible on the available tables
# (no partsupp table, so Q2/Q11/Q20 have no faithful form; Q4's
# commit/receipt dates are substituted with a late-shipment predicate).
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST((CAST(CAST(SUM(CAST(FLOOR((l_extendedprice * l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan + conjunctive filter + global agg.  Every
    predicate pushes into the parquet scan (shipdate/discount/quantity are
    all plain columns), partial aggregation collapses each task to one row,
    and the only exchange moves ~n_tasks rows — the cheapest possible shape
    at 100 TB, and the canonical pushdown litmus test."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q4_late_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4_late_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: priority distribution of orders with at least one
    late line (EXISTS decorrelated to a LEFT SEMI join; the testdata has no
    commit/receipt dates, so 'late' is shipped >60 days after order date).
    The date filter prunes orders before the join; the semi join carries
    the non-equi lateness predicate alongside the key, so each order
    shuffles once and duplicates never materialize."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7: bilateral trade volume between a nation pair by ship year.
    All four dimensions broadcast; the nation-pair disjunction is applied
    AFTER the two broadcast nation joins (it needs both sides), but
    Catalyst still prunes fact rows at the map side because the broadcast
    joins and the filter fuse into one codegen stage — the two fact tables
    pay exactly one shuffle (l_orderkey) between them."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("sn_key") == s.s_nationkey)
        .join(F.broadcast(n2), F.col("cn_key") == c.c_nationkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5)
                  AS BIGINT) AS vn,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           ROUND(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vn
                                    ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(vn) AS BIGINT) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8: one nation's share of ECONOMY-part revenue sold into one
    region, by order year.  The share is a conditional-sum / sum ratio over
    ONE aggregation pass (no self-join); revenue sums use the
    long-numerator recipe (round-11 dsum sweep — price*(1-disc) is exact
    on the 4-digit grid, numerators sum exactly in codegen'd int64, the
    1e4 cancels in the ratio; bound |sum|*1e4 < 2^63 per (year) group).
    Part/supplier/customer/nation/region all broadcast — the fact tables
    shuffle once on l_orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key"))
    n2 = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vn = F.floor(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(10000.0)
        + F.lit(0.5)
    )
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("cn_key") == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == F.col("cr_key"))
        .join(F.broadcast(n2), F.col("sn_key") == s.s_nationkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vn.alias("vn"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("vn")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum("vn").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS revenue,
           CAST((CAST(CAST(SUM(CAST(FLOOR((p.p_retailprice * l.l_quantity) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0)
                AS DOUBLE) / 10.0 AS supply_cost
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2 ORDER BY 1, 2 DESC
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: per-nation, per-year profit on parts matching a name
    pattern.  The testdata has no partsupp table, so supply cost is modeled
    as 10% of retail price x quantity; revenue and cost are separate exact
    decimal sums (a fused revenue-minus-cost double sum would be
    order-dependent), divided/subtracted only after aggregation.  LIKE
    pushes into the broadcast part build side before the fact join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            (dsum(F.col("p_retailprice") * F.col("l_quantity"), 4) / F.lit(10.0)).alias(
                "supply_cost"
            ),
        )
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Round 4: training-pipeline operators — deterministic dataset splits,
# vocabulary coverage (OOV auditing), embedding quantization error.
# ---------------------------------------------------------------------------


@query(
    "docs_train_val_test_split",
    oracle="""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
                  ELSE 'test' END AS split,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
                 AS n_tokens
      FROM documents
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def docs_train_val_test_split(spark, sf_dir):
    """Deterministic train/val/test split (~80/10/10) by content-free key
    hash: the first md5 hex byte of doc_id buckets each document into 256
    bins compared lexicographically ('cb' = 204/256 = 79.7% train, 'e5' =
    229/256 = 89.8% cumulative val).  Hash-based splits are retry-safe and
    reshuffle-free — no rand(), no global sort, no state; every engine that
    agrees on md5 agrees on the split.  One scan, one tiny shuffle of
    (split, lang) partials."""
    from prod_data_pipeline_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        docs.select(
            F.when(bucket <= "cb", "train").when(bucket <= "e5", "val").otherwise("test").alias("split"),
            "lang",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


@query(
    "docs_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS token FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
      ) WHERE df >= 20
    ), marked AS (
      SELECT t.doc_id, t.lang,
             CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON v.token = t.token
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM marked GROUP BY lang ORDER BY lang
    """,
)
def docs_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage audit: build the corpus vocabulary (tokens with
    document frequency >= 20), then measure the out-of-vocabulary token
    rate per language — the check a tokenizer-training pipeline runs before
    freezing a vocab.  Two aggregations over the exploded token relation:
    the DF pass reduces to the (small, df-thresholded) vocab, which
    broadcasts back onto the token stream for the OOV probe — at 100 TB the
    vocab side stays bounded by the frequency cutoff (heavy-hitter sets
    shrink as the threshold grows), so the probe join is map-side."""
    from prod_data_pipeline_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 20)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    marked = tok.join(F.broadcast(vocab), "token", "left")
    return (
        marked.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


@query(
    "emb_quantization_error",
    oracle="""
    WITH q AS (
      SELECT label,
             ROUND(CASE WHEN s = 0 THEN 0.0 ELSE
               list_sum(list_transform(range(1, len(e) + 1),
                 i -> pow(e[i] - (mn + round((e[i] - mn) / s) * s), 2)))
               / len(e) END, 10) AS mse
      FROM (
        SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               CAST(list_min(embedding) AS DOUBLE) AS mn,
               (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
                 / 255.0 AS s
        FROM embeddings
      )
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((mse) * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000000.0) AS DOUBLE) / COUNT(*), 10)
               AS avg_mse
    FROM q GROUP BY label ORDER BY label
    """,
)
def emb_quantization_error(spark, sf_dir):
    """Embedding int8 quantization audit: per-vector min/max scalar
    quantization (the scheme ANN stores ship embeddings with), reporting
    per-label mean reconstruction MSE.  Entirely per-row higher-order
    array math — zero shuffles before the final per-label partial agg —
    so it scales embarrassingly.  Floats widen to double BEFORE any
    arithmetic (float ops would diverge between engines); the per-row MSE
    rounds to 10 digits and sums as an exact int64 numerator (dsum) so
    the cross-engine hash is stable."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mn = F.array_min(F.col("embedding")).cast("double")
    s = (F.array_max(F.col("embedding")).cast("double") - mn) / F.lit(255.0)
    per = emb.select(
        "label",
        e.alias("e"),
        mn.alias("mn"),
        s.alias("s"),
    ).select(
        "label",
        F.round(
            # constant vector => span 0 => scale 0: reconstruction is exact,
            # so MSE is 0 by definition (the unguarded 0/0 would be NaN, which
            # Spark casts to NULL DECIMAL while DuckDB errors — divergent).
            F.when(F.col("s") == 0.0, F.lit(0.0)).otherwise(
                F.aggregate(
                    F.transform(
                        F.col("e"),
                        lambda x: F.pow(
                            x
                            - (
                                F.col("mn")
                                + F.round((x - F.col("mn")) / F.col("s")) * F.col("s")
                            ),
                            F.lit(2),
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.size(F.col("e"))
            ),
            10,
        ).alias("mse"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                dsum("mse", 12) / F.count(F.lit(1)),
                10,
            ).alias("avg_mse"),
        )
        .orderBy("label")
    )


@query(
    "events_per_day_dense",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
    ), spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
    )
    SELECT s.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
    FROM spine s LEFT JOIN daily d USING (day)
    ORDER BY s.day
    """,
)
def events_per_day_dense(spark, sf_dir):
    """Calendar-spine gap fill: daily event counts with EVERY day between
    min and max present, zero-filled — the dense series a dashboard or
    forecasting job consumes (a sparse GROUP BY silently drops empty
    days).  The spine is generated from a one-row min/max agg via
    sequence+explode (rows = days, never data-sized) and the daily counts
    broadcast-join onto it; at 100 TB the expensive side is still just the
    one combiner-friendly daily agg."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(F.broadcast(daily), "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).cast("long").alias("n_events"))
        .orderBy("day")
    )


@query(
    "events_debounce_stats",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                          OR ts - prev_ts > INTERVAL 60 SECOND
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(1.0 - CAST(SUM(CASE WHEN prev_ts IS NULL
                          OR ts - prev_ts > INTERVAL 60 SECOND
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS drop_rate
    FROM seq GROUP BY event_type ORDER BY event_type
    """,
)
def events_debounce_stats(spark, sf_dir):
    """Debounce deduplication audit: collapse rapid-fire repeats (same
    user + event type within 60 s of the previous occurrence) and report
    kept/dropped per type — the duplicate-click cleaning an event
    pipeline applies before sessionization.  One window pass keyed on
    (user_id, event_type): a single exchange, and the lag comparison is
    pure codegen.  event_id breaks ts ties so the kept set is
    deterministic under any task order."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    kept = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 60_000_000),
        1,
    ).otherwise(0)
    seq = ev.select("event_type", kept.alias("keep"))
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum("keep").alias("n_kept"),
            F.round(
                F.lit(1.0) - F.sum("keep").cast("double") / F.count(F.lit(1)), 6
            ).alias("drop_rate"),
        )
        .orderBy("event_type")
    )


@query(
    "docs_unigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
    ), tok AS (
      SELECT doc_id, lang, unnest(toks) AS token FROM t
    ), counts AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT SUM(c) AS n FROM counts
    ), lp AS (
      SELECT token,
             ROUND(-ln(CAST(c AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot)), 7)
                 AS nll
      FROM counts
    ), per_doc AS (
      SELECT doc_id, lang,
             ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((nll) * 10000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000000.0) AS DOUBLE) / COUNT(*), 6)
                 AS ce
      FROM tok JOIN lp USING (token) GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((ce) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS DOUBLE) / COUNT(*), 6)
               AS avg_ce,
           ROUND(MIN(ce), 6) AS min_ce,
           ROUND(MAX(ce), 6) AS max_ce
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def docs_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality signal (the CCNet/KenLM-style
    perplexity filter a pretraining pipeline ranks documents with,
    reduced to its order-1 form): train the unigram LM on the corpus in
    one token-count pass, then score every document by its mean negative
    log-likelihood (cross-entropy) under that LM, reported per language.
    Token NLLs round to 7 digits before the exact-decimal per-doc sum —
    float summation order never touches the result, so the score is
    deterministic at any parallelism.  The LM relation joins back onto
    the token stream keyed on token (shuffle join: the vocabulary is
    unbounded, unlike docs_vocab_coverage's df-thresholded set)."""
    from prod_data_pipeline_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # Tokenize once: the token stream feeds the LM count pass and the
    # score-back join (3 corpus reads without the cut, 1 with).
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token")
    ).transform(truncate_lineage, eager=False)
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").cast("double").alias("n"))
    lp = counts.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(-F.log(F.col("c").cast("double") / F.col("n")), 7).alias("nll"),
    )
    per_doc = (
        tok.join(lp, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                dsum("nll", 7)
                / F.count(F.lit(1)),
                6,
            ).alias("ce")
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                dsum("ce", 6)
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ce"),
            F.round(F.min("ce"), 6).alias("min_ce"),
            F.round(F.max("ce"), 6).alias("max_ce"),
        )
        .orderBy("lang")
    )


@query(
    "docs_dup_triangles",
    oracle=f"""
    WITH {near_dup_pairs_sql(0.5)}, edges AS (
      SELECT id_a, id_b FROM pairs
    ), degs AS (
      SELECT v, COUNT(*) AS deg FROM (
        SELECT id_a AS v FROM edges UNION ALL SELECT id_b AS v FROM edges
      ) GROUP BY v
    ), wedge AS (
      SELECT COALESCE(CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT), 0) AS w FROM degs
    ), tri AS (
      SELECT COUNT(*) AS t FROM edges e1
      JOIN edges e2 ON e1.id_b = e2.id_a
      WHERE EXISTS (
        SELECT 1 FROM edges e3 WHERE e3.id_a = e1.id_a AND e3.id_b = e2.id_b
      )
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           (SELECT w FROM wedge) AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN (SELECT w FROM wedge) > 0
                      THEN 3.0 * (SELECT t FROM tri) / (SELECT w FROM wedge)
                      ELSE 0.0 END, 6) AS global_clustering
    """,
)
def docs_dup_triangles(spark, sf_dir):
    """Triangle census of the MinHash-LSH verified near-dup graph
    (operators.graph.triangle_stats): edge/wedge/triangle counts and the
    global clustering coefficient.  High clustering confirms near-dup
    components are tight cliques (true duplicate sets); low clustering
    flags chain-shaped false-positive bridges that transitive removal
    would over-delete.  Each triangle {{a<b<c}} is counted exactly once
    via the canonical wedge join + closing-edge semi probe — vertex-keyed
    equi-joins only, cost bounded by sum(deg^2) not |V|^2."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.operators.graph import triangle_stats

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, sort=False)
    return triangle_stats(pairs)


@query(
    "docs_jaccard_prefix_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents
    ), t2 AS (
      SELECT doc_id, toks FROM t WHERE len(toks) > 0
    ), tok AS (
      SELECT doc_id, unnest(toks) AS token, len(toks) AS sz FROM t2
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), ranked AS (
      SELECT doc_id, token, sz,
             row_number() OVER (PARTITION BY doc_id ORDER BY df, token) AS rn
      FROM tok JOIN dfreq USING (token)
    ), prefix AS (
      SELECT doc_id, token, sz FROM ranked
      WHERE rn <= sz - ((92 * sz + 99) // 100) + 1
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.token = b.token AND a.doc_id < b.doc_id
      WHERE 92 * greatest(a.sz, b.sz) <= 100 * least(a.sz, b.sz)
    ), verified AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(ta.toks, tb.toks)) AS inter,
             len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))
                 AS union_sz
      FROM cand c
      JOIN t2 ta ON ta.doc_id = c.id_a
      JOIN t2 tb ON tb.doc_id = c.id_b
    )
    SELECT id_a, id_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(union_sz AS BIGINT) AS union_sz,
           ROUND(CAST(inter AS DOUBLE) / union_sz, 4) AS jaccard
    FROM verified WHERE 100 * inter >= 92 * union_sz
    ORDER BY id_a, id_b
    """,
)
def docs_jaccard_prefix_pairs(spark, sf_dir):
    """EXACT Jaccard>=0.92 token-set similarity join via prefix filtering
    (operators.dedup.jaccard_prefix_pairs, the PPJoin/AllPairs family) —
    the zero-false-negative complement to the MinHash-LSH path (LSH at
    the same threshold is probabilistic in its banding).  Every bound is
    integer arithmetic: prefix length L - ceil(0.92L) + 1 as
    ``(92*sz+99) div 100``, length filter ``92*max <= 100*min``, and the
    membership test ``100*inter >= 92*union`` — no float ever decides
    which pairs exist, so Spark and DuckDB agree bit-for-bit."""
    from prod_data_pipeline_spark.operators.dedup import jaccard_prefix_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(docs, threshold_pct=92).orderBy("id_a", "id_b")


@query(
    "events_type_value_mi",
    oracle="""
    WITH base AS (
      SELECT event_type AS x, CAST(FLOOR(value / 25.0) AS INT) AS y
      FROM events WHERE value IS NOT NULL
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base
    ), cxy AS (
      SELECT x, y, COUNT(*) AS c FROM base GROUP BY x, y
    ), cx AS (
      SELECT x, COUNT(*) AS c FROM base GROUP BY x
    ), cy AS (
      SELECT y, COUNT(*) AS c FROM base GROUP BY y
    ), mi_terms AS (
      SELECT ROUND(
               (CAST(cxy.c AS DOUBLE) / (SELECT n FROM nn))
               * ln(CAST(cxy.c AS DOUBLE) * (SELECT n FROM nn)
                    / (CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE))), 9) AS term
      FROM cxy JOIN cx USING (x) JOIN cy USING (y)
    ), hx_terms AS (
      SELECT ROUND(-(CAST(c AS DOUBLE) / (SELECT n FROM nn))
                   * ln(CAST(c AS DOUBLE) / (SELECT n FROM nn)), 9) AS term
      FROM cx
    ), hy_terms AS (
      SELECT ROUND(-(CAST(c AS DOUBLE) / (SELECT n FROM nn))
                   * ln(CAST(c AS DOUBLE) / (SELECT n FROM nn)), 9) AS term
      FROM cy
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cxy) AS n_cells,
           (SELECT ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((term) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE), 6)
            FROM mi_terms) AS mi_nats,
           (SELECT ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((term) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE), 6)
            FROM hx_terms) AS h_type_nats,
           (SELECT ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((term) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE), 6)
            FROM hy_terms) AS h_bucket_nats
    """,
)
def events_type_value_mi(spark, sf_dir):
    """Mutual information between event type and value bucket, plus both
    marginal entropies — the dependence screen a feature-selection or
    drift-detection pass runs over a profiling cube.  One fact scan feeds
    three tiny aggregations (cells = |types| x |buckets|, never
    data-sized); each cell's p*ln term is a chain of single IEEE ops on
    identical inputs, rounded to 9 digits and summed as exact DECIMAL —
    the same determinism discipline as the unigram-LM and quantized-
    PageRank oracles, so the value hash holds across engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # The slim (x, y) relation feeds four aggregations (n, cxy, cx, cy) —
    # 9 events scans without the cut, 1 with; the trade (small local wall
    # cost for an 9x scan-volume win at scale) is recorded in SCALE.md.
    base = ev.select(
        F.col("event_type").alias("x"),
        F.floor(F.col("value") / 25.0).cast("int").alias("y"),
    ).transform(truncate_lineage, eager=False)
    nn = base.agg(F.count(F.lit(1)).cast("double").alias("n"))
    cxy = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    cx = base.groupBy("x").agg(F.count(F.lit(1)).alias("cx"))
    cy = base.groupBy("y").agg(F.count(F.lit(1)).alias("cy"))

    def dec_sum(col):
        return F.round(dsum(col, 9), 6)

    mi_terms = (
        cxy.join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(nn))
        .select(
            F.round(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(
                    F.col("c").cast("double")
                    * F.col("n")
                    / (F.col("cx").cast("double") * F.col("cy").cast("double"))
                ),
                9,
            ).alias("term")
        )
    )
    hx_terms = cx.crossJoin(F.broadcast(nn)).select(
        F.round(
            -(F.col("cx").cast("double") / F.col("n"))
            * F.log(F.col("cx").cast("double") / F.col("n")),
            9,
        ).alias("term")
    )
    hy_terms = cy.crossJoin(F.broadcast(nn)).select(
        F.round(
            -(F.col("cy").cast("double") / F.col("n"))
            * F.log(F.col("cy").cast("double") / F.col("n")),
            9,
        ).alias("term")
    )
    n_cells = cxy.agg(F.count(F.lit(1)).alias("n_cells"))
    mi = mi_terms.agg(dec_sum(F.col("term")).alias("mi_nats"))
    hx = hx_terms.agg(dec_sum(F.col("term")).alias("h_type_nats"))
    hy = hy_terms.agg(dec_sum(F.col("term")).alias("h_bucket_nats"))
    return (
        n_cells.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
    )


@query(
    "docs_substring_dup_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), t2 AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 12
    ), win AS (
      SELECT doc_id, unnest(range(1, n - 12 + 2)) AS p, toks FROM t2
    ), wh AS (
      SELECT doc_id, p, md5(array_to_string(toks[p:p+11], chr(31))) AS h FROM win
    ), duph AS (
      SELECT h FROM wh GROUP BY h HAVING COUNT(*) >= 2
    ), dupw AS (
      SELECT doc_id, p, p + 11 AS e FROM wh JOIN duph USING (h)
    ), isl AS (
      SELECT doc_id, p, e,
             CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS new_span
      FROM dupw
    ), isl2 AS (
      SELECT doc_id, p, e,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY p) AS span_id
      FROM isl
    ), spans AS (
      SELECT doc_id, span_id, MIN(p) AS sp, MAX(e) AS ep, COUNT(*) AS nw
      FROM isl2 GROUP BY doc_id, span_id
    )
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(ep - sp.sp + 1) AS BIGINT) AS dup_tokens,
           CAST(ANY_VALUE(d.n) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(ep - sp.sp + 1) AS DOUBLE) / ANY_VALUE(d.n), 4) AS dup_frac
    FROM spans sp JOIN t2 d USING (doc_id)
    GROUP BY sp.doc_id ORDER BY sp.doc_id
    """,
)
def docs_substring_dup_spans(spark, sf_dir):
    """Span-level exact substring dedup audit (ExactSubstr family): per
    document, the maximal 12-token-window spans whose content occurs at
    least twice anywhere in the corpus, with the duplicated-token fraction
    — the report an LLM-corpus pipeline uses to strip repeated
    boilerplate/templates that whole-document dedup cannot see.  Built on
    operators.dedup.substring_dup_spans (sliding window hashes -> repeat
    groupBy -> per-doc interval union); the oracle replays the entire
    pipeline in SQL with the same md5 window keys, so every span boundary is
    hash-checked.  Shuffle ∝ token windows (corpus token count), never
    doc pairs; all-integer span arithmetic — no float decides a span."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens
    from prod_data_pipeline_spark.operators.dedup import substring_dup_spans

    docs = _t(spark, sf_dir, "documents")
    spans = substring_dup_spans(docs, window=12)
    sizes = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("dup_tokens"),
        )
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_dup_spans",
            "dup_tokens",
            "n_tokens",
            F.round(F.col("dup_tokens").cast("double") / F.col("n_tokens"), 4).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_bpe_merge_candidates",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS token FROM documents
    ), tf AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(token)), i -> substr(token, i, 2)))
                 AS pair,
             c
      FROM tf WHERE length(token) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair ASC LIMIT 20
    """,
)
def docs_bpe_merge_candidates(spark, sf_dir):
    """BPE tokenizer-training first step: corpus-weighted adjacent
    character-pair frequencies — the statistic whose argmax IS the first
    BPE merge (Sennrich et al.'s algorithm; subsequent merges iterate the
    same count on updated symbol sequences).  Computed on the DISTINCT
    word table weighted by word frequency, exactly like real BPE trainers:
    the pair enumeration runs over |vocab| distinct words (tiny), while the
    corpus-sized work is one combiner-friendly word-count agg — at 100 TB
    the token stream collapses map-side and only (word, count) shuffles.
    Top-20 with count-desc + pair-asc tie-break for determinism."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = tf.filter(F.length("token") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("token") - 1),
                lambda i: F.substring(F.col("token"), i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


@query(
    "docs_bpe_second_merge",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS token FROM documents
    ), tf AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), p1 AS (
      SELECT unnest(list_transform(range(1, length(token)), i -> substr(token, i, 2)))
                 AS pair, c
      FROM tf WHERE length(token) >= 2
    ), m1 AS (
      SELECT pair FROM p1 GROUP BY pair
      ORDER BY SUM(c) DESC, pair ASC LIMIT 1
    ), t2 AS (
      SELECT replace(token, (SELECT pair FROM m1), '1') AS token, c FROM tf
    ), p2 AS (
      SELECT unnest(list_transform(range(1, length(token)), i -> substr(token, i, 2)))
                 AS pair, c
      FROM t2 WHERE length(token) >= 2
    )
    SELECT (SELECT pair FROM m1) AS merge_1, pair, CAST(SUM(c) AS BIGINT) AS pair_count
    FROM p2 GROUP BY pair
    ORDER BY pair_count DESC, pair ASC LIMIT 10
    """,
)
def docs_bpe_second_merge(spark, sf_dir):
    """BPE training iteration TWO: take the argmax pair of iteration one
    (count-desc + pair-asc tie-break makes the winner engine-independent),
    apply the merge to every word's symbol sequence (left-to-right
    non-overlapping replace — identical semantics in the JVM and DuckDB;
    the merged symbol becomes '1', a character outside the corpus's pure
    a-z token alphabet), and recount adjacent symbol pairs.  Proof that
    the BPE recurrence — not just its first statistic — is expressible as
    a deterministic dataflow any engine replays exactly, the same
    unrolled-iteration recipe that oracled PageRank.  Work per iteration
    stays vocab-sized: the corpus is touched once (word counts); merges
    rewrite the distinct-word table only."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair_expl = lambda src: src.filter(F.length("token") >= 2).select(  # noqa: E731
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("token") - 1),
                lambda i: F.substring(F.col("token"), i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    m1 = (
        pair_expl(tf)
        .groupBy("pair")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("merge_1"))
    )
    t2 = tf.crossJoin(F.broadcast(m1)).select(
        F.replace(F.col("token"), F.col("merge_1"), F.lit("1")).alias("token"), "c"
    )
    return (
        pair_expl(t2)
        .groupBy("pair")
        .agg(F.sum("c").cast("long").alias("pair_count"))
        .crossJoin(F.broadcast(m1))
        .select("merge_1", "pair", "pair_count")
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(10)
    )


def _bpe_train_oracle(n_merges: int) -> str:
    """Unrolled-CTE oracle for the N-merge BPE trainer: tf0 is the
    corpus-weighted distinct-word relation; each level i extracts
    adjacent symbol pairs from tf(i-1), takes the deterministic argmax
    (count desc, pair asc), and rewrites the vocab with the merge's
    single-char symbol — the same recipe that oracled PageRank/PCA,
    generated mechanically instead of hand-written 16 times.

    Every tf/m level is AS MATERIALIZED: tf{i} references tf{i-1} twice
    (pair argmax + rewrite), so default CTE inlining would expand tf0
    2^N times — 65536 scans of documents.parquet at N=16."""
    parts = [
        f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS token FROM documents
    ), tf0 AS MATERIALIZED (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    )"""
    ]
    for i in range(1, n_merges + 1):
        sym = chr(ord("A") + i - 1)
        parts.append(
            f""", m{i} AS MATERIALIZED (
      SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(range(1, length(token)), j -> substr(token, j, 2)))
                   AS pair, c
        FROM tf{i - 1} WHERE length(token) >= 2
      ) GROUP BY pair
      ORDER BY cnt DESC, pair ASC LIMIT 1
    ), tf{i} AS MATERIALIZED (
      SELECT replace(token, (SELECT pair FROM m{i}), '{sym}') AS token, c
      FROM tf{i - 1}
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank,"
        f" (SELECT pair FROM m{i}) AS pair,"
        f" (SELECT cnt FROM m{i}) AS pair_count,"
        f" '{chr(ord('A') + i - 1)}' AS new_symbol"
        for i in range(1, n_merges + 1)
    )
    parts.append(f" SELECT * FROM ({selects}) ORDER BY merge_rank")
    return "".join(parts)


@query(
    "docs_bpe_train_16",
    oracle=_bpe_train_oracle(16),
)
def docs_bpe_train_16(spark, sf_dir, n_merges: int = 16):
    """Generalized BPE TRAINER: the full Sennrich et al. loop for 16
    merges, not a two-step demo — the output is the ordered merge table
    (merge_rank, pair, pair_count, new_symbol) a tokenizer ships.  Each
    iteration takes the deterministic argmax adjacent-symbol pair
    (count desc, pair asc tie-break) over the corpus-weighted
    DISTINCT-WORD relation and rewrites that vocab with a fresh
    single-char symbol ('A'..'P', outside the corpus's pure a-z token
    alphabet), exactly like docs_bpe_second_merge but iterated; since
    every merged symbol is one char, the symbol sequence IS the string
    and left-to-right non-overlapping replace() has identical semantics
    in the JVM and DuckDB.

    Scale shape — the part that matters at 100 TB: the CORPUS is
    touched exactly once (the combiner-friendly word-count agg; only
    (word, count) pairs shuffle).  All 16 iterations run on the
    vocab-sized relation (|distinct words| rows), each a tiny pair agg
    + a projection; the per-iteration argmax is a single-row collect —
    the merge table is the driver-resident artifact by design, the
    vocab never leaves the cluster.  Lineage is truncated every 4
    merges so the plan depth stays bounded for any n_merges.  Oracle:
    16-level unrolled CTEs generated by _bpe_train_oracle (the
    PageRank/PCA unrolled-iteration recipe)."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(truncate_lineage, eager=True)  # vocab-sized; corpus never re-read
    )
    merges: list[tuple[int, str, int, str]] = []
    cur = vocab
    for i in range(1, n_merges + 1):
        top = (
            cur.filter(F.length("token") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.length("token") - 1),
                        lambda j: F.substring(F.col("token"), j, F.lit(2)),
                    )
                ).alias("pair"),
                "c",
            )
            .groupBy("pair")
            .agg(F.sum("c").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .first()
        )
        sym = chr(ord("A") + i - 1)
        merges.append((i, top["pair"], int(top["cnt"]), sym))
        cur = cur.select(
            F.replace(F.col("token"), F.lit(top["pair"]), F.lit(sym)).alias("token"),
            "c",
        )
        if i % 4 == 0 and i < n_merges:
            cur = cur.transform(truncate_lineage, eager=True)
    return spark.createDataFrame(
        merges, "merge_rank long, pair string, pair_count long, new_symbol string"
    )


@query(
    "docs_bigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS token FROM t
    ), cu AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), nn AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cu
    ), bi AS (
      SELECT doc_id, lang, toks[i] AS prev, toks[i+1] AS cur
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ), cb AS (
      SELECT prev, cur, COUNT(*) AS c FROM bi GROUP BY prev, cur
    ), cc AS (
      SELECT prev, SUM(c) AS c FROM cb GROUP BY prev
    ), nll AS (
      SELECT cb.prev, cb.cur,
             ROUND(-ln(
               0.8 * (CAST(cb.c AS DOUBLE) / CAST(cc.c AS DOUBLE))
               + 0.2 * (CAST(cu.c AS DOUBLE) / (SELECT n FROM nn))), 7) AS nll
      FROM cb JOIN cc USING (prev) JOIN cu ON cu.token = cb.cur
    ), per_doc AS (
      SELECT bi.doc_id, bi.lang,
             ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((nll.nll) * 10000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000000.0) AS DOUBLE) / COUNT(*), 6)
                 AS ce
      FROM bi JOIN nll ON nll.prev = bi.prev AND nll.cur = bi.cur
      GROUP BY bi.doc_id, bi.lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((ce) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS DOUBLE) / COUNT(*), 6)
               AS avg_ce,
           ROUND(MIN(ce), 6) AS min_ce,
           ROUND(MAX(ce), 6) AS max_ce
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def docs_bigram_logprob(spark, sf_dir):
    """Order-2 language-model quality signal: Jelinek-Mercer interpolated
    bigram LM (lambda=0.8 bigram MLE + 0.2 unigram MLE — the standard
    smoothing that keeps unseen-in-context continuations finite) trained
    on the corpus, scoring each document's mean NLL over positions 2..n,
    per language.  The KenN-gram upgrade of docs_unigram_logprob: context
    counts derive from the bigram-count relation itself (one extra tiny
    agg), the per-BIGRAM-TYPE NLL is computed once and joined back onto
    the bigram stream (vocabulary-sized relation, never corpus-sized
    float math), and the round(7)-then-DECIMAL-sum recipe makes scores
    independent of summation order.  All probability arithmetic is a
    fixed chain of single IEEE ops on identical inputs, so DuckDB
    replays it bit-for-bit.  Docs with fewer than 2 tokens have no
    scored positions and are excluded by construction."""
    from prod_data_pipeline_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # Tokenize once (same cut as docs_trigram_logprob): the snapshot feeds
    # the unigram counts, the bigram counts and the score-back join — 5
    # corpus reads without it, 1 with.
    t = docs.select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    ).transform(truncate_lineage, eager=False)
    tok = t.select(F.explode("toks").alias("token"))
    cu = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cu"))
    nn = cu.agg(F.sum("cu").cast("double").alias("n"))
    bi = t.filter(F.size("toks") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("prev"),
                    F.element_at(F.col("toks"), i + 1).alias("cur"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "lang", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    cb = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb"))
    cc = cb.groupBy("prev").agg(F.sum("cb").alias("cc"))
    nll = (
        cb.join(cc, "prev")
        .join(cu.withColumnRenamed("token", "cur"), "cur")
        .crossJoin(F.broadcast(nn))
        .select(
            "prev",
            "cur",
            F.round(
                -F.log(
                    F.lit(0.8) * (F.col("cb").cast("double") / F.col("cc").cast("double"))
                    + F.lit(0.2) * (F.col("cu").cast("double") / F.col("n"))
                ),
                7,
            ).alias("nll"),
        )
    )
    per_doc = (
        bi.join(nll, ["prev", "cur"])
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                dsum("nll", 7)
                / F.count(F.lit(1)),
                6,
            ).alias("ce")
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                dsum("ce", 6)
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ce"),
            F.round(F.min("ce"), 6).alias("min_ce"),
            F.round(F.max("ce"), 6).alias("max_ce"),
        )
        .orderBy("lang")
    )


@query(
    "docs_lsh_recall_vs_exact",
    oracle=f"""
    WITH {jaccard_prefix_sql()}, sig AS (
      SELECT doc_id, sh, {minhash_sql()} FROM t2
    ), bands AS (
      {lsh_bands_sql()}
    ), lcand AS (
      {lsh_candidates_sql()}
    ), lsh AS (
      SELECT c.id_a, c.id_b FROM lcand c
      JOIN t2 ta ON ta.doc_id = c.id_a
      JOIN t2 tb ON tb.doc_id = c.id_b
      WHERE 100 * len(list_intersect(ta.sh, tb.sh))
            >= 50 * (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT COUNT(*) FROM exact) - (SELECT COUNT(*) FROM lsh) AS BIGINT)
               AS n_missed,
           ROUND(CAST((SELECT COUNT(*) FROM lsh) AS DOUBLE)
                 / greatest((SELECT COUNT(*) FROM exact), 1), 4) AS recall
    """,
)
def docs_lsh_recall_vs_exact(spark, sf_dir, sample_pct: int = 100):
    """LSH recall audit against EXACT ground truth, both sides
    hash-oracle-checked: the prefix-filtered exact similarity join
    (operators.dedup.jaccard_prefix_pairs in SHINGLE space — the space
    LSH banding actually operates in) enumerates every pair with 3-gram
    shingle Jaccard >= 0.5; the MinHash-LSH path (8 md5 hashes, 4 bands
    of 2) finds the subset whose signatures collide in some band.  Both
    memberships use the identical all-integer rule (100*inter >=
    50*union) — no rounding boundary can make the sides disagree, so
    recall is exact and n_missed = n_exact - n_lsh by construction.  The
    text-side twin of emb_ivf_recall, but fully oracled: approximation
    quality as a first-class, driver-verified measurement instead of a
    unit-test assertion.

    ``sample_pct`` keeps the audit runnable at 100x corpus scale: below
    100, a deterministic md5-bucketed DOC sample (operators.sampling
    .hash_sample, fixed salt) restricts BOTH the exact ground truth and
    the LSH side to the same subcorpus, so the recall ratio is measured
    on an unbiased pair subsample (band collision probability depends
    only on the two docs' shingles, not on who else is in the corpus,
    so per-pair LSH membership is identical in the subsample).  The
    oracle and driver run the full-corpus default; the knob is the
    production configuration for petabyte audits."""
    from pyspark.storagelevel import StorageLevel

    from prod_data_pipeline_spark.operators.dedup import (
        LSH_BAND_SIZE,
        MINHASH_HASHES,
        SHINGLE_N,
        jaccard_prefix_pairs,
        lsh_bands,
        lsh_candidates,
        with_minhash,
    )

    docs = _t(spark, sf_dir, "documents")
    if sample_pct < 100:
        from prod_data_pipeline_spark.operators.sampling import hash_sample

        docs = hash_sample(docs, sample_pct / 100.0, "doc_id", salt="recall_audit")
    exact = jaccard_prefix_pairs(docs, threshold_pct=50, shingle_n=SHINGLE_N).select(
        "id_a", "id_b"
    )
    sig = (
        with_minhash(docs)
        .select("doc_id", "shingle_set", *[f"mh_{j}" for j in range(MINHASH_HASHES)])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = lsh_candidates(lsh_bands(sig, "doc_id", MINHASH_HASHES, LSH_BAND_SIZE), "doc_id")
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("shingle_set").alias("set_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("shingle_set").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    lsh = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.lit(100) * inter >= F.lit(50) * union)
        .select("id_a", "id_b")
        .transform(truncate_lineage, eager=True)  # materialize, then release the sig cache
    )
    sig.unpersist()
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .select(
            "n_exact",
            "n_lsh",
            (F.col("n_exact") - F.col("n_lsh")).alias("n_missed"),
            F.round(
                F.col("n_lsh").cast("double") / F.greatest("n_exact", F.lit(1)), 4
            ).alias("recall"),
        )
    )


@query(
    "docs_cross_source_dup_matrix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, list_distinct({_TOKS_SQL}) AS toks FROM documents
    ), t2 AS (
      SELECT doc_id, source, toks FROM t WHERE len(toks) > 0
    ), tok AS (
      SELECT doc_id, unnest(toks) AS token, len(toks) AS sz FROM t2
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), ranked AS (
      SELECT doc_id, token, sz,
             row_number() OVER (PARTITION BY doc_id ORDER BY df, token) AS rn
      FROM tok JOIN dfreq USING (token)
    ), prefix AS (
      SELECT doc_id, token, sz FROM ranked
      WHERE rn <= sz - ((92 * sz + 99) // 100) + 1
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.token = b.token AND a.doc_id < b.doc_id
      WHERE 92 * greatest(a.sz, b.sz) <= 100 * least(a.sz, b.sz)
    ), pairs AS (
      SELECT ta.source AS sa, tb.source AS sb FROM cand c
      JOIN t2 ta ON ta.doc_id = c.id_a
      JOIN t2 tb ON tb.doc_id = c.id_b
      WHERE 100 * len(list_intersect(ta.toks, tb.toks))
            >= 92 * (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
    )
    SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def docs_cross_source_dup_matrix(spark, sf_dir):
    """Cross-source duplication matrix: exact Jaccard>=0.92 near-dup pair
    counts between every (source, source) combination — the diagnostic a
    curation pipeline uses to decide WHICH feeds mirror each other (and
    so which to down-weight or dedup against which).  Built on the exact
    prefix-filtered similarity join (zero false negatives: a source pair
    reported clean IS clean); sources are canonically ordered
    (least/greatest) so the matrix is upper-triangular and
    order-independent.  Adds one broadcast-sized source lookup to the
    proven prefix-join plan; the matrix itself is |sources|² rows."""
    from prod_data_pipeline_spark.operators.dedup import jaccard_prefix_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_prefix_pairs(docs, threshold_pct=92).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    return (
        pairs.join(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "sa"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "sb"), "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


@query(
    "docs_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS token FROM documents
    ), tf AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), ranked AS (
      SELECT token, c,
             row_number() OVER (ORDER BY c DESC, token) AS rnk
      FROM tf
    ), top AS (
      SELECT ROUND(ln(CAST(rnk AS DOUBLE)), 9) AS x,
             ROUND(ln(CAST(c AS DOUBLE)), 9) AS y
      FROM ranked WHERE rnk <= 1000
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST((CAST(CAST(SUM(CAST(FLOOR((x) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sx,
             CAST((CAST(CAST(SUM(CAST(FLOOR((y) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sy,
             CAST((CAST(CAST(SUM(CAST(FLOOR((ROUND(x * y, 9)) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sxy,
             CAST((CAST(CAST(SUM(CAST(FLOOR((ROUND(x * x, 9)) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS sxx
      FROM top
    )
    SELECT CAST(n AS BIGINT) AS n_tokens_fit,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
               AS intercept
    FROM s
    """,
)
def docs_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus frequency table: least-squares slope
    of ln(freq) vs ln(rank) for the top-1000 tokens (a healthy natural
    corpus slopes near -1; template/boilerplate-heavy corpora flatten, a
    broken tokenizer steepens — the one-number corpus-health check).
    Ranks use a count-desc + token tie-break so the ranking is total and
    engine-independent; the regression's four sums go through
    round(9)-then-exact-DECIMAL so float order never touches the fit, and
    the closed-form slope/intercept are a fixed chain of IEEE ops on
    identical inputs.  One corpus-sized token count (combiner-friendly);
    the global rank window never sees the full vocabulary — any global
    top-1000 token is in its partition's top-1000, so an exact
    per-partition prune bounds the single-partition sort at
    1000 x tasks rows regardless of vocab size."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy(F.spark_partition_id()).orderBy(F.desc("c"), F.asc("token"))
    cand = (
        tf.withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= 1000)
        .drop("prn")
    )
    w = Window.orderBy(F.desc("c"), F.asc("token"))
    top = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 1000)
        .select(
            F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
            F.round(F.log(F.col("c").cast("double")), 9).alias("y"),
        )
    )
    s = top.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x", 9).alias("sx"),
        dsum("y", 9).alias("sy"),
        dsum(F.round(F.col("x") * F.col("y"), 9), 9).alias("sxy"),
        dsum(F.round(F.col("x") * F.col("x"), 9), 9).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_tokens_fit"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
    )


@query(
    "docs_shard_assignment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), assigned AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('shard:' || doc_id), 1, 10))::BIGINT % 8 AS INT)
                 AS shard,
             len(toks) AS n_tokens
      FROM t
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM assigned GROUP BY shard ORDER BY shard
    """,
)
def docs_shard_assignment(spark, sf_dir):
    """Training-shard assignment audit: every document routes to one of 8
    output shards by a content-free md5 key hash (first 10 hex digits mod
    8) — the writer layout a pretraining pipeline uses so any shard
    subset is an unbiased corpus sample, re-runs are idempotent
    (no rand(), no global state), and shards can be written in parallel
    with no coordination.  The audit reports per-shard doc/token totals
    (law-of-large-numbers balance check — a skewed shard means a broken
    hash) plus id ranges.  One scan, one 8-row agg; at 100 TB the same
    expression IS the `partitionBy` key for the sharded writer."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 10
            ),
            16,
            10,
        )
        .cast("long")
        % 8
    ).cast("int")
    return (
        docs.select(
            "doc_id",
            shard.alias("shard"),
            F.size(_tokens(F.col("text"))).alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


@query(
    "docs_quality_weighted_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, source,
             CAST(ROUND(10000 * ROUND(
               0.5 * least(len(toks) / 100.0, 1.0)
               + 0.5 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)), 4))
               AS BIGINT) AS score_e4,
             ('0x' || substr(md5('qws:' || doc_id), 1, 10))::BIGINT AS h40
      FROM t WHERE len(toks) > 0
    ), marked AS (
      SELECT source, score_e4,
             CASE WHEN h40 * 10000 < score_e4 * 1099511627776 THEN 1 ELSE 0 END AS kept
      FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 4) AS kept_frac,
           ROUND(CAST(SUM(CASE WHEN kept = 1 THEN score_e4 ELSE 0 END) AS DOUBLE)
                 / (10000 * greatest(SUM(kept), 1)), 6) AS avg_quality_kept
    FROM marked GROUP BY source ORDER BY source
    """,
)
def docs_quality_weighted_sample(spark, sf_dir):
    """Quality-weighted deterministic sampling (importance-resampling
    flavor, the DoReMi/CCNet-style knob): each document is kept with
    probability equal to its [0,1] quality score, decided by a content-free
    md5 hash — retry-safe, reshuffle-free, no rand().  The accept test is
    ALL-INTEGER: h40 * 10000 < score_e4 * 2^40, where h40 is the first 10
    md5 hex digits (< 2^40, exact in int64) and score_e4 the 4-decimal
    score scaled to an integer — no float comparison ever decides
    membership, so every engine agrees on the exact sample.  One scan, one
    tiny per-source agg; the scoring reuses operators.text.quality_score
    (oracle-green in docs_quality_scores)."""
    from prod_data_pipeline_spark.functions.text import tokens as _tokens
    from prod_data_pipeline_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    base = docs.select(
        "doc_id", "source", toks.alias("toks"), F.array_distinct(toks).alias("dtoks")
    ).filter(F.size("toks") > 0)
    score_e4 = F.round(
        F.lit(10000) * quality_score(F.col("toks"), F.col("dtoks")), 0
    ).cast("long")
    h40 = F.conv(F.substring(F.md5(F.concat(F.lit("qws:"), F.col("doc_id").cast("string"))), 1, 10), 16, 10).cast("long")
    marked = base.select(
        "source",
        score_e4.alias("score_e4"),
        F.when(h40 * F.lit(10000) < score_e4 * F.lit(1 << 40), 1).otherwise(0).alias("kept"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.round(F.sum("kept").cast("double") / F.count(F.lit(1)), 4).alias("kept_frac"),
            F.round(
                F.sum(F.when(F.col("kept") == 1, F.col("score_e4")).otherwise(0)).cast("double")
                / (F.lit(10000) * F.greatest(F.sum("kept"), F.lit(1))),
                6,
            ).alias("avg_quality_kept"),
        )
        .orderBy("source")
    )


