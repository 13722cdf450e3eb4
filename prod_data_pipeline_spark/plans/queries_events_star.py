"""Query registrations (chunk 1/5 of the former monolithic
plans/queries.py — split round 10, registration order preserved:
plans/queries.py imports the chunks in original file order).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prod_data_pipeline_spark.schemas import TESTDATA_EVENT_TYPES
from prod_data_pipeline_spark.session import truncate_lineage

from prod_data_pipeline_spark.plans.query_registry import (
    _COS_SQL,
    _LANG_SQL_SETS,
    _SQDIST_SQL,
    _TOKS_SQL,
    _VALID_TYPES_SQL,
    _t,
    dsum,
    jaccard_sql,
    minhash_sig_sql,
    near_dup_pairs_sql,
    pq_adc_sql,
    query,
    shingles_sql,
    srp_candidates_sql,
)

# ---------------------------------------------------------------------------
# Reference-parity queries over `events`
# (golden queries: /root/reference/sql/athena/curated_events.sql:17-36;
#  DQ profile: glue/jobs/raw_to_curated_events_v3_dq.py:70-106)
# ---------------------------------------------------------------------------


@query(
    "events_per_day",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_per_day(spark, sf_dir):
    """Golden query #1: rows per ingestion day (curated_events.sql:17-20)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("day")
    )


@query(
    "events_per_day_sql",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_per_day_sql(spark, sf_dir):
    """Golden query #1 through the SQL entry point (parse -> analyze ->
    Catalyst -> same physical plan as the DataFrame form): the engine's
    spark.sql surface, mirroring the reference's Athena path
    (curated_events.sql:17-20)."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_v")
    return spark.sql(
        "SELECT to_date(ts) AS day, COUNT(*) AS n_events FROM events_v GROUP BY 1 ORDER BY 1"
    )


@query(
    "events_null_profile",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
           CAST(SUM(CASE WHEN value   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type
    FROM events
    """,
)
def events_null_profile(spark, sf_dir):
    """Golden query #2: conditional null profile (curated_events.sql:23-27)."""
    ev = _t(spark, sf_dir, "events")

    def nulls(c):
        return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long")

    return ev.agg(
        F.count(F.lit(1)).alias("total_rows"),
        nulls("user_id").alias("null_user_id"),
        nulls("value").alias("null_value"),
        nulls("event_type").alias("null_event_type"),
    )


_PROFILE_COLS = ["event_id", "event_type", "props", "ts", "user_id", "value"]


@query(
    "events_column_profile",
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM events"""
        for c in _PROFILE_COLS
    )
    + " ORDER BY column_name",
)
def events_column_profile(spark, sf_dir):
    """Whole-table column profile (null count + exact distinct per column)
    in ONE aggregation pass + an unpivot — the generic data-profiling
    sibling of the events DQ gate.  Distinct counts share one Expand pass;
    at very large scale swap count_distinct for approx_count_distinct and
    the plan loses the Expand entirely."""
    ev = _t(spark, sf_dir, "events")
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"null_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"dist_{c}"))
    row = ev.agg(*aggs)
    stack = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in _PROFILE_COLS)
    return (
        row.selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS (column_name, n_null, n_distinct)"
        )
        .orderBy("column_name")
    )


@query(
    "events_dq_profile",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
           CAST(SUM(CASE WHEN user_id  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
           CAST(SUM(CASE WHEN event_type NOT IN ({_VALID_TYPES_SQL}) THEN 1 ELSE 0 END) AS BIGINT)
               AS invalid_type_rows,
           CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) AS dup_event_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS distinct_event_ids
    FROM events
    """,
)
def events_dq_profile(spark, sf_dir):
    """Single-pass DQ profile: the reference ran SEVEN actions for these
    numbers (v3_dq.py:70-83); one fused agg computes them all, including the
    duplicate count as count(id) - count(distinct id) (== sum(count-1),
    v3_dq.py:81-83)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0)).cast("long").alias("null_event_id"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).cast("long").alias("null_user_id"),
        F.sum(F.when(~F.col("event_type").isin(TESTDATA_EVENT_TYPES), 1).otherwise(0))
        .cast("long")
        .alias("invalid_type_rows"),
        (F.count("event_id") - F.count_distinct(F.col("event_id"))).cast("long").alias("dup_event_rows"),
        F.count_distinct(F.col("event_id")).cast("long").alias("distinct_event_ids"),
    )


@query(
    "events_type_value_stats",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((CAST(CAST(SUM(CAST(FLOOR((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sum_value,
           CAST((CAST(CAST(SUM(CAST(FLOOR((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) / NULLIF(COUNT(value), 0) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    WHERE event_type IN ({_VALID_TYPES_SQL})
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_type_value_stats(spark, sf_dir):
    """Set-membership filter (v3_dq.py:78) + per-type value stats with
    exact decimal summation."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin(TESTDATA_EVENT_TYPES))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            (dsum("value") / F.when(F.count("value") > 0, F.count("value"))).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type")
    )


@query(
    "events_hourly_activity",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_hourly_activity(spark, sf_dir):
    """Hourly rollup — the time-series shape of the reference's daily
    partition counts at finer grain."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("hour")
    )


@query(
    "repeat_users_topk",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id HAVING COUNT(*) > 1
    ORDER BY n_events DESC, user_id LIMIT 20
    """,
)
def repeat_users_topk(spark, sf_dir):
    """HAVING + top-k with deterministic tie-break (curated_events.sql:31-36
    shape, guaranteed-nonempty variant)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") > 1)
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(20)
    )


@query(
    "dup_event_ids",
    oracle="""
    WITH ev AS (
      SELECT event_id FROM events
      UNION ALL
      SELECT event_id FROM events WHERE event_id % 100 = 0
    )
    SELECT event_id, CAST(COUNT(*) AS BIGINT) AS occurrences
    FROM ev GROUP BY event_id HAVING COUNT(*) > 1
    ORDER BY occurrences DESC, event_id LIMIT 20
    """,
)
def dup_event_ids(spark, sf_dir):
    """Golden query #3 verbatim shape: duplicate event_id inspection
    (curated_events.sql:31-36).  The raw table has no duplicate ids, so the
    input unions a deterministic slice (event_id % 100 == 0) back in — the
    HAVING > 1 path is exercised on non-empty output instead of vacuously
    hash-matching an empty set."""
    ev = _t(spark, sf_dir, "events").select("event_id")
    planted = ev.filter(F.col("event_id") % 100 == 0)
    return (
        ev.union(planted)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") > 1)
        .orderBy(F.desc("occurrences"), F.asc("event_id"))
        .limit(20)
    )


@query(
    "props_key_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(k) AS DOUBLE) / NULLIF(COUNT(k), 0) AS avg_k,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def props_key_stats(spark, sf_dir):
    """Semi-structured column: JSON path extraction stays JVM-side via
    get_json_object — no Python UDF."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    ev = ev.withColumn("k", k)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            (F.sum("k").cast("double") / F.when(F.count("k") > 0, F.count("k"))).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "props_typed_struct_stats",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM (SELECT ts, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
    GROUP BY 1 ORDER BY 1
    """,
)
def props_typed_struct_stats(spark, sf_dir):
    """Semi-structured column via from_json with an explicit schema (the
    typed-struct sibling of props_key_stats' path extraction): parse once,
    then ordinary columnar refs — still JVM-side, still one pass."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json(F.col("props"), "k INT"))
    return (
        parsed.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("p.k").alias("n_with_k"),
            F.sum("p.k").cast("long").alias("sum_k"),
        )
        .orderBy("day")
    )


@query(
    "events_curated_projection",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
           CAST(ts AS DATE) AS ingestion_date
    FROM events ORDER BY event_id
    """,
)
def events_curated_projection(spark, sf_dir):
    """The curate transform's deterministic columns (v3_dq.py:54-65):
    typed timestamp + derived partition date.  processing_ts
    (current_timestamp) is excluded — nondeterministic (SURVEY §7 risk)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("ingestion_date"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Star-schema extension surface (SURVEY.md §2.6/§7 step 3): joins, set ops,
# windows, rollup/cube — all absent in the reference, required by the north
# star.  Tables: TPC-H-ish star schema in /root/testdata.
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sum_qty,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sum_base_price,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS sum_disc_price,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS sum_charge,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0) AS DOUBLE) / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: wide partial-aggregatable scan-agg, the canonical
    map-side-combine stress test."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("sum_disc_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
            ).alias("sum_charge"),
            (dsum("l_quantity") / cnt).alias("avg_qty"),
            (dsum("l_extendedprice") / cnt).alias("avg_price"),
            (dsum("l_discount", 4) / cnt).alias("avg_disc"),
            cnt.cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "top_orders_by_revenue",
    oracle="""
    SELECT o.o_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate, c.c_mktsegment,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, c.c_mktsegment
    ORDER BY revenue DESC, o.o_orderkey LIMIT 10
    """,
)
def top_orders_by_revenue(spark, sf_dir):
    """TPC-H Q3 shape, pre-aggregated: lineitem revenue collapses to one row
    per orderkey BEFORE any join (partial agg on the fact table's own key —
    ONE shuffle), then the per-order rows join the filtered orders x
    broadcast customer dims.  The naive shape (join facts, then group) pays
    two shuffles of the full fact table; at 100 TB that is the difference
    between shuffling 600 GB of joined rows and 20 GB of per-order sums.
    o_orderkey is unique in orders, so grouping before vs after the join is
    value-identical."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_orderkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "o_orderdate", "c_mktsegment", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "regional_nation_revenue",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def regional_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way star join; every dimension broadcast, the two
    fact tables shuffle once on l_orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(c),
            (c.c_custkey == o.o_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "brand_volume",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sum_qty,
           CAST((CAST(CAST(SUM(CAST(FLOOR((p.p_retailprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sum_retail,
           CAST(SUM(p.p_size) AS DOUBLE) / COUNT(*) AS avg_size
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
)
def brand_volume(spark, sf_dir):
    """Fact x broadcast-dim join + agg: the bread-and-butter shape at 100 TB
    (never shuffle the fact table for a dim lookup)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("p_retailprice").alias("sum_retail"),
            (F.sum("p_size").cast("double") / F.count(F.lit(1))).alias("avg_size"),
        )
        .orderBy("p_brand")
    )


@query(
    "slow_orders_by_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def slow_orders_by_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS decorrelated into a left-semi join
    whose condition spans both tables (ship lag > 90 days) — one shuffle on
    the order key, no subquery re-execution per row."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    slow = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        slow.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "small_quantity_parts_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             CAST((CAST(CAST(SUM(CAST(FLOOR((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) / 7.0, 4)
               AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#4'
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def small_quantity_parts_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar AVG subquery decorrelated into a
    per-part pre-aggregate + join (the per-part averages are one narrow
    shuffle; exact decimal arithmetic keeps the 0.2*avg threshold
    bit-identical across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    pa = li.groupBy("l_partkey").agg(
        (dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa.withColumnRenamed("l_partkey", "pa_partkey"),
              F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(dsum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@query(
    "disjunctive_brand_revenue",
    oracle="""
    SELECT CAST((CAST(CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 20)
    """,
)
def disjunctive_brand_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs mixed predicate over a broadcast join.
    Catalyst splits the disjunction: the part-only conjuncts
    ((brand, size) OR (brand, size)) push below the join into the dim scan,
    while the cross-table residual evaluates post-join — filter early on
    both inputs even with ORs in the way."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 10)
    ) | (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 20)
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "customer_order_distribution",
    oracle="""
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ) GROUP BY n_orders ORDER BY n_orders
    """,
)
def customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: left outer join preserving zero-order customers +
    two-level aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


@query(
    "customers_with_orders_by_segment",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def customers_with_orders_by_segment(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "customers_without_orders",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name FROM customer
      UNION ALL
      SELECT c_custkey + 10000000, c_name FROM customer WHERE c_custkey % 15 = 0
    )
    SELECT c_custkey, c_name FROM c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark, sf_dir):
    """Orphan check via anti-join — the scalable form of referential DQ.
    Every custkey in the test data has orders, so a deterministic shifted
    slice (custkey + 10M) is unioned in as guaranteed orphans: the anti-join
    is verified on non-empty output."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orphans = c.filter(F.col("c_custkey") % 15 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"), "c_name"
    )
    o = _t(spark, sf_dir, "orders")
    cc = c.union(orphans)
    return (
        cc.join(o, cc.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "trading_nations",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE n_nationkey IN (
      SELECT c_nationkey FROM customer UNION SELECT s_nationkey FROM supplier
    ) ORDER BY n_nationkey
    """,
)
def trading_nations(spark, sf_dir):
    """UNION (distinct) + semi-join."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    keys = (
        c.select(F.col("c_nationkey").alias("k"))
        .union(s.select(F.col("s_nationkey").alias("k")))
        .distinct()
    )
    return (
        n.join(keys, n.n_nationkey == keys.k, "left_semi")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    )


@query(
    "nation_keys_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def nation_keys_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(s.select(F.col("s_nationkey").alias("nationkey")))
        .orderBy("nationkey")
    )


@query(
    "nation_keys_except",
    oracle="""
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT c_nationkey + 100 FROM customer WHERE c_nationkey < 5
    )
    EXCEPT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def nation_keys_except(spark, sf_dir):
    """Distinct-set EXCEPT.  Customers and suppliers cover the same 25
    nationkeys in the test data, so a shifted slice (+100 for nationkey < 5)
    is unioned into the left side — the subtract is verified on non-empty
    output instead of an empty set."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    left = c.select(F.col("c_nationkey").alias("nationkey")).union(
        c.filter(F.col("c_nationkey") < 5).select(
            (F.col("c_nationkey") + 100).alias("nationkey")
        )
    )
    return (
        left.subtract(s.select(F.col("s_nationkey").alias("nationkey")))
        .orderBy("nationkey")
    )


@query(
    "nation_keys_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def nation_keys_except_all(spark, sf_dir):
    """Multiset EXCEPT ALL (bag semantics — each supplier occurrence cancels
    one customer occurrence), vs the distinct-set `nation_keys_except`."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .exceptAll(s.select(F.col("s_nationkey").alias("nationkey")))
        .orderBy("nationkey")
    )


@query(
    "events_grouping_sets",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY GROUPING SETS ((CAST(ts AS DATE)), (event_type))
    ORDER BY day NULLS FIRST, event_type NULLS FIRST
    """,
)
def events_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (neither rollup nor cube): per-day totals and
    per-type totals in one pass, via the SQL surface."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_gs_v")
    return spark.sql(
        """
        SELECT to_date(ts) AS day, event_type, COUNT(*) AS n_events
        FROM events_gs_v
        GROUP BY GROUPING SETS ((to_date(ts)), (event_type))
        ORDER BY day, event_type
        """
    )



# events_value_quantiles merged into plans/queries_merged_panels.py::
# events_value_distribution (round-15 consolidation switch) — the panel's
# 'quantiles' section is this query's exact plan over the shared scan.


@query(
    "events_daily_type_pivot",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
               for t in sorted(TESTDATA_EVENT_TYPES)
           )}
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_daily_type_pivot(spark, sf_dir):
    """Pivot day x event_type — explicit value list so the plan is a single
    pass (unlisted pivot values would need an extra distinct-scan job)."""
    ev = _t(spark, sf_dir, "events")
    vals = sorted(TESTDATA_EVENT_TYPES)
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", vals)
        .agg(F.count(F.lit(1)))
        .na.fill(0, vals)
        .orderBy("day")
    )


@query(
    "order_rollup_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST((CAST(CAST(SUM(CAST(FLOOR((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def order_rollup_stats(spark, sf_dir):
    """GROUPING SETS surface: rollup with subtotal + grand-total rows."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@query(
    "events_cube_day_type",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY CUBE (CAST(ts AS DATE), event_type)
    ORDER BY day NULLS FIRST, event_type NULLS FIRST
    """,
)
def events_cube_day_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return (
        ev.cube("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("day", "event_type")
    )


@query(
    "top_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) = 1
    ORDER BY o_custkey
    """,
)
def top_order_per_customer(spark, sf_dir):
    """row_number window — the keep-first-per-key primitive that also backs
    exact dedup (SURVEY §2.6)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    )


@query(
    "user_running_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS DOUBLE) / 100.0 AS running_value
    FROM events ORDER BY event_id
    """,
)
def user_running_value(spark, sf_dir):
    """Running (prefix) sum per user — long-numerator accumulation
    (round-11 dsum sweep): the window sums exact int64 numerators
    floor(value*100+0.5) instead of one BigDecimal per frame step, and
    each row pays ONE long->double cast + division.  Order-independent-
    exact like the former DECIMAL form, ~BigDecimal-free in the window
    accumulator (the hot path at 100 TB: every row of every user
    re-touches the accumulator).  Bound: |prefix sum|*100 < 2^63 = 9.2e16
    of summed value per user."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)))
            .over(w)
            .cast("double")
            / F.lit(100.0)
        ).alias("running_value"),
    ).orderBy("event_id")


@query(
    "user_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id,
             LAG(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS prev_ts,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def user_sessions(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via lag + conditional sum.
    Gap arithmetic in integer epoch-micros on both engines — second-level
    truncation would disagree at the boundary."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Dedup / text-analysis / similarity extension surface (north star;
# SURVEY §7 step 3).  Oracle SQL mirrors the exact Spark expression —
# including md5-based MinHash so signatures are bit-identical cross-engine.
# ---------------------------------------------------------------------------

from prod_data_pipeline_spark.operators.dedup import (
    MINHASH_HASHES,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
)
from prod_data_pipeline_spark.operators.text import WINNOW_K, WINNOW_WINDOW


@query(
    "dedup_docs_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY content_hash
    """,
)
def dedup_docs_exact(spark, sf_dir):
    """Exact dedup groups: digest group-by, keep-lowest-id (operators.dedup)."""
    from prod_data_pipeline_spark.operators.dedup import exact_dedup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs).orderBy("content_hash")


@query(
    "docs_minhash_signatures",
    oracle=f"""
    WITH {minhash_sig_sql()}
    SELECT * EXCLUDE (sh) FROM sig ORDER BY doc_id
    """,
)
def docs_minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 hashes, word-3-gram shingles, md5 per
    shingle) — bit-identical to the SQL oracle."""
    from prod_data_pipeline_spark.operators.dedup import with_minhash

    docs = _t(spark, sf_dir, "documents")
    sig = with_minhash(docs)
    return sig.select("doc_id", *[f"mh_{j}" for j in range(MINHASH_HASHES)]).orderBy("doc_id")


@query(
    "docs_near_dup_pairs",
    oracle=f"""
    WITH {near_dup_pairs_sql(0.5)}
    SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b
    """,
)
def docs_near_dup_pairs(spark, sf_dir):
    """MinHash-LSH near-duplicate pairs (4 bands x 2 rows) with exact
    Jaccard >= 0.5 verification on band collisions only."""
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return near_dup_pairs(docs, threshold=0.5)


@query(
    "docs_ngram_jaccard_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, lang, source, {shingles_sql()} AS sh FROM t
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND({jaccard_sql("a.sh", "b.sh")}, 4) AS jaccard
      FROM s a JOIN s b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.2
    ORDER BY id_a, id_b
    """,
)
def docs_ngram_jaccard_pairs(spark, sf_dir):
    """Blocked exact n-gram Jaccard pairs (block on lang+source)."""
    from prod_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.2)


@query(
    "corpus_curation_stats",
    oracle=f"""
    WITH RECURSIVE dedup AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), {near_dup_pairs_sql(0.5, src="dedup")}, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), walk AS (
      SELECT src, dst AS reach FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ), losers AS (
      SELECT src AS id_b FROM walk GROUP BY src HAVING src > MIN(reach)
    ), q AS (
      SELECT d.lang, len(t.toks) AS n,
             ROUND(0.5 * least(CAST(len(t.toks) AS DOUBLE) / 100.0, 1.0)
                   + 0.5 * (CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks)), 4)
                 AS quality
      FROM dedup d JOIN t USING (doc_id)
      WHERE doc_id NOT IN (SELECT id_b FROM losers)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((quality) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0) AS DOUBLE) / COUNT(*), 6)
               AS avg_quality
    FROM q WHERE quality >= 0.45
    GROUP BY lang ORDER BY lang
    """,
)
def corpus_curation_stats(spark, sf_dir):
    """Flagship training-data composition (operators.corpus.curate_corpus):
    exact dedup -> transitive near-dup removal (connected components over
    the LSH pair graph) -> quality gate, reported per language.  The oracle
    replays the ENTIRE pipeline in SQL — recursive-CTE reachability stands
    in for the iterative label propagation — so the value-hash checks dedup
    keep-rules, LSH banding, Jaccard verification, transitive clustering,
    and the quality filter end-to-end."""
    from prod_data_pipeline_spark.operators.corpus import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    kept = curate_corpus(docs, jaccard_threshold=0.5, min_quality=0.45)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                dsum("quality", 4) / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@query(
    "corpus_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {near_dup_pairs_sql(0.5)}, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), walk AS (
      SELECT src, dst AS reach FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    )
    SELECT src AS doc_id, least(src, MIN(reach)) AS cluster_id
    FROM walk GROUP BY src ORDER BY doc_id
    """,
)
def corpus_dup_clusters(spark, sf_dir):
    """Transitive near-duplicate clusters: connected components over the
    MinHash-LSH verified pair graph (operators.corpus.dup_clusters,
    iterative min-label propagation to fixpoint).  cluster_id is the
    smallest doc_id in each component; the oracle computes the same
    closure with a DuckDB recursive CTE."""
    from prod_data_pipeline_spark.operators.corpus import dup_clusters
    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, threshold=0.5)
    return dup_clusters(pairs).orderBy("doc_id")


def _simhash_core_sql(p: str = "") -> str:
    """CTE chain (no WITH, no final SELECT) replaying the md5
    SimHash pipeline: per-token bit from hex-nibble arithmetic,
    sign-of-sum per bit, 4-chunk pigeonhole bucketing, exact Hamming
    verify (SIMHASH_BITS bits, Hamming <= SIMHASH_MAX_HAMMING).  Mirrors
    operators/dedup.py bit for bit.  ``p`` prefixes
    every CTE name so the chain composes into larger oracles; the final
    CTE is ``{p}shpairs (id_a, id_b, hamming)``."""
    bits, max_hamming = SIMHASH_BITS, SIMHASH_MAX_HAMMING
    sums = ",\n             ".join(
        f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1)"
        f" >> {b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    simexpr = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)" for b in range(bits)
    )
    chunk_bits = bits // 4
    mask = (1 << chunk_bits) - 1
    return f"""{p}t AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), {p}h AS (
      SELECT doc_id, md5(tok) AS h FROM {p}t
    ), {p}s AS (
      SELECT doc_id, {sums}
      FROM {p}h GROUP BY doc_id
    ), {p}sim AS (
      SELECT doc_id, {simexpr} AS simhash FROM {p}s
    ), {p}c AS (
      SELECT doc_id, simhash, chunk_id,
             (simhash >> ({chunk_bits} * chunk_id)) & {mask} AS chunk
      FROM {p}sim CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk_id)
    ), {p}cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.simhash AS sa, r.simhash AS sb
      FROM {p}c l JOIN {p}c r
        ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk AND l.doc_id < r.doc_id
    ), {p}shpairs AS (
      SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      FROM {p}cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    )"""


def _simhash_sql() -> str:
    return f"""
    WITH {_simhash_core_sql()}
    SELECT id_a, id_b, hamming FROM shpairs ORDER BY id_a, id_b
    """


@query("docs_simhash_pairs", oracle=_simhash_sql())
def docs_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidates (4-chunk pigeonhole, Hamming <= 3).
    60-bit md5 SimHash, so the DuckDB oracle replays the scheme exactly;
    planted near-dup unit tests cover recall (tests/test_dedup_text.py)."""
    from prod_data_pipeline_spark.operators.dedup import simhash_bucket_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_bucket_pairs(docs)


@query(
    "docs_simhash_recall_vs_exact",
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
      WHERE rn <= sz - ((90 * sz + 99) // 100) + 1
    ), ecand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.token = b.token AND a.doc_id < b.doc_id
      WHERE 90 * greatest(a.sz, b.sz) <= 100 * least(a.sz, b.sz)
    ), exact AS (
      SELECT c.id_a, c.id_b FROM ecand c
      JOIN t2 ta ON ta.doc_id = c.id_a
      JOIN t2 tb ON tb.doc_id = c.id_b
      WHERE 100 * len(list_intersect(ta.toks, tb.toks))
            >= 90 * (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
    ), {_simhash_core_sql("sh_")}
    , ov AS (
      SELECT s.id_a, s.id_b FROM sh_shpairs s
      JOIN exact e ON e.id_a = s.id_a AND e.id_b = s.id_b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sh_shpairs) AS n_simhash,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ov) AS n_overlap,
           ROUND(CAST((SELECT COUNT(*) FROM ov) AS DOUBLE)
                 / greatest((SELECT COUNT(*) FROM exact), 1), 4) AS recall,
           ROUND(CAST((SELECT COUNT(*) FROM ov) AS DOUBLE)
                 / greatest((SELECT COUNT(*) FROM sh_shpairs), 1), 4) AS precision
    """,
)
def docs_simhash_recall_vs_exact(spark, sf_dir):
    """SimHash sketch calibration against EXACT token-Jaccard ground
    truth — completes the blocker-audit family (LSH: docs_lsh_recall_vs_
    exact, SNM: docs_snm_recall_vs_exact): unlike those two, the SimHash
    pigeonhole banding is EXACT for its own Hamming threshold, so what
    this audit measures is the SKETCH's approximation — how well
    60-bit sign-of-sum Hamming <= 3 predicts token-set Jaccard >= 0.9 —
    as recall AND precision over the exact prefix-join pair set.
    Calibration note: Hamming <= 3 of 60 bits corresponds to cosine
    ~0.99, a TIGHTER band than Jaccard 0.9, so precision is expected
    near 1.0 and recall well below it — the audit quantifies exactly
    that asymmetry, which is the number a pipeline needs to decide
    whether SimHash alone may gate a corpus at a given threshold.  Both
    memberships are all-integer rules, so both sides (and the two
    ratios) replay exactly in the oracle.  Scale: the exact side is the
    audit's cost (prefix join, zero false negatives); the SimHash side
    is one 8-byte sketch per doc + pigeonhole buckets."""
    from prod_data_pipeline_spark.operators.dedup import (
        jaccard_prefix_pairs,
        simhash_bucket_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    # materialize=True in both operators: each relation feeds two
    # consumers (its own count + the overlap join) off stored blocks
    exact = jaccard_prefix_pairs(docs, threshold_pct=90).select("id_a", "id_b")
    sh = simhash_bucket_pairs(docs, sort=False, materialize=True).select("id_a", "id_b")
    ov = sh.join(exact, ["id_a", "id_b"], "left_semi")
    n_e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_s = sh.agg(F.count(F.lit(1)).alias("n_simhash"))
    n_o = ov.agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        n_e.crossJoin(F.broadcast(n_s))
        .crossJoin(F.broadcast(n_o))
        .select(
            "n_exact",
            "n_simhash",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.greatest("n_exact", F.lit(1)), 4
            ).alias("recall"),
            F.round(
                F.col("n_overlap").cast("double") / F.greatest("n_simhash", F.lit(1)),
                4,
            ).alias("precision"),
        )
    )


def _winnow_sql() -> str:
    """DuckDB replay of md5 winnowing: k-gram shingles (ordered,
    with duplicates), md5 per shingle, lexicographic min of each w-window
    (a short doc keeps the min of everything it has), distinct + explode."""
    k, window = WINNOW_K, WINNOW_WINDOW
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             list_transform({shingles_sql(k, distinct=False)}, x -> md5(x)) AS hs
      FROM t
    ), w AS (
      SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN []::VARCHAR[]
                  WHEN len(hs) < {window} THEN [list_aggregate(hs, 'min')]
                  ELSE list_transform(range(1, len(hs) - {window - 2}),
                         i -> list_aggregate(hs[i:i+{window - 1}], 'min'))
                  END AS wmins
      FROM s
    )
    SELECT doc_id, fingerprint FROM (
      SELECT doc_id, unnest(list_sort(list_distinct(wmins))) AS fingerprint FROM w
    ) ORDER BY doc_id, fingerprint
    """


@query("docs_winnow_fingerprints", oracle=_winnow_sql())
def docs_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints, exploded to (doc_id, fingerprint) rows.
    md5 shingle hashes and lexicographic window minima, so the DuckDB oracle
    replays the whole scheme; containment is unit-tested
    (tests/test_dedup_text.py)."""
    from prod_data_pipeline_spark.operators.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return (
        winnow_fingerprints(docs)
        .select("doc_id", F.explode("fingerprints").alias("fingerprint"))
        .orderBy("doc_id", "fingerprint")
    )


@query(
    "docs_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, list_distinct({_TOKS_SQL}) AS dt FROM documents
    ), h AS (
      SELECT doc_id, lang,
             len(list_intersect(dt, {_LANG_SQL_SETS['en']})) AS h_en,
             len(list_intersect(dt, {_LANG_SQL_SETS['es']})) AS h_es,
             len(list_intersect(dt, {_LANG_SQL_SETS['fr']})) AS h_fr,
             len(list_intersect(dt, {_LANG_SQL_SETS['de']})) AS h_de
      FROM t
    )
    SELECT lang,
           CASE WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
                WHEN h_es > 0 AND h_es >= h_fr AND h_es >= h_de THEN 'es'
                WHEN h_fr > 0 AND h_fr >= h_de THEN 'fr'
                WHEN h_de > 0 THEN 'de'
                ELSE 'und' END AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM h GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def docs_lang_id(spark, sf_dir):
    """Stopword-hit language-ID heuristic: labeled vs predicted confusion
    counts (operators.text.predicted_lang)."""
    from prod_data_pipeline_spark.functions.text import distinct_tokens
    from prod_data_pipeline_spark.operators.text import predicted_lang

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("predicted_lang", predicted_lang(distinct_tokens(F.col("text"))))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


_STOP_ALL_SQL = (
    "['the','a','and','of','to','is','in','el','la','de','que','y','los','un',"
    "'le','et','les','des','der','die','und','das','ist','von','ein']"
)


@query(
    "docs_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_n,
             len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS punct_n
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           ROUND(0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                 + 0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 4) AS quality,
           ROUND(CAST(len(list_filter(toks, x -> list_contains({_STOP_ALL_SQL}, x)))
                      AS DOUBLE) / NULLIF(len(toks), 0), 4) AS stopword_ratio,
           ROUND(CAST(punct_n AS DOUBLE) / NULLIF(bpe_n, 0), 4) AS punct_ratio
    FROM t ORDER BY doc_id
    """,
)
def docs_quality_scores(spark, sf_dir):
    """Per-document quality features: length-saturation + lexical-diversity
    composite, stopword ratio (union stoplist), punctuation ratio over
    BPE-ish pre-tokens — the filterable signals of a training-data quality
    gate, all JVM-side expressions."""
    from prod_data_pipeline_spark.functions.text import BPE_PATTERN
    from prod_data_pipeline_spark.operators.text import STOPWORDS, quality_score, token_profile

    stop_all = sorted({w for ws in STOPWORDS.values() for w in ws})
    docs = token_profile(_t(spark, sf_dir, "documents"))
    n_stop = F.size(F.filter(F.col("toks"), lambda t: t.isin(stop_all)))
    bpe_n = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0))
    punct_n = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[^a-z0-9\s]"), 0))
    return docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size("dtoks").cast("long").alias("n_distinct"),
        quality_score(F.col("toks"), F.col("dtoks")).alias("quality"),
        F.round(F.try_divide(n_stop.cast("double"), F.size("toks")), 4).alias("stopword_ratio"),
        F.round(F.try_divide(punct_n.cast("double"), bpe_n), 4).alias("punct_ratio"),
    ).orderBy("doc_id")


#: Fixed alphabet for the character-entropy gate: per-char counts come
#: from length(text) - length(replace(text, ch, '')) — identical
#: semantics in Spark and DuckDB — so no char-explode shuffle exists at
#: all and the entropy is a per-row expression with a FIXED fold order.
_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
_LOG2E_INV = "1.4426950408889634"  # 1/ln(2), shared literal in both engines


def _char_entropy_sql() -> str:
    cnt = lambda ch: f"(length(lc) - length(replace(lc, '{ch}', '')))"
    n = " + ".join(cnt(ch) for ch in _ENTROPY_ALPHABET)
    # Each term quantizes to 7 digits (the repo's ln convention), then
    # recovers its exact INTEGER numerator k = term*1e7 (the recovery
    # round is tie-free: the double is within 1e-9 of k).  The per-row
    # sum is then plain integer addition and the result is S/1e7 — no
    # float accumulation, no final-round tie, and no DECIMAL precision
    # games (a chained DECIMAL sum silently promotes to DOUBLE in
    # engines that cap precision at 38 — found the hard way).
    terms = " + ".join(
        f"(CASE WHEN {cnt(ch)} > 0 THEN CAST(ROUND("
        f"ROUND(-(CAST({cnt(ch)} AS DOUBLE) / nc)"
        f" * ln(CAST({cnt(ch)} AS DOUBLE) / nc) * {_LOG2E_INV}, 7)"
        f" * 10000000.0, 0) AS BIGINT) ELSE 0 END)"
        for ch in _ENTROPY_ALPHABET
    )
    ent = (
        f"CASE WHEN nc > 0 THEN CAST(({terms}) AS DOUBLE) / 10000000.0"
        f" ELSE 0.0 END"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, lower(text) AS lc FROM documents
    ), c AS (
      SELECT doc_id, lc, CAST(({n}) AS DOUBLE) AS nc FROM t
    )
    SELECT doc_id,
           CAST(nc AS BIGINT) AS n_covered,
           {ent} AS entropy_bits,
           ({ent}) < 2.0 AS low_entropy
    FROM c ORDER BY doc_id
    """


@query(
    "docs_char_entropy",
    oracle=_char_entropy_sql(),
)
def docs_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the information-
    theoretic gibberish/repetition gate (low entropy = repeated
    characters or a degenerate alphabet; natural language sits around
    4 bits over this alphabet).  Zero shuffles and zero float
    aggregation: per-character counts come from
    ``length(text) - length(replace(text, ch, ''))`` over a fixed
    37-symbol alphabet, and the entropy is a single per-row expression
    whose 37 terms (each rounded to 7 digits) add in one fixed
    generation order — identical IEEE folds in Spark and DuckDB, so the
    result hash-matches with no DECIMAL machinery at all.  At 100 TB
    this is a pure projection that pushes to the scan."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.lower(F.col("text")).alias("lc"))
    # project each count ONCE as a bound column (lower(text) and the 37
    # replace() calls evaluate once per row; the entropy terms below read
    # column attributes, never re-evaluate string expressions)
    counts = base.select(
        "doc_id",
        *[
            (
                F.length("lc")
                - F.length(F.replace(F.col("lc"), F.lit(ch), F.lit("")))
            ).alias(f"_c{i}")
            for i, ch in enumerate(_ENTROPY_ALPHABET)
        ],
    )
    nc = None
    for i in range(len(_ENTROPY_ALPHABET)):
        nc = F.col(f"_c{i}") if nc is None else nc + F.col(f"_c{i}")
    counts = counts.withColumn("nc", nc.cast("double"))
    log2e = float(_LOG2E_INV)
    terms = None
    for i in range(len(_ENTROPY_ALPHABET)):
        p = F.col(f"_c{i}").cast("double") / F.col("nc")
        # integer-numerator recovery + long sum: see the oracle
        # generator's comment (no float accumulation, no DECIMAL
        # precision promotion)
        term = F.when(
            F.col(f"_c{i}") > 0,
            F.round(
                F.round(-p * F.log(p) * F.lit(log2e), 7) * F.lit(1e7), 0
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        terms = term if terms is None else terms + term
    ent = F.when(
        F.col("nc") > 0, terms.cast("double") / F.lit(1e7)
    ).otherwise(F.lit(0.0))
    return counts.select(
        "doc_id",
        F.col("nc").cast("bigint").alias("n_covered"),
        ent.alias("entropy_bits"),
        (ent < 2.0).alias("low_entropy"),
    ).orderBy("doc_id")


@query(
    "docs_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len({_TOKS_SQL}) AS word_n,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                 AS bpe_n,
             n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(word_n) AS BIGINT) AS n_words,
           CAST(SUM(bpe_n) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(bpe_n) AS DOUBLE) / NULLIF(SUM(word_n), 0), 6)
               AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / NULLIF(SUM(bpe_n), 0), 6)
               AS chars_per_token
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def docs_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language — the standard multilingual
    tokenizer-eval diagnostic: pre-tokens per whitespace word (fertility;
    higher = the tokenizer fragments that language more, inflating its
    effective sequence lengths and training cost) and characters per
    pre-token (compression rate), over the shared BPE-ish pre-tokenizer
    (functions.text.BPE_PATTERN).  All metrics are single double
    divisions of exact per-language integer sums — one fused scan-agg,
    deterministic at any parallelism, |langs| output rows."""
    from prod_data_pipeline_spark.functions.text import BPE_PATTERN, tokens

    docs = _t(spark, sf_dir, "documents")
    word_n = F.size(tokens(F.col("text")))
    bpe_n = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0))
    return (
        docs.select("lang", word_n.alias("word_n"), bpe_n.alias("bpe_n"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("word_n").cast("bigint").alias("n_words"),
            F.sum("bpe_n").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.try_divide(F.sum("bpe_n").cast("double"), F.sum("word_n")), 6
            ).alias("fertility"),
            F.round(
                F.try_divide(F.sum("n_chars").cast("double"), F.sum("bpe_n")), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


@query(
    "docs_token_stats",
    oracle=f"""
    WITH e AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM documents
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_tokens,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avg_tokens_per_doc
    FROM e GROUP BY lang ORDER BY lang
    """,
)
def docs_token_stats(spark, sf_dir):
    """Corpus token statistics per language, split into two cheap aggregates
    instead of one multi-distinct aggregate: two COUNT(DISTINCT ...) over an
    exploded corpus makes Spark Expand every exploded row 3x before the
    shuffle.  Here (a) doc counts/token totals come from per-doc sizes with
    NO explode at all, and (b) the vocabulary count explodes only the
    per-doc DISTINCT tokens (a strict subset) into a single-distinct agg.
    Same numbers, ~3x less shuffle input."""
    from prod_data_pipeline_spark.functions.text import distinct_tokens, tokens as toks_fn

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select("lang", F.size(toks_fn(F.col("text"))).alias("n"))
    totals = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
    )
    vocab = (
        docs.select("lang", F.explode(distinct_tokens(F.col("text"))).alias("tok"))
        .groupBy("lang")
        .agg(F.count_distinct(F.col("tok")).alias("distinct_tokens"))
    )
    return (
        totals.join(vocab, "lang")
        .select(
            "lang",
            "n_docs",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            "distinct_tokens",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias("avg_tokens_per_doc"),
        )
        .orderBy("lang")
    )


@query(
    "emb_topk_bruteforce",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * v.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * q.qe[i])))
                * sqrt(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * v.e[i]))))
             AS sim
      FROM q, v WHERE q.query_id <> v.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 5
    ORDER BY query_id, rank
    """,
)
def emb_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-5 neighbors for query vectors vec_id < 8 —
    broadcast-queries x one corpus scan (operators.similarity)."""
    from prod_data_pipeline_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    out = brute_force_topk(emb, queries_df, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "emb_topk_ivf",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), cm AS (
      SELECT label AS cell, pos,
             CAST(SUM(CAST(e[pos] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      FROM v, UNNEST(range(1, len(e) + 1)) AS t(pos)
      GROUP BY 1, 2
    ), cent AS (
      SELECT cell, list(m ORDER BY pos) AS c FROM cm GROUP BY cell
    ), acell AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="v.e", b="cent.c")}, cent.cell) AS rn
        FROM v, cent
      ) WHERE rn = 1
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT v.vec_id AS query_id, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="v.e", b="cent.c")}, cent.cell) AS rn
        FROM v, cent WHERE v.vec_id < 8
      ) WHERE rn <= 2
    ), scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i] * c.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i] * q.e[i])))
                * sqrt(list_sum(list_transform(range(1, len(c.e)+1), i -> c.e[i] * c.e[i]))))
             AS sim
      FROM probes p
      JOIN acell a ON a.cell = p.cell
      JOIN v c ON c.vec_id = a.vec_id
      JOIN v q ON q.vec_id = p.query_id
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 5
    ORDER BY query_id, rank
    """,
)
def emb_topk_ivf(spark, sf_dir):
    """IVF approximate top-5 with the DETERMINISTIC label-centroid coarse
    quantizer (operators.similarity.ivf_topk_label): exact decimal-mean
    centroids, squared-euclidean argmin assignment with (distance, cell)
    tie-break, nprobe=2 probing, cosine search inside probed cells.
    Oracled since round 5 — DuckDB rebuilds the entire index (centroids,
    assignments, probes) and replays the search bit-for-bit, turning the
    ANN scale path itself into a hash-verified query.  The k-means
    quantizer variant (ivf_topk) is partitioning-sensitive by
    construction and remains instrumented via emb_ivf_recall instead."""
    from prod_data_pipeline_spark.operators.similarity import ivf_topk_label

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return ivf_topk_label(emb, queries_df, k=5, nprobe=2).withColumn(
        "rank", F.col("rank").cast("long")
    )


# md5 hash-bucket replay for the deterministic sampling operators: value of
# the first 8 hex nibbles of md5(salt:key), uniform over [0, 2^32).
def _md5_bucket_terms(h: str = "h") -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )


_SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_SAMPLE_DEFAULT = 0.1
_B32 = 1 << 32


@query(
    "docs_stratified_sample",
    oracle=f"""
    WITH b AS (
      SELECT source, n_chars,
             md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), v AS (
      SELECT source, n_chars, {_md5_bucket_terms()} AS bucket FROM b
    ), kept AS (
      SELECT * FROM v WHERE bucket <
        CASE source
          {" ".join(f"WHEN '{s}' THEN {int(r * _B32)}" for s, r in _SAMPLE_RATES.items())}
          ELSE {int(_SAMPLE_DEFAULT * _B32)} END
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM kept GROUP BY source ORDER BY source
    """,
)
def docs_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (operators.sampling) — per-source
    keep rates from md5 hash buckets, so retries/re-runs/engines all keep
    the SAME rows (df.sample's rand() can't offer that).  Aggregated to
    per-source counts; the oracle replays the bucket arithmetic exactly."""
    from prod_data_pipeline_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, _SAMPLE_RATES, "source", "doc_id", default_rate=_SAMPLE_DEFAULT, salt="mix"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("source")
    )


@query(
    "docs_mixing_weights",
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source
    ), t AS (
      SELECT source, n_rows,
             CAST(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                              WHEN 'src2' THEN 0.2 END AS DOUBLE) AS target_share
      FROM c WHERE source IN ('src0', 'src1', 'src2')
    ), m AS (SELECT MIN(n_rows / target_share) AS m FROM t)
    SELECT source, n_rows, target_share,
           ROUND((target_share * m) / n_rows, 6) AS keep_rate
    FROM t, m ORDER BY source
    """,
)
def docs_mixing_weights(spark, sf_dir):
    """Data-mixing rates: per-source keep rates that hit a target mixture
    (0.5/0.3/0.2) with no upsampling — the most-over-represented source
    caps at 1.0 (operators.sampling.mixing_weights)."""
    from prod_data_pipeline_spark.operators.sampling import mixing_weights

    docs = _t(spark, sf_dir, "documents")
    return mixing_weights(docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "source")


from prod_data_pipeline_spark.operators.sampling import DSIR_BUCKETS, DSIR_SALT

# Shared DuckDB CTE chain replaying operators.sampling.dsir_importance:
# target = English documents, raw = everything else; hashed-bigram bucket
# distributions with Laplace smoothing, per-bucket ln-ratio rounded to 7
# digits (the cross-engine ln convention), exact DECIMAL per-doc sums.
_DSIR_CTES = f"""
    WITH rawd AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents WHERE lang <> 'en'
    ), tgtd AS (
      SELECT {_TOKS_SQL} AS toks FROM documents WHERE lang = 'en'
    ), rg AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, len(toks)),
                      i -> array_to_string(toks[i:i+1], ' '))
               ELSE [] END) AS gram
      FROM rawd
    ), db AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('{DSIR_SALT}:' || gram), 1, 8))::BIGINT % {DSIR_BUCKETS}
                  AS INT) AS bucket,
             COUNT(*) AS cnt
      FROM rg GROUP BY 1, 2
    ), tg AS (
      SELECT unnest(CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, len(toks)),
                      i -> array_to_string(toks[i:i+1], ' '))
               ELSE [] END) AS gram
      FROM tgtd
    ), tcb AS (
      SELECT CAST(('0x' || substr(md5('{DSIR_SALT}:' || gram), 1, 8))::BIGINT % {DSIR_BUCKETS}
                  AS INT) AS bucket,
             COUNT(*) AS tc
      FROM tg GROUP BY 1
    ), rcb AS (
      SELECT bucket, SUM(cnt) AS rc FROM db GROUP BY 1
    ), buckets AS (
      SELECT CAST(d.range AS INT) AS bucket,
             COALESCE(tcb.tc, 0) AS tc, COALESCE(rcb.rc, 0) AS rc
      FROM range(0, {DSIR_BUCKETS}) d
      LEFT JOIN tcb ON tcb.bucket = d.range
      LEFT JOIN rcb ON rcb.bucket = d.range
    ), tot AS (
      SELECT CAST(SUM(tc) AS DOUBLE) AS tt, CAST(SUM(rc) AS DOUBLE) AS rt
      FROM buckets
    ), ratio AS (
      SELECT bucket,
             ROUND(ln((tc + 1.0) / (tt + {DSIR_BUCKETS}.0))
                   - ln((rc + 1.0) / (rt + {DSIR_BUCKETS}.0)), 7) AS log_ratio
      FROM buckets, tot
    ), w AS (
      SELECT db.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
             CAST(ROUND(SUM(CAST(ROUND(cnt * log_ratio, 7) AS DECIMAL(28,7))), 6)
                  AS DOUBLE) AS log_w
      FROM db JOIN ratio USING (bucket) GROUP BY 1
    ), full_w AS (
      SELECT r.doc_id, CAST(COALESCE(w.n_grams, 0) AS BIGINT) AS n_grams,
             COALESCE(w.log_w, 0.0) AS log_w
      FROM (SELECT DISTINCT doc_id FROM rawd) r LEFT JOIN w USING (doc_id)
    )
"""


@query(
    "docs_dsir_weights",
    oracle=_DSIR_CTES
    + """
    SELECT doc_id, n_grams, log_w FROM full_w ORDER BY doc_id
    """,
)
def docs_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators.sampling.dsir_importance; Xie et
    al. 2023): every non-English document scored by how target-like (here:
    English-corpus-like) its hashed-bigram feature distribution is.  The
    raw corpus reduces once to a lineage-cut (doc, bucket, cnt) relation;
    the 1024-row smoothed log-ratio relation broadcasts onto it — the only
    corpus-keyed shuffle is the map-side-combined (doc, bucket) agg, so the
    plan holds when raw is a 100 TB crawl and the target a small curated
    set."""
    from prod_data_pipeline_spark.operators.sampling import dsir_importance

    docs = _t(spark, sf_dir, "documents")
    raw = docs.filter(F.col("lang") != "en")
    target = docs.filter(F.col("lang") == "en")
    return dsir_importance(raw, target).orderBy("doc_id")


@query(
    "docs_dsir_selection",
    oracle=_DSIR_CTES
    + """
    , ranked AS (
      SELECT doc_id, log_w,
             ROW_NUMBER() OVER (ORDER BY log_w DESC, doc_id) AS rnk,
             COUNT(*) OVER () AS nt
      FROM full_w
    ), sel AS (
      SELECT doc_id, log_w,
             CASE WHEN rnk <= CEIL(0.2 * nt) THEN 1 ELSE 0 END AS s
      FROM ranked
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s) AS BIGINT) AS n_selected,
           ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS sel_share,
           ROUND(CAST((CAST(CAST(SUM(CAST(FLOOR((log_w) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) AS DOUBLE)
                 / COUNT(*), 6) AS avg_log_w
    FROM sel JOIN (SELECT DISTINCT doc_id, source FROM rawd) d USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def docs_dsir_selection(spark, sf_dir):
    """DSIR top-20% selection audit: which sources the importance
    resampler favors.  The exact global top-k flag comes from the
    bucketed distributed rank (operators.ranking.bucketed_global_rank —
    no single-partition sort; ties broken by doc_id), then one tiny
    per-source rollup.  This is the composition-shift report a data-mixing
    decision is made from."""
    from prod_data_pipeline_spark.operators.ranking import bucketed_global_rank
    from prod_data_pipeline_spark.operators.sampling import dsir_importance

    docs = _t(spark, sf_dir, "documents")
    raw = docs.filter(F.col("lang") != "en")
    target = docs.filter(F.col("lang") == "en")
    w = dsir_importance(raw, target).withColumn("_negw", -F.col("log_w"))
    ranked = bucketed_global_rank(w, ["_negw", "doc_id"])
    sel = ranked.withColumn(
        "s",
        (F.col("rank") <= F.ceil(F.lit(0.2) * F.col("n_total"))).cast("int"),
    )
    return (
        sel.join(raw.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("s").cast("bigint").alias("n_selected"),
            F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 6).alias(
                "sel_share"
            ),
            F.round(
                dsum("log_w", 6) / F.count(F.lit(1)),
                6,
            ).alias("avg_log_w"),
        )
        .orderBy("source")
    )


@query(
    "docs_chunk_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_TOKS_SQL}) AS toks FROM documents
    ), b AS (
      SELECT doc_id, toks, md5('pack:' || CAST(doc_id AS VARCHAR)) AS h FROM t
    ), v AS (
      SELECT doc_id, toks, ({_md5_bucket_terms()}) % 8 AS grp FROM b
    ), w AS (
      SELECT doc_id, toks, grp,
             CAST(SUM(toks) OVER (PARTITION BY grp ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) - toks AS start_off,
             CAST(SUM(toks) OVER (PARTITION BY grp ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS end_off
      FROM v
    )
    SELECT doc_id, toks,
           grp * 1099511627776 + (start_off // 512) AS first_chunk,
           grp * 1099511627776 + (end_off // 512) AS last_chunk,
           start_off % 512 AS chunk_offset
    FROM w WHERE toks > 0 ORDER BY doc_id
    """,
)
def docs_chunk_spans(spark, sf_dir):
    """GPT-style concat-then-chunk sequence layout (operators.packing):
    documents laid end-to-end per deterministic layout group, sliced into
    512-token chunks; each doc reports its chunk span.  Pure window
    arithmetic — the oracle replays the running sums exactly."""
    from prod_data_pipeline_spark.functions.text import tokens
    from prod_data_pipeline_spark.operators.packing import chunk_spans

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text")))
    )
    return chunk_spans(docs, budget=512, n_groups=8).orderBy("doc_id")


@query(
    "docs_packed_bins",
    oracle=f"""
    WITH RECURSIVE src AS MATERIALIZED (
      SELECT doc_id,
             ('0x' || substr(md5('pack:' || doc_id), 1, 8))::BIGINT % 8 AS grp,
             len({_TOKS_SQL}) AS toks
      FROM documents
    ), base AS MATERIALIZED (
      -- MATERIALIZED: the recursive step joins base once per iteration;
      -- without the hint DuckDB re-inlines (re-tokenizes) it every step
      SELECT grp, doc_id, toks,
             row_number() OVER (PARTITION BY grp ORDER BY toks DESC, doc_id) AS rn
      FROM src WHERE toks > 0
    ), step AS (
      SELECT grp, rn, doc_id, toks, 0 AS bin, [toks] AS fills
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.grp, b.rn, b.doc_id, b.toks,
        CASE WHEN list_position(list_transform(s.fills, f -> f + b.toks <= 512), true) = 0
             THEN len(s.fills)
             ELSE list_position(list_transform(s.fills, f -> f + b.toks <= 512), true) - 1 END,
        CASE WHEN list_position(list_transform(s.fills, f -> f + b.toks <= 512), true) = 0
             THEN list_append(s.fills, b.toks)
             ELSE list_transform(s.fills, (f, i) ->
                    CASE WHEN i = list_position(list_transform(s.fills, f2 -> f2 + b.toks <= 512), true)
                         THEN f + b.toks ELSE f END) END
      FROM step s JOIN base b ON b.grp = s.grp AND b.rn = s.rn + 1
    ), lastrn AS (
      SELECT grp, max(rn) AS mx FROM step GROUP BY grp
    ), ff AS (
      SELECT s.grp, s.fills FROM step s JOIN lastrn l ON l.grp = s.grp AND l.mx = s.rn
    )
    SELECT s.grp * 1099511627776 + s.bin AS bin_id, s.doc_id,
           CAST(s.toks AS BIGINT) AS n_tokens, CAST(f.fills[s.bin + 1] AS BIGINT) AS bin_fill
    FROM step s JOIN ff f USING (grp)
    ORDER BY s.doc_id
    """,
)
def docs_packed_bins(spark, sf_dir):
    """No-split first-fit-decreasing bin packing into 512-token bins
    (operators.packing.pack_greedy, Arrow-batched per layout group).
    Oracled since round 5: the greedy loop is sequential but fully
    DETERMINISTIC (md5 layout groups, toks-desc + id tie-break scan
    order), so DuckDB replays it exactly with a recursive CTE that
    carries each group's bin-fill LIST as recursion state — one step per
    document, first-fit index via list_position over the fills.
    Sequentiality was never nondeterminism; fixing the order made even
    the packing loop hash-verifiable.  Budget/lossless invariants remain
    unit-tested (tests/test_packing_sampling.py)."""
    from prod_data_pipeline_spark.functions.text import tokens
    from prod_data_pipeline_spark.operators.packing import pack_greedy

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text")))
    )
    return pack_greedy(docs, budget=512, n_groups=8).orderBy("doc_id")


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "docs_pii_scrub_stats",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CASE WHEN doc_id % 25 = 0
                  THEN text || ' contact agent007@example.com from 192.168.10.1'
                  ELSE text END AS text
      FROM documents
    ), c AS (
      SELECT source,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
             len(regexp_extract_all(text, '{_PII_IP}')) AS n_ip
      FROM d
    )
    SELECT source,
           CAST(SUM(CASE WHEN n_email + n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS total_emails,
           CAST(SUM(n_ip) AS BIGINT) AS total_ips
    FROM c GROUP BY source ORDER BY source
    """,
)
def docs_pii_scrub_stats(spark, sf_dir):
    """PII detection stats per source (functions.text.pii_count) over a
    corpus with deterministic planted PII (doc_id % 25 == 0 — the raw
    table carries none, so the regexes are exercised on non-empty output).
    The scrub itself (scrub_pii) is unit-tested for idempotent redaction."""
    from prod_data_pipeline_spark.functions.text import pii_count

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact agent007@example.com from 192.168.10.1"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counted = docs.select(
        "source",
        pii_count(F.col("text"), "email").alias("n_email"),
        pii_count(F.col("text"), "ip").alias("n_ip"),
    )
    return (
        counted.groupBy("source")
        .agg(
            F.sum(F.when(F.col("n_email") + F.col("n_ip") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_pii"),
            F.sum("n_email").cast("long").alias("total_emails"),
            F.sum("n_ip").cast("long").alias("total_ips"),
        )
        .orderBy("source")
    )


@query(
    "emb_ivf_recall",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(5 AS BIGINT) AS k,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_total,
           CAST(0.65 AS DOUBLE) AS recall_floor,
           TRUE AS avg_recall_ge_floor
    FROM embeddings WHERE vec_id < 8
    """,
)
def emb_ivf_recall(spark, sf_dir):
    """Recall@5 of IVF (nprobe=4 of 8 k-means cells) vs exact brute force
    — approximation quality as a first-class, per-run metric.  The k-means
    quantizer has no cross-engine mirror, so per-query recalls are not
    hash-checkable; instead the query emits the DETERMINISTIC summary the
    oracle CAN replay — query count, k, total exact-neighbor count (always
    n_queries*k by construction) — plus a within-declared-bound boolean:
    average recall must clear the 0.5 floor.  Measured avg recall on the
    near-random synthetic unit vectors (the hardest case for a coarse
    quantizer — top-5 cosine ~0.3): 0.90 at sf0.001, 0.83 at sf0.01,
    0.75 at sf0.1, per-query min 0.6; the floor (0.5 -> 0.65 in round 9,
    verdict directive #4) keeps 0.10 slack under the worst measured SF for
    pyspark.ml k-means drift while failing the hash check if the index
    ever degrades; the 0.8-at-nprobe=4 production bar lives in
    emb_ivf_nprobe_sweep, whose 2x-replicated index clears it at every
    SF.  Tighter per-query detail stays unit-tested
    (tests/test_similarity.py::test_ivf_recall_at_k_floor)."""
    from prod_data_pipeline_spark.operators.similarity import ivf_recall_at_k

    # One corpus read: the quantizer fit, probe assignment and exact
    # baseline all replay `emb` (7 scans) unless the lineage is cut here.
    emb = _t(spark, sf_dir, "embeddings").transform(truncate_lineage, eager=False)
    queries_df = emb.filter(F.col("vec_id") < 8)
    per_query = ivf_recall_at_k(emb, queries_df, k=5, nprobe=4, n_cells=8)
    return per_query.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(5).cast("long").alias("k"),
        F.sum("n_exact").cast("long").alias("n_exact_total"),
        F.lit(0.65).cast("double").alias("recall_floor"),
        (F.avg("recall") >= F.lit(0.65)).alias("avg_recall_ge_floor"),
    )


@query(
    "emb_ivf_nprobe_sweep",
    oracle="""
    SELECT t.nprobe,
           CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 8) AS BIGINT)
               AS n_queries,
           CAST(10 AS BIGINT) AS k,
           CAST(t.floor AS DOUBLE) AS recall_floor,
           TRUE AS avg_recall_ge_floor,
           TRUE AS recall_monotone
    FROM (VALUES (1, 0.3), (2, 0.5), (4, 0.8), (8, 1.0)) AS t(nprobe, floor)
    ORDER BY t.nprobe
    """,
)
def emb_ivf_nprobe_sweep(spark, sf_dir):
    """IVF recall/cost curve: recall@10 at nprobe ∈ {1,2,4,8} of 8 k-means
    cells with 2× cell replication, from ONE index build + ONE scored
    candidate pass (each candidate keeps its cell's probe rank, so every
    sweep point is a filter + per-(query,nprobe) top-k, not a re-search —
    operators.similarity.ivf_nprobe_sweep).  The k-means quantizer has no
    cross-engine mirror, so raw recalls are not hash-checkable; the query
    emits the facts the oracle CAN replay: per-nprobe floors measured
    with wide margin on the near-random synthetic unit vectors (the
    hardest case for a coarse quantizer) — avg recall 0.54-0.74 at
    nprobe=1, 0.76-0.89 at 2, ≥0.95 at 4 (floor 0.8, the round-8
    verdict's production bar), and EXACTLY 1.0 at nprobe=8 (probing every
    cell IS brute force, same tie-break) — plus monotonicity: the
    candidate sets nest by construction, so recall is non-decreasing in
    nprobe at any data scale.  Cell replication (each corpus vector
    indexed under its 2 nearest cells — broadcast codebook, in-pipeline
    posting fan-out, no extra corpus shuffle) is what buys the 0.95 @
    nprobe=4: unreplicated the same index measures 0.78 at sf0.1.
    100 TB: index build = k-means fit (sample-able) + one assignment
    scan; the sweep touches the corpus once for candidates and once for
    ground truth."""
    from prod_data_pipeline_spark.operators.similarity import ivf_nprobe_sweep

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    per = ivf_nprobe_sweep(
        emb, queries_df, k=10, nprobes=(1, 2, 4, 8), n_cells=8, replicas=2
    )
    floors = F.when(F.col("nprobe") == 1, 0.3).when(F.col("nprobe") == 2, 0.5).when(
        F.col("nprobe") == 4, 0.8
    ).otherwise(1.0)
    agg = per.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg("recall").alias("_avg"),
    )
    w = Window.orderBy("nprobe")
    return (
        agg.withColumn("_prev", F.lag("_avg").over(w))
        .select(
            "nprobe",
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(10).cast("long").alias("k"),
            floors.cast("double").alias("recall_floor"),
            (F.col("_avg") >= floors).alias("avg_recall_ge_floor"),
            F.coalesce(F.col("_avg") >= F.col("_prev"), F.lit(True)).alias(
                "recall_monotone"
            ),
        )
        .orderBy("nprobe")
    )


# Shared oracle CTE chain for the label-relevance retrieval-eval family:
# exact cosine ranking (emb_topk_bruteforce's recipe — rank on the raw IEEE
# double, neighbor-id tie-break) over a FIXED 64-query panel, with query and
# neighbor labels carried through.  The metric layers on top are pure
# integer arithmetic, so the whole family is hash-checkable end to end.
_LABEL_RANKED_SQL = """
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, label AS qlabel, e AS qe
      FROM v WHERE vec_id < 64
    ), scored AS (
      SELECT q.query_id, q.qlabel, v.vec_id AS neighbor_id, v.label AS nlabel,
             list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * v.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * q.qe[i])))
                * sqrt(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * v.e[i]))))
             AS sim
      FROM q, v WHERE q.query_id <> v.vec_id
    ), ranked AS (
      SELECT query_id, qlabel, neighbor_id, nlabel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
      QUALIFY rank <= {k}
    )"""

# per-query metric layer shared by the MRR and by-label queries (k=10;
# 2520 = lcm(1..10), so every reciprocal rank is an exact integer)
_LABEL_PER_QUERY_SQL = """, per AS (
      SELECT query_id, qlabel,
             MIN(CASE WHEN nlabel = qlabel THEN rank END) AS frr,
             COUNT(*) FILTER (WHERE nlabel = qlabel) AS hits
      FROM ranked GROUP BY 1, 2
    )"""


@query(
    "emb_label_retrieval_mrr",
    oracle=_LABEL_RANKED_SQL.format(k=10)
    + _LABEL_PER_QUERY_SQL
    + """, agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
             CAST(SUM(COALESCE(2520 // frr, 0)) AS BIGINT) AS sum_rr_num,
             CAST(SUM(hits) AS BIGINT) AS sum_hits,
             CAST(COUNT(frr) AS BIGINT) AS n_hit_queries
      FROM per
    )
    SELECT n_queries,
           CAST(10 AS BIGINT) AS k,
           sum_rr_num,
           CAST((2 * sum_rr_num * 1000000 + 2520 * n_queries)
                // (2 * 2520 * n_queries) AS BIGINT) / 1000000.0 AS mrr_at_k,
           sum_hits,
           CAST((2 * sum_hits * 1000000 + 10 * n_queries)
                // (2 * 10 * n_queries) AS BIGINT) / 1000000.0 AS precision_at_k,
           n_hit_queries,
           CAST((2 * n_hit_queries * 1000000 + n_queries)
                // (2 * n_queries) AS BIGINT) / 1000000.0 AS hit_rate_at_k
    FROM agg
    """,
)
def emb_label_retrieval_mrr(spark, sf_dir):
    """MRR@10 / precision@10 / hit-rate@10 of exact cosine retrieval under
    label relevance (operators.similarity.label_retrieval_metrics) — the
    rank-POSITION-aware embedding-quality scorecard the recall audits
    cannot express: recall says whether a relevant item was retrieved,
    MRR says where it landed.  Relevance = neighbor shares the query's
    label; panel = the fixed 64 lowest vec_ids (bounded broadcast at any
    corpus scale, so the eval stays ONE corpus scan + one panel-keyed
    window — brute_force_topk's exact plan).  Every reciprocal rank is
    the exact integer 2520/rank (2520 = lcm(1..10)), so MRR aggregates in
    pure int64 and the 6-digit reports are integer half-up on the
    numerator — the whole query is hash-checkable with zero float
    accumulation (the raw int64 numerators ship alongside as
    sum_rr_num/sum_hits/n_hit_queries)."""
    from prod_data_pipeline_spark.operators.similarity import (
        label_retrieval_metrics,
    )

    emb = _t(spark, sf_dir, "embeddings")
    per = label_retrieval_metrics(emb, emb.filter(F.col("vec_id") < 64), k=10)
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("rr_num").alias("sum_rr_num"),
        F.sum("hits").alias("sum_hits"),
        F.count("first_rel_rank").cast("long").alias("n_hit_queries"),
    )
    return agg.select(
        "n_queries",
        F.lit(10).cast("long").alias("k"),
        "sum_rr_num",
        (
            F.expr(
                "(2 * sum_rr_num * 1000000 + 2520 * n_queries)"
                " div (2 * 2520 * n_queries)"
            )
            / F.lit(1000000.0)
        ).alias("mrr_at_k"),
        "sum_hits",
        (
            F.expr(
                "(2 * sum_hits * 1000000 + 10 * n_queries)"
                " div (2 * 10 * n_queries)"
            )
            / F.lit(1000000.0)
        ).alias("precision_at_k"),
        "n_hit_queries",
        (
            F.expr("(2 * n_hit_queries * 1000000 + n_queries) div (2 * n_queries)")
            / F.lit(1000000.0)
        ).alias("hit_rate_at_k"),
    )


@query(
    "emb_label_retrieval_by_label",
    oracle=_LABEL_RANKED_SQL.format(k=10)
    + _LABEL_PER_QUERY_SQL
    + """, g AS (
      SELECT qlabel,
             CAST(COUNT(*) AS BIGINT) AS n_queries,
             CAST(SUM(COALESCE(2520 // frr, 0)) AS BIGINT) AS sum_rr_num,
             CAST(SUM(hits) AS BIGINT) AS sum_hits
      FROM per GROUP BY qlabel
    )
    SELECT qlabel,
           n_queries,
           sum_rr_num,
           CAST((2 * sum_rr_num * 1000000 + 2520 * n_queries)
                // (2 * 2520 * n_queries) AS BIGINT) / 1000000.0 AS mrr_at_k,
           sum_hits,
           CAST((2 * sum_hits * 1000000 + 10 * n_queries)
                // (2 * 10 * n_queries) AS BIGINT) / 1000000.0 AS precision_at_k
    FROM g ORDER BY qlabel
    """,
)
def emb_label_retrieval_by_label(spark, sf_dir):
    """Per-label MRR@10 / precision@10 breakdown of the label-relevance
    retrieval eval — WHICH classes the embedding space clusters poorly,
    the actionable drill-down behind emb_label_retrieval_mrr's corpus
    number (a healthy global MRR can hide one collapsed class; per-class
    is what decides which data to re-embed or up-sample).  Same fixed
    64-query panel, same exact-integer numerators (2520 = lcm(1..10)),
    per-group half-up reports — one extra tiny group-by over the
    panel-sized per-query relation, the corpus is still scanned once."""
    from prod_data_pipeline_spark.operators.similarity import (
        label_retrieval_metrics,
    )

    emb = _t(spark, sf_dir, "embeddings")
    per = label_retrieval_metrics(emb, emb.filter(F.col("vec_id") < 64), k=10)
    g = per.groupBy("qlabel").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("rr_num").alias("sum_rr_num"),
        F.sum("hits").alias("sum_hits"),
    )
    return g.select(
        "qlabel",
        "n_queries",
        "sum_rr_num",
        (
            F.expr(
                "(2 * sum_rr_num * 1000000 + 2520 * n_queries)"
                " div (2 * 2520 * n_queries)"
            )
            / F.lit(1000000.0)
        ).alias("mrr_at_k"),
        "sum_hits",
        (
            F.expr(
                "(2 * sum_hits * 1000000 + 10 * n_queries)"
                " div (2 * 10 * n_queries)"
            )
            / F.lit(1000000.0)
        ).alias("precision_at_k"),
    ).orderBy("qlabel")


@query(
    "emb_knn_label_accuracy",
    oracle=_LABEL_RANKED_SQL.format(k=5)
    + """, votes AS (
      SELECT query_id, qlabel, nlabel, COUNT(*) AS c
      FROM ranked WHERE nlabel IS NOT NULL
      GROUP BY 1, 2, 3
    ), pred AS (
      SELECT query_id, qlabel, nlabel AS plabel
      FROM (SELECT query_id, qlabel, nlabel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, nlabel) AS rn
            FROM votes)
      WHERE rn = 1
    )
    SELECT qlabel,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) FILTER (WHERE plabel = qlabel) AS BIGINT) AS n_correct,
           CAST((2 * COUNT(*) FILTER (WHERE plabel = qlabel) * 1000000 + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) / 1000000.0 AS accuracy
    FROM pred GROUP BY qlabel ORDER BY qlabel
    """,
)
def emb_knn_label_accuracy(spark, sf_dir):
    """Leave-one-out 5-NN majority-vote label accuracy per class
    (operators.similarity.knn_label_vote) — embedding quality measured as
    a CLASSIFIER, the downstream-task companion to the ranking metrics: a
    space can rank same-label items adjacently (good MRR) yet still lose
    votes to a dense wrong-label neighborhood, which is what a retrieval-
    augmented consumer actually experiences.  Prediction = modal label of
    the exact cosine top-5 (self excluded), ties (votes DESC, label ASC);
    NULL-label neighbors abstain before the vote so the tie-break never
    touches engine-dependent NULL ordering.  Same fixed 64-query panel and
    ONE corpus scan; accuracy reports are integer half-up per class."""
    from prod_data_pipeline_spark.operators.similarity import knn_label_vote

    emb = _t(spark, sf_dir, "embeddings")
    preds = knn_label_vote(emb, emb.filter(F.col("vec_id") < 64), k=5)
    g = preds.groupBy("qlabel").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0)).cast("long").alias(
            "n_correct"
        ),
    )
    return g.select(
        "qlabel",
        "n_queries",
        "n_correct",
        (
            F.expr("(2 * n_correct * 1000000 + n_queries) div (2 * n_queries)")
            / F.lit(1000000.0)
        ).alias("accuracy"),
    ).orderBy("qlabel")


@query(
    "emb_pq_adc_topk",
    oracle=f"""
    WITH {pq_adc_sql()}, ranked AS (
      SELECT query_id, neighbor_id, ROUND(dist, 6) AS adc_dist,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def emb_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC top-k — the memory-bound ANN technique:
    the corpus is stored as 8 sub-codes per vector, each query
    precomputes an (8 × K) distance table once, and scoring a corpus
    vector is 8 table lookups + an exact-DECIMAL sum instead of a
    64-float scan.  The codebook trainer is the DETERMINISTIC label-mean
    (pq_codebook: per-label means rounded 6 at source, one code per
    label per subspace), so — unlike classic k-means-trained PQ — the
    codes, distance tables, ADC totals, and ranks all replay
    bit-for-bit in DuckDB: sub-distances are in-order 8-term folds
    binary-quantized to exact multiples of 2^-40 (floor of a power-of-two
    scaling — exact IEEE, no BigDecimal), code selection tie-breaks on
    (distance, code index), and the ADC total is a plain double sum of
    quantized terms, exact in any order.  Full hash oracle on the complete top-5 result set.
    100 TB: codebook is control-plane-sized literals (zero-shuffle
    encode over one corpus scan), queries+tables broadcast, one
    per-query top-k window — the scan touches 8 SMALL ints per corpus
    vector, which is why PQ is how billion-vector indexes fit in RAM."""
    from prod_data_pipeline_spark.operators.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return pq_adc_topk(emb, queries_df, k=5)


def _z2_sql(a_expr: str, b_expr: str, bits: int = 10) -> str:
    """SQL text of a 2-D Morton interleave — a's bits at even positions,
    b's at odd — matching sources.writers.zorder_value's bit convention.
    Single source of truth for the lineitem_zorder_clustering oracle."""
    terms = []
    for b in range(bits):
        terms.append(f"((({a_expr} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({b_expr} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@query(
    "lineitem_zorder_clustering",
    oracle=f"""
    WITH g AS (
      SELECT (l_orderkey % 1024) AS a, (l_partkey % 1024) AS b
      FROM lineitem
    ), keyed AS (
      SELECT 'zorder' AS layout, ({_z2_sql("a", "b", 10)}) >> 14 AS bucket, a, b
      FROM g
      UNION ALL
      SELECT 'linear' AS layout, a >> 4 AS bucket, a, b FROM g
    ), per AS (
      SELECT layout, bucket, COUNT(*) AS n,
             MAX(a) - MIN(a) AS span_a, MAX(b) - MIN(b) AS span_b
      FROM keyed GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(span_a) AS DOUBLE) / COUNT(*), 6) AS avg_span_a,
           ROUND(CAST(SUM(span_b) AS DOUBLE) / COUNT(*), 6) AS avg_span_b
    FROM per GROUP BY 1 ORDER BY 1
    """,
)
def lineitem_zorder_clustering(spark, sf_dir):
    """Multi-dimensional clustering audit: Morton/Z-order layout
    (sources.writers.zorder_value — the key write_zordered lays files
    out by; Delta OPTIMIZE ZORDER / Iceberg sort-order recipe) vs a
    linear sort, measured as per-bucket key-span
    tightness.  Both layouts cut the (l_orderkey, l_partkey) 10-bit
    modulo grid into 64 buckets; per bucket the (max - min) span of EACH dimension
    is what min/max file skipping sees — a linear layout is tight on its
    leading column and full-range on the other, while Z-order bounds
    BOTH, which is why a z-ordered table prunes on predicates over any
    interleaved column.  All-integer interleave (shifts/masks/adds, one
    expression — codegen-friendly) and integer span sums; the oracle
    replays the interleave bit-for-bit.  100 TB: write_zordered pays one
    range shuffle at write time, then every stats-based scan
    (sources/manifest.py pruning, parquet footers) skips in all
    dimensions — the read-side win this query quantifies."""
    from prod_data_pipeline_spark.sources.writers import zorder_value

    li = _t(spark, sf_dir, "lineitem")
    # 10-bit modulo grid: keys at every SF wrap the full grid, so the
    # locality contrast between layouts is real (a min/max grid via
    # scaling would need data-dependent constants both engines must
    # replay; modulo is the deterministic stand-in for the quantile-rank
    # gridding a production z-order write performs)
    g = li.select(
        (F.col("l_orderkey") % 1024).alias("a"),
        (F.col("l_partkey") % 1024).alias("b"),
    )
    zb = g.select(
        F.lit("zorder").alias("layout"),
        F.shiftright(zorder_value([F.col("a"), F.col("b")], 10), 14).alias("bucket"),
        "a",
        "b",
    )
    lb = g.select(
        F.lit("linear").alias("layout"),
        F.shiftright(F.col("a"), 4).alias("bucket"),
        "a",
        "b",
    )
    per = (
        zb.unionByName(lb)
        .groupBy("layout", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("a") - F.min("a")).alias("span_a"),
            (F.max("b") - F.min("b")).alias("span_b"),
        )
    )
    return (
        per.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").cast("long").alias("n_rows"),
            F.round(F.sum("span_a") / F.count(F.lit(1)).cast("double"), 6).alias(
                "avg_span_a"
            ),
            F.round(F.sum("span_b") / F.count(F.lit(1)).cast("double"), 6).alias(
                "avg_span_b"
            ),
        )
        .orderBy("layout")
    )


@query(
    "user_retention_cohorts",
    oracle="""
    WITH firstday AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT f.cohort_day,
           datediff('day', f.cohort_day, a.day) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act a JOIN firstday f ON f.user_id = a.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def user_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: users bucketed by first-seen day, counted
    per (cohort, day-offset).  Two narrow aggregates + one join on user_id
    — the classic product-analytics query, shuffle-bounded by |users|."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # act feeds TWO consumers (the first-seen agg + the join) — lazy cut
    # so the events scan + distinct run once (multi-consumer audit)
    act = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .transform(truncate_lineage, eager=False)
    )
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(first, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "user_event_type_paths",
    oracle="""
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS path,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def user_event_type_paths(spark, sf_dir):
    """Ordered aggregation: each user's full event-type journey as a
    '>'-joined string.  collect_list gives no ordering guarantee under
    parallel merge, so rows carry a (ts, event_id) sort key into
    array_sort before joining — deterministic at any parallelism."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    keyed = F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(F.collect_list(keyed)), lambda s: s["event_type"]
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "events_asof_last_view",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), v AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts
      FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
    )
    SELECT p.event_id, p.user_id, p.purchase_ts,
           v.view_ts AS last_view_ts,
           epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS gap_us
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
    ORDER BY p.event_id
    """,
)
def events_asof_last_view(spark, sf_dir):
    """As-of join (operators.joins.asof_join): each purchase matched to the
    same user's latest view at-or-before it — union+window, never a range
    join (DuckDB oracle uses its native ASOF JOIN for the same semantics)."""
    from prod_data_pipeline_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull()).select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    v = ev.filter((F.col("event_type") == "view") & F.col("user_id").isNotNull()).select(
        "user_id", F.col("ts").alias("view_ts")
    )
    out = asof_join(p, v, by="user_id", left_ts="purchase_ts", right_ts="view_ts",
                    matched_prefix="last_")
    return out.select(
        "event_id",
        "user_id",
        "purchase_ts",
        F.col("last_view_ts"),
        (F.unix_micros("purchase_ts") - F.unix_micros("last_view_ts")).alias("gap_us"),
    ).orderBy("event_id")


@query(
    "events_clicks_before_purchase",
    oracle="""
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(COUNT(c.user_id) AS BIGINT) AS n_clicks_10m
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
    LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL) c
      ON c.user_id = p.user_id
     AND c.ts >= CAST(p.ts AS TIMESTAMP) - INTERVAL 600 SECOND
     AND c.ts <= CAST(p.ts AS TIMESTAMP)
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def events_clicks_before_purchase(spark, sf_dir):
    """Time-range (interval) join: clicks within the 10 minutes before each
    purchase, per user — binned equi-join (operators.joins.time_range_join),
    never a nested-loop range join."""
    from prod_data_pipeline_spark.operators.joins import time_range_join

    ev = _t(spark, sf_dir, "events")
    # The slim purchases relation feeds both the range join and the
    # left-join spine; cut its lineage so events is scanned once for it.
    p = ev.filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull()).select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    ).transform(truncate_lineage, eager=False)
    c = ev.filter((F.col("event_type") == "click") & F.col("user_id").isNotNull()).select(
        "user_id", "ts"
    )
    pairs = time_range_join(
        p, c, by="user_id", left_ts="purchase_ts", right_ts="ts", lower_s=-600.0, upper_s=0.0
    )
    keys = ["event_id", "user_id", "purchase_ts"]
    counts = pairs.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return (
        p.select(*keys)
        .distinct()
        .join(counts, keys, "left")
        .select(*keys, F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_clicks_10m"))
        .orderBy(*keys)
    )


@query(
    "docs_bpe_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len({_TOKS_SQL}) AS ws_n,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_n
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_n) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe_n) AS BIGINT) AS bpe_tokens,
           CAST(SUM(bpe_n) AS DOUBLE) / COUNT(*) AS avg_bpe_per_doc
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def docs_bpe_token_stats(spark, sf_dir):
    """Token counting both ways (whitespace + BPE-ish regex pre-tokens) —
    the token-budget accounting pass of a training-data pipeline."""
    from prod_data_pipeline_spark.functions.text import bpe_tokens, tokens as toks_fn

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(toks_fn(F.col("text"))).alias("ws_n"),
        F.size(bpe_tokens(F.col("text"))).alias("bpe_n"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_n").cast("long").alias("ws_tokens"),
            F.sum("bpe_n").cast("long").alias("bpe_tokens"),
            (F.sum("bpe_n").cast("double") / F.count(F.lit(1))).alias("avg_bpe_per_doc"),
        )
        .orderBy("lang")
    )


@query(
    "emb_cosine_near_dup_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({_COS_SQL.format(a="a.e", b="b.e")}, 4) AS sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_COS_SQL.format(a="a.e", b="b.e")}, 4) >= 0.3
    ORDER BY id_a, id_b
    """,
)
def emb_cosine_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, blocked on label: the exact
    (oracle-checked) counterpart of the SRP-LSH scale path."""
    from prod_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.3, block_cols=("label",))


@query(
    "emb_srp_near_dup_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), {srp_candidates_sql()}
    SELECT c.id_a, c.id_b, ROUND({_COS_SQL.format(a="a.e", b="b.e")}, 4) AS sim
    FROM cand c JOIN v a ON a.vec_id = c.id_a JOIN v b ON b.vec_id = c.id_b
    WHERE ROUND({_COS_SQL.format(a="a.e", b="b.e")}, 4) >= 0.3
    ORDER BY id_a, id_b
    """,
)
def emb_srp_near_dup_pairs(spark, sf_dir):
    """Sign-LSH (random-hyperplane) bucketed near-dup candidates + exact
    cosine verify — the 100 TB path (no blocking attribute needed).

    Uses md5-derived hyperplanes: each plane component is derived from
    an md5 digest (13 hex digits / 2^52, exact in double) and every dot
    product is an in-order fold, so DuckDB regenerates the planes, the
    signatures, the candidate set, and the verified similarities
    bit-for-bit — the determinism recipe that oracled pagerank_quantized,
    applied to LSH.  Planted-dup recall is unit-tested
    (tests/test_similarity.py)."""
    from prod_data_pipeline_spark.operators.similarity import srp_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # materialize=False: one-shot query — the lazy pre-sort lineage cut
    # (blocks owned by the returned plan, freed by ContextCleaner) beats
    # the eager checkpoint+unpersist by ~0.6 s at the inflated bench
    return srp_near_dup_pairs(emb, dim=64, threshold=0.3, materialize=False)


@query(
    "media_decode_profile",
    oracle="""
    WITH f AS (
      SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN 54 + ((3*(4 + doc_id % 13) + 3) // 4 * 4) * (4 + doc_id % 7)
          WHEN 1 THEN 44 + 2*(80 + 8*(doc_id % 120))
          ELSE length('YUV4MPEG2 W' || CAST(4 + 2*(doc_id % 7) AS VARCHAR)
                      || ' H' || CAST(4 + 2*(doc_id % 5) AS VARCHAR)
                      || ' F25:1 C420') + 1
               + (1 + doc_id % 4)
                 * (6 + (4 + 2*(doc_id % 7)) * (4 + 2*(doc_id % 5))
                      + 2*(((4 + 2*(doc_id % 7)) // 2) * ((4 + 2*(doc_id % 5)) // 2)))
        END AS n_bytes,
        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 4 + doc_id % 13
             WHEN 1 THEN 0 ELSE 4 + 2*(doc_id % 7) END AS w,
        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 4 + doc_id % 7
             WHEN 1 THEN 0 ELSE 4 + 2*(doc_id % 5) END AS h,
        CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 + doc_id % 4 ELSE 1 END AS nf,
        CASE CAST(doc_id % 3 AS INT)
          WHEN 1 THEN (80 + 8*(doc_id % 120)) // 8
          WHEN 2 THEN (1 + doc_id % 4) * 40 ELSE 0 END AS dur
      FROM documents
    )
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(w) AS BIGINT) AS total_width,
           CAST(SUM(h) AS BIGINT) AS total_height,
           CAST(SUM(nf) AS BIGINT) AS total_frames,
           CAST(SUM(dur) AS BIGINT) AS total_duration_ms,
           CAST(SUM(16) AS BIGINT) AS total_feature_vals
    FROM f GROUP BY 1 ORDER BY media_type
    """,
)
def media_decode_profile(spark, sf_dir):
    """Multimodal REAL-codec path end-to-end: synthetic_media_assets
    fabricates genuine BMP / PCM16-WAV / YUV4MPEG2 payloads, real_decode
    (operators.multimodal, functions.codecs) PARSES them — dimensions,
    frame counts, durations, declared byte sizes all come from the bytes
    — and the oracle recomputes every header fact from doc_id arithmetic
    independently, so a parser bug (wrong offset, wrong padding, wrong
    plane math) breaks the hash even though no media library exists on
    either side."""
    from prod_data_pipeline_spark.operators.multimodal import (
        real_decode,
        synthetic_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    dec = real_decode(synthetic_media_assets(docs))
    return (
        dec.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("width").cast("long").alias("total_width"),
            F.sum("height").cast("long").alias("total_height"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.sum("duration_ms").alias("total_duration_ms"),
            F.sum(F.size("features")).cast("long").alias("total_feature_vals"),
        )
        .orderBy("media_type")
    )


@query(
    "media_feature_topk",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n, CAST(doc_id % 3 AS INT) AS kind
      FROM documents
    ), geom AS (
      SELECT doc_id, text, n,
        CASE kind
          WHEN 0 THEN ((3*(4 + doc_id % 13) + 3) // 4 * 4) * (4 + doc_id % 7)
          WHEN 1 THEN 80 + 8*(doc_id % 120)
          ELSE (4 + 2*(doc_id % 7)) * (4 + 2*(doc_id % 5))
        END AS L
      FROM d
    ), w AS (
      SELECT doc_id, L, unicode(substr(text, p + 1, 1)) // 16 AS nib,
             (L - p + n - 1) // n AS wt
      FROM (SELECT doc_id, text, n, L, unnest(range(0, n)) AS p FROM geom)
    ), cnt AS (
      SELECT doc_id, nib, SUM(wt) AS c FROM w GROUP BY doc_id, nib
    ), grid AS (
      SELECT gr.doc_id, gr.L, gr.i AS nib, COALESCE(c.c, 0) AS c
      FROM (SELECT g.doc_id, g.L, r.i FROM geom g CROSS JOIN range(0,16) r(i)) gr
      LEFT JOIN cnt c ON c.doc_id = gr.doc_id AND c.nib = gr.i
    ), feat32 AS (
      SELECT doc_id, list(CAST(CAST(c AS DOUBLE)/L AS REAL) ORDER BY nib) AS e32
      FROM grid GROUP BY doc_id, L
    ), v AS (
      SELECT doc_id AS vec_id, list_transform(e32, x -> CAST(x AS DOUBLE)) AS e
      FROM feat32
    ), q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 4),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * v.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.qe)+1), i -> q.qe[i] * q.qe[i])))
                * sqrt(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * v.e[i]))))
             AS sim
      FROM q, v WHERE q.query_id <> v.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 3
    ORDER BY query_id, rank
    """,
)
def media_feature_topk(spark, sf_dir):
    """Cross-modal composition: REAL-decoded media features (intensity
    histograms over parsed BMP/WAV/Y4M sample planes) flow straight into
    the generic ANN operator (decode -> fixed-width arrays -> cosine
    top-3).  Oracled since round 5: every synthetic payload's sample
    plane is the document's text bytes cyclically tiled to the
    container's geometry (BMP pixel+pad area, WAV PCM fold-back, Y4M
    first-frame luma), so the 16-bin nibble histogram equals a
    weighted character count — position p of an n-byte text occurs
    ceil((L-p)/n) times in the first L tiled bytes — which DuckDB
    computes exactly, reproduces the float32 feature quantization
    (CAST(count/L AS REAL), bit-identical to numpy->Arrow), and replays
    the cosine top-3.  Validated feature-for-feature against the Python
    codec on all 500 sf0.01 docs before wiring; the decoder itself stays
    independently checked by media_decode_profile + codec unit tests.
    ASSUMES pure-ASCII document text (chars == UTF-8 bytes; true of the
    generated testdata, probed at round 5) — if a testdata regen ever
    introduces non-ASCII, the oracle's unicode()-per-char byte model is
    the first place to look for a hash mismatch."""
    from prod_data_pipeline_spark.operators.multimodal import (
        real_decode,
        synthetic_media_assets,
    )
    from prod_data_pipeline_spark.operators.similarity import brute_force_topk

    docs = _t(spark, sf_dir, "documents")
    feats = (
        real_decode(synthetic_media_assets(docs))
        .filter(F.col("n_bytes") > 0)
        .select(F.col("asset_id").alias("vec_id"), F.col("features").alias("embedding"))
    )
    out = brute_force_topk(feats, feats.filter(F.col("vec_id") < 4), k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


# events_approx_distinct_users merged into plans/queries_merged_panels.py::
# events_hll_users_panel (round-15 consolidation switch) — the panel's
# per-event_type rollup rows carry the same exact counts + within-bound
# booleans; the tighter exact-vs-approx bound stays unit-tested
# (tests/test_dedup_text.py::test_approx_distinct_error_bound).

