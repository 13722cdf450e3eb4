"""Physical-plan regression tests: the 100 TB design properties.

A query that silently loses predicate pushdown, column pruning, or a
broadcast join still passes value checks at sf0.01 — and then falls over at
cluster scale.  These tests pin the plan shapes (SURVEY §4: "optimizer
effort goes into not defeating Catalyst")."""

from __future__ import annotations

import re

import pytest

from prod_data_pipeline_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _executed_plan(spark, name: str) -> str:
    return QUERIES[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def _full_plan(spark, name: str) -> str:
    return QUERIES[name].fn(spark, SF)._jdf.queryExecution().toString()


def test_q1_pushdown_and_pruning(spark):
    plan = _full_plan(spark, "q1_pricing_summary")
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: unused lineitem columns never leave the scan
    assert "l_comment" not in plan
    scan_cols = plan.split("FileScan parquet")[1].split("]")[0]
    assert "l_orderkey" not in scan_cols and "l_partkey" not in scan_cols


def test_dim_joins_broadcast_not_shuffle(spark):
    for name in ("brand_volume", "top_orders_by_revenue", "regional_nation_revenue"):
        plan = _executed_plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dim join lost its broadcast"
        assert "CartesianProduct" not in plan, f"{name}: accidental cross join"


def test_no_plan_has_cartesian_product(spark):
    """No registered query may fall back to a cartesian product — the one
    join strategy that cannot survive scale.  (Similarity queries use an
    explicit broadcast-nest loop over a tiny query set, which is fine.)"""
    for name in QUERIES:
        plan = _executed_plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"


def test_scan_agg_queries_single_pass(spark):
    """The fused DQ profile is ONE scan of events (the reference needed 7)."""
    plan = _executed_plan(spark, "events_dq_profile")
    assert plan.count("FileScan parquet") == 1


def test_whole_stage_codegen_on_hot_paths(spark):
    # AQE only finalizes the physical plan on execution; run the query first
    # so executedPlan shows the real (isFinalPlan=true) plan with codegen spans.
    for name in ("q1_pricing_summary", "events_per_day", "user_sessions"):
        df = QUERIES[name].fn(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # in executedPlan().toString() codegen stages show as the "*(n) " operator
        # prefix (explain("formatted") would spell out WholeStageCodegen)
        assert "WholeStageCodegen" in plan or "*(" in plan, f"{name}: fell out of codegen"


def test_curated_partition_pruning(spark, tmp_path):
    """A date-filtered query over the curated table scans only that
    partition (the reference hand-built partition paths; Catalyst must do
    it from the filter alone)."""
    from tests.eventgen import generate_raw_events
    from prod_data_pipeline_spark.plans.pipeline import backfill
    from prod_data_pipeline_spark.sources.writers import register_curated_table

    raw, curated, metrics = str(tmp_path / "r"), str(tmp_path / "c"), str(tmp_path / "m")
    generate_raw_events(raw, ["2025-01-01", "2025-01-02"], rows_per_day=50, dup_rate=0.0)
    backfill(spark, raw, "2025-01-01", "2025-01-02", curated, metrics)
    register_curated_table(spark, curated, "ce_prune_test")
    try:
        df = spark.sql("SELECT event_id FROM ce_prune_test WHERE ingestion_date = '2025-01-02'")
        plan = df._jdf.queryExecution().toString()
        assert "ingestion_date=2025-01-02" in plan.replace("%3D", "=") or (
            "PartitionFilters" in plan and "2025-01-02" in plan
        )
        # and the pruned scan really reads one partition's rows only
        assert df.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS ce_prune_test")


def test_funnel_windows_share_one_exchange(spark):
    """events_funnel_daily stacks three conditional-min windows over the
    same (user_id, day) partition — Catalyst must evaluate them off ONE
    hash exchange, or the funnel triples its shuffle cost at scale."""
    plan = _executed_plan(spark, "events_funnel_daily")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_scd2_windows_share_one_exchange(spark):
    """scd2_history's lag-filter and lead-interval windows share the same
    spec: one exchange on the entity key (the final orderBy is a range
    exchange for oracle determinism, not a hash shuffle)."""
    plan = _executed_plan(spark, "events_user_type_scd2")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ranking_queries_have_no_unbounded_global_sort(spark):
    """The ranking-based queries must never sort the fact table in one
    task.  A global window (NTILE / percentile over Window.orderBy with no
    partition) plans as Sort over Exchange SinglePartition fed by raw scan
    output; the only tolerated Sort-over-SinglePartition is one whose
    exchange input is an Aggregate (bounded rows: the bucket-count or
    sketch relations)."""
    for name in (
        "orders_price_deciles",
        "events_value_distribution",
        "events_value_p99_outliers",
    ):
        plan = _executed_plan(spark, name)
        # \bntile( — but not approx_percentile(
        assert not re.search(r"(?<![A-Za-z_])ntile\(", plan), (
            f"{name}: global NTILE window came back"
        )
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln and i and "Sort [" in lines[i - 1]:
                child = lines[i + 1] if i + 1 < len(lines) else ""
                assert "Aggregate" in child, (
                    f"{name}: single-partition sort over unaggregated input:\n"
                    f"{lines[i - 1]}\n{ln}\n{child}"
                )


def test_cdc_queries_single_fact_exchange(spark):
    """latest_snapshot and merge_upsert are one-window plans: exactly one
    hash exchange of the fact side (merge_upsert's trailing scalar agg
    adds a SinglePartition merge of per-task partials, which is bounded)."""
    for name in ("events_latest_per_user", "orders_merge_upsert"):
        plan = _executed_plan(spark, name)
        n = plan.count("Exchange hashpartitioning")
        assert n == 1, f"{name}: expected 1 hash exchange, got {n}"


def test_broadcast_small_relations(spark):
    """Small-side relations must broadcast: the contamination benchmark
    gram set, the per-type P99 threshold, the tf-idf per-lang doc counts —
    a shuffle join on any of these turns a map-side probe into a full
    exchange of the 100 TB side."""
    for name in (
        "docs_contamination",
        "events_value_p99_outliers",
        "docs_tfidf_top_terms",
        "parts_supplier_counts",
    ):
        plan = _executed_plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: lost its broadcast join"
        assert "SortMergeJoin" not in plan, f"{name}: small side shuffled"


def test_round4_tpch_shapes_broadcast_dims(spark):
    """The round-4 TPC-H shapes keep every dimension on the broadcast
    side: a SortMergeJoin in any of these means a dim lookup started
    shuffling the fact table."""
    for name in (
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
    ):
        plan = _executed_plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: lost its broadcast joins"
        assert "SortMergeJoin" not in plan, f"{name}: a dim join shuffled the fact side"


def test_q6_single_exchange(spark):
    """Q6 is scan + filter + global agg: exactly one exchange (the
    SinglePartition merge of per-task partials), and the filters reach
    the parquet scan."""
    plan = _executed_plan(spark, "q6_forecast_revenue")
    assert plan.count("Exchange") == 1, "q6: extra exchange appeared"
    assert "PushedFilters: []" not in plan, "q6: filters not pushed to scan"


def test_debounce_fact_shuffles_once(spark):
    """Debounce shuffles the fact table exactly once — the window exchange
    on (user_id, event_type).  The second hash exchange re-keys the
    per-task AGGREGATED partials on event_type (bounded: n_types x tasks
    rows), which is fine; a third fact-sized exchange is not."""
    plan = _executed_plan(spark, "events_debounce_stats")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange hashpartitioning(user_id" in plan, "window exchange lost its keys"
    # the partial-agg HashAggregate must sit BELOW the event_type exchange
    # (map-side combine before the re-key)
    assert "partial_count" in plan


def test_prefix_join_never_cartesian(spark):
    """The exact similarity join must get ALL its pairs from the
    prefix-token equi-join — a CartesianProduct/BroadcastNestedLoop in
    this plan means the filter degenerated to all-pairs.  Inspect the
    LAZY plan (materialize=False): the default path checkpoints the
    result, which would hide the join tree behind an RDD scan."""
    from prod_data_pipeline_spark.operators.dedup import jaccard_prefix_pairs
    from prod_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    df = jaccard_prefix_pairs(docs, threshold_pct=92, materialize=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mi_and_unigram_fact_scans_bounded(spark):
    """events_type_value_mi: the fact table feeds ONE scan family and all
    cross-relation joins happen on broadcast cell/margin relations.
    docs_unigram_logprob: no nested-loop join anywhere — the LM relation
    re-keys the token stream via hash equi-joins only."""
    for name in ("events_type_value_mi", "docs_unigram_logprob"):
        plan = _executed_plan(spark, name)
        assert "CartesianProduct" not in plan, name
    mi_plan = _executed_plan(spark, "events_type_value_mi")
    # margins and totals broadcast; only the base cell agg shuffles
    assert "BroadcastHashJoin" in mi_plan or "BroadcastNestedLoopJoin" in mi_plan


def test_substring_spans_never_cartesian_and_windows_scan_once(spark):
    """Span dedup: window hashes must come from ONE higher-order transform
    per doc (no per-window duplication of the token array), the repeat
    probe is an equi-(semi-)join, and nothing degenerates to all-pairs.
    Inspect the LAZY operator plan (materialize=False) — the registered
    query checkpoints the duplicated-window relation."""
    from prod_data_pipeline_spark.operators.dedup import substring_dup_spans
    from prod_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    df = substring_dup_spans(docs, window=12, materialize=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the corpus-wide repeat detection is a hash agg with map-side partials
    assert "partial_count" in plan


def test_bpe_merge_candidates_pair_work_is_vocab_sized(spark):
    """BPE pair counts: the corpus-sized stage is the word-frequency agg
    (map-side combine before its exchange); pair explosion happens on the
    post-agg distinct-word relation, and the top-20 is a TakeOrdered, not
    a global sort."""
    plan = _executed_plan(spark, "docs_bpe_merge_candidates")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_round5_tpch_shapes_broadcast_dims(spark):
    """The round-5 TPC-H completions keep supplier/nation/region/part on
    the broadcast side; the only SortMergeJoins allowed are fact-fact or
    fact-aggregate joins on their own keys (Q2's ps-min join, Q5's
    orders-lineitem join)."""
    for name in ("q2_min_cost_supplier", "q5_local_supplier_volume"):
        plan = _executed_plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: lost its broadcast joins"
        # the only SortMergeJoins allowed are fact-fact / fact-aggregate
        # joins on their own keys (Q2's ps-min join, Q5's orders-lineitem
        # join); q20's supplier-semi join below is the same class
    # q20: the shipped-keys semi join may shuffle (both sides scale), but
    # part/nation/region stay broadcast
    plan = _executed_plan(spark, "q20_promotable_suppliers")
    assert "BroadcastHashJoin" in plan, "q20: lost its broadcast joins"
    assert "LeftSemi" in plan, "q20: semi join degraded to inner+distinct"
    # q11: the per-part relation is localCheckpoint'd, so the outer plan
    # reads an RDD scan exactly once — the fact table must NOT be re-read
    plan = _executed_plan(spark, "q11_important_part_value")
    assert "FileScan parquet [l_" not in plan, "q11: fact table re-scanned past the checkpoint"
    assert "SortMergeJoin" not in plan


def test_semdedup_blocked_never_all_pairs(spark):
    """emb_semdedup_stats: the pair generation is label-blocked (equi-join
    on label), never an unkeyed self-product, and the anti join stays
    key-partitioned."""
    plan = _executed_plan(spark, "emb_semdedup_stats")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan, "semdedup lost its anti-join pruning shape"


def test_incremental_dedup_snapshot_text_never_moves(spark):
    """docs_incremental_dedup: the snapshot contributes only its
    fingerprint relation — the `text` column must be pruned out of every
    scan (the fingerprint is computed scan-side, 32 bytes/row shuffles,
    never document bodies)."""
    plan = _full_plan(spark, "docs_incremental_dedup")
    scans = plan.split("FileScan parquet")[1:]
    # text feeds the md5 fingerprint projection, so it must appear in the
    # scan schema, but the join keys are fp/doc_id/source only: assert the
    # shuffles carry fp, not text
    exec_plan = _executed_plan(spark, "docs_incremental_dedup")
    for exch in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", exec_plan):
        assert "text" not in exch, f"document text entered a shuffle: {exch}"


def test_new_round6_operator_plan_shapes(spark):
    """Plan pins for the late-round-6 operators: the sorted-neighborhood
    and sketch-quantile ranks must keep the bucketed (no raw-input
    single-partition sort) shape; the shard-rebalance vnode join must
    broadcast; the Mahalanobis top-50 must be TakeOrdered, never a full
    sort exchange."""
    for name in ("docs_sorted_neighborhood_pairs", "events_value_sketch_quantiles"):
        plan = _executed_plan(spark, name)
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln and i and "Sort [" in lines[i - 1]:
                child = lines[i + 1] if i + 1 < len(lines) else ""
                assert "Aggregate" in child, (
                    f"{name}: single-partition sort over unaggregated input"
                )

    plan = _executed_plan(spark, "docs_shard_rebalance_audit")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "shard audit lost the vnode broadcast"
    )

    plan = _executed_plan(spark, "lineitem_mahalanobis_outliers")
    assert "TakeOrderedAndProject" in plan, (
        "mahalanobis top-50 regressed to a full sort"
    )


def test_new_round7_operator_plan_shapes(spark):
    """Plan pins for the round-7 operators: the boilerplate rollup stays
    one source-keyed exchange + the output sort (no per-doc re-join);
    hard-negative mining keeps its broadcast (never a shuffled or
    cartesian corpus join); the temporal join composes without any join
    operator at all (union + window, the as-of shape); padding-waste
    reads the checkpointed rank relation instead of replaying both
    bucketed-rank plans per consumer."""
    plan = _executed_plan(spark, "docs_boilerplate_stats")
    assert plan.count("Exchange") <= 2, "boilerplate rollup grew extra shuffles"
    assert "Join" not in plan, "boilerplate rollup re-joined the page table"

    plan = _executed_plan(spark, "emb_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan, "hard negatives lost the broadcast"
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan

    plan = _executed_plan(spark, "events_scd2_temporal_join")
    assert "CartesianProduct" not in plan
    # as-of is union + last-ignorenulls window — a range/equi join here
    # would mean the composition regressed to the per-key pair explosion
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan

    plan = _executed_plan(spark, "docs_padding_waste")
    assert plan.count("Exchange") <= 8, (
        "padding-waste replays the rank plans per consumer again "
        f"({plan.count('Exchange')} exchanges)"
    )


def test_consolidation_panel_plan_shapes(spark):
    """Pins the r15 panels' physical shapes so a refactor cannot silently
    multiply corpus scans:

    - events_hll_users_panel: exactly TWO parquet scans (daily sketching
      + the direct rollup — the merge's whole point; the pair ran three)
      joined with a broadcast, never a sort-merge.
    - events_value_distribution: the histogram scan only; the per-type
      counts come with exact_quantiles' n_total, and the operator cuts its
      own input, so its single read runs before the final plan.  This pin
      is an UPPER bound that must only ever move down.
    """
    plan = _executed_plan(spark, "events_hll_users_panel")
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    plan = _executed_plan(spark, "events_value_distribution")
    assert plan.count("Scan parquet") <= 1, plan.count("Scan parquet")
    assert "SortMergeJoin" not in plan


def test_r17_lineage_cuts_scan_counts(spark):
    """Pins the scan-volume fixes of commit b0f506a: each builder-local
    lineage cut collapses the query's FINAL plan to at most the quoted
    parquet-scan count (the cut relation's single materializing scan runs
    inside the same invocation, before the final action).  These are UPPER
    bounds that must only ever move down; the before counts, measured at
    b0f506a's parent, were 7/3/4/10/9/6/5/3/5/5/5 respectively.  The
    deciles, dsir and sketch-quantile cuts now live inside the rank
    operator (operators/ranking.py cuts its own input), not at the call
    site; the bounds are unchanged."""
    bounds = {
        "emb_ivf_recall": 0,
        "events_clicks_before_purchase": 1,  # the clicks side scans once
        "orders_price_deciles": 0,
        "docs_heaps_law_fit": 0,
        "events_type_value_mi": 0,
        "events_value_sketch_quantiles": 0,
        "docs_bigram_logprob": 0,
        "docs_unigram_logprob": 0,
        # dsir: the source-rollup join side scans once; planning is
        # session-state sensitive (1 standalone, 2 after a full-suite
        # prefix) — the pin exists to catch a regression to the 5-scan
        # pre-cut shape, so the bound is the observed ceiling
        "docs_dsir_selection": 2,
        "docs_collocations_pmi": 0,
        "docs_bpe_encode_stats": 0,
    }
    for name, bound in bounds.items():
        plan = _executed_plan(spark, name)
        n = plan.count("Scan parquet")
        assert n <= bound, f"{name}: {n} parquet scans in final plan (> {bound})"
