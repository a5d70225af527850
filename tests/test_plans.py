"""Physical-plan regression tests: the 100 TB posture, pinned.

These assert the plan *shape* — broadcasts for dims, pushdown into
the parquet scans, column pruning, top-k without a global sort, no
nested-loop joins — so a future edit that silently degrades a plan
fails here rather than at the bench.
"""

from __future__ import annotations

import pytest

from etl_orders_spark.plans.registry import query_map


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    q = query_map()
    # default metadata truncation hides the tail of PushedFilters lists
    key = "spark.sql.maxMetadataStringLength"
    length = spark.conf.get(key)
    spark.conf.set(key, "1000")

    def plan_of(name: str) -> str:
        return q[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    yield plan_of
    spark.conf.set(key, length)


def test_flagship_broadcasts_dims_prunes_columns(plans):
    p = plans("flagship_enriched_lineitems")
    assert p.count("BroadcastHashJoin") == 3  # orders equi-join may stay SMJ/AQE; dims must broadcast
    assert "BroadcastNestedLoopJoin" not in p
    # column pruning: unused lineitem measures never leave the scan
    assert "l_quantity" not in p and "l_tax" not in p


def test_q1_pushes_shipdate_filter(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # agg-only query: no join operators at all
    assert "Join" not in p


def test_filter_predicate_pushes_all_three(plans):
    p = plans("filter_predicate")
    assert "EqualTo(o_orderstatus" in p
    assert "GreaterThan(o_totalprice" in p
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_q5_all_dims_broadcast_fact_unshuffled(plans):
    p = plans("q5_region_revenue")
    assert p.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in p  # the fact table streams through map-side


def test_global_topk_avoids_full_sort(plans):
    p = plans("orderby_limit")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort node


def test_topk_per_brand_aggregates_before_window(plans):
    p = plans("topk_parts_per_brand")
    # the window must consume the aggregated (brand, part) rows — i.e. appear
    # above a HashAggregate, never directly over the fact scan
    assert "Window" in p and "HashAggregate" in p
    assert p.index("Window") < p.index("HashAggregate")  # toString prints top-down


def test_near_dup_and_lsh_plans_are_keyed_joins(plans):
    for name in ("near_dup_embeddings", "lsh_ann_topk"):
        p = plans(name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_ri_filter_join_broadcasts_filtered_dim(plans):
    p = plans("ri_filter_join")
    assert "BroadcastHashJoin" in p
    assert "GreaterThan(p_size,25)" in p  # dim filter pushed into its scan


def test_partitioned_layout_prunes_at_scan(spark, sf_dir, tmp_path):
    """The write-side half of the 100 TB story: facts laid out by month
    partition, a month predicate becomes a PartitionFilter (directories
    skipped entirely), not a row filter."""
    from pyspark.sql import functions as F

    from etl_orders_spark.sources.readers import load_table
    from etl_orders_spark.sources.writers import write_parquet

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    out = str(tmp_path / "li_by_month")
    write_parquet(li, out, partition_by=["ship_month"])
    back = spark.read.parquet(out).filter(F.col("ship_month") == "1995-06")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ship_month" in plan
    assert "(ship_month" in plan.split("PartitionFilters")[1][:120]
    want = li.filter(F.col("ship_month") == "1995-06").count()
    assert back.count() == want and want > 0


def test_new_join_families_never_nested_loop(plans):
    """The round's new join-bearing queries must all keep an equality
    conjunct driving a hash/sort-merge join — a missing equi half
    silently degrades to BroadcastNestedLoopJoin and dies at scale."""
    for name in (
        "fuzzy_match_customers",
        "market_basket_pairs",
        "attribution_click_to_purchase",
        "cdc_orders_snapshot_diff",
        "salted_join_status_counts",
    ):
        p = plans(name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name
    # bm25's one BNLJ is the broadcast of the 1-ROW corpus-stats aggregate
    # (n_docs, avgdl) — constant-size by construction; the tf/df joins must
    # stay keyed
    p = plans("bm25_search_docs")
    assert p.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in p


def test_dq_gate_scan_count_constant(plans):
    """8 expectations over two tables must cost four scans (orders row
    checks, lineitem row checks, RI fact + dim) — per-check scans
    would make validation cost scale with check count."""
    p = plans("dq_orders_lineitem")
    assert p.count("FileScan parquet") <= 4


# Queries whose plans legitimately contain BroadcastNestedLoopJoin:
# every instance is a CONSTANT-side cross join (a 1-row aggregate of
# totals/bounds, a K-row centroid/horizon table, or the deliberate
# cross-join operator). Anything else appearing here is a scale bug.
_BNLJ_ALLOWED = {
    "abc_part_classification": 1,  # 1-row revenue-total broadcast
    "benford_price_digits": 1,
    "bigram_perplexity_docs_bcast": 1,  # 1-row vocab-size broadcast (same as _fast)
    "binary_quant_ann_rerank": 1,  # broadcast probe batch x corpus hamming screen
    "bm25_search_docs": 1,
    "bpe_train_merges_docs": 3,  # 1-row top-pair x 1-row checksum per round
    "unigram_lm_train_docs": 6,  # 1-row vocab-stat x cost-checksum x seg-stat assembly per EM round (2 rounds x 3)
    "wordpiece_train_merges_docs": 3,  # same shape: 1-row top x 1-row checksum per round
    # 1-row corpus-count broadcast for ntile_from_rank, plus bigram's
    # 1-row vocab-size broadcast inside two_pass_rank's stage
    "ccnet_perplexity_buckets_docs": 2,
    "chi2_status_priority": 1,
    "contrastive_negatives": 1,  # one broadcast query batch, single scoring pass
    "cramers_v_status_priority": 1,
    "cusum_revenue_changepoint": 2,
    "customer_revenue_deciles": 1,  # 1-row count broadcast for ntile_from_rank
    "customers_to_half_revenue": 1,  # 1-row total/count broadcast
    "doc_keywords_tfidf": 1,
    "dsir_importance_resample": 2,  # 1-row totals broadcast + 512-row LM assembly
    "ewma_daily_revenue": 1,
    "funnel_view_click_purchase": 2,
    "gdpr_forget_report": 3,
    "growth_accounting_monthly": 1,
    "hll_rollup_total_users": 1,
    "jl_project_embeddings": 1,  # 16x64 constant Rademacher matrix assembly
    "join_cross_region_status": 1,  # the deliberate CROSS JOIN operator
    "kmeans_embeddings": 5,  # K-row centroid table per unrolled iteration
    "logreg_quality_train_docs": 6,  # 1-row weight/gradient/accuracy broadcasts per GD round
    "pca_power_iteration_embeddings": 3,  # 1-row norm + 1-row Rayleigh per power round
    "pca_deflation_top2_embeddings": 2,  # 1-row norm/Rayleigh tails (checkpoints absorb the rest)
    "semantic_dedup_embeddings": 4,  # K-row centroid broadcasts (fixture-form budget; the r9 production GEMM builder plans fewer)
    "semantic_dedup_embeddings_autok": 1,  # 1-row rollup x 1-row corpus-total invariant join
    "ks_price_urgent_vs_low": 1,
    "margin_knn_mining_embeddings": 1,  # bounded probe batch broadcast into the staged scored pass
    "mmr_diverse_topk": 1,  # broadcast query batch (candidate generator)
    "ols_daily_revenue_trend": 1,
    "pareto_customer_revenue": 1,
    "part_rank_movers": 2,
    "pmi_bigrams_docs": 2,
    "q11_important_stock": 1,  # 1-row national-total broadcast
    "pmi_copurchase_parts": 1,
    "price_volume_decomposition": 1,
    "q22_global_sales_opportunity": 1,
    "return_latency_median": 1,  # 1-row gap-count broadcast
    "revenue_by_order_decile": 1,
    "rfm_segments": 1,
    "window_stats_customers": 1,  # 1-row count broadcast for ntile/pct_rank
    "signup_to_purchase_survival": 2,  # 5-row horizon spine
    "triangle_count_copurchase": 1,
    "unigram_surprisal_docs": 1,
    "weekday_seasonality_index": 1,
    "ann_topk_cosine": 1,  # broadcast query batch (exactness baseline)
    "knn_label_accuracy": 1,  # broadcast capped probe slice (eval set)
    "alloc_nation_budget": 3,  # 1-row total/shortfall tables
    "engagement_decay_scores": 1,  # 1-row max-date anchor
    "anomaly_daily_revenue": 1,
    "bigram_perplexity_docs": 1,  # 1-row vocab-size broadcast
    "bigram_perplexity_docs_fast": 1,  # same 1-row vocab-size broadcast
    "dq_psi_price_drift": 1,  # 1-row grand-total broadcast
    "psi_event_value_drift_daily": 2,  # 1-row ref total + 8-row bin spine
    "temperature_mixture_weights": 1,  # 1-row weight/char totals broadcast
    "temperature_resample_corpus": 2,  # 1-row totals + 1-row max-ratio broadcasts
    "hll_event_type_overlap": 1,  # |types|-row sketch table theta self-join
    "kneser_ney_trigram_docs": 2,  # 1-row bt/wt x 1-row vsz assembly + its broadcast into scoring
    "hybrid_rrf_retrieval": 2,  # 3-row probe batch + the bm25 arm's 1-row stats
    "decontaminate_eval_docs": 1,  # 1-row benchmark-first-token array broadcast
}


def test_no_query_plans_an_unvetted_nested_loop(registry_plans):
    """Fleet-wide scale net: every registered query's physical plan is
    free of CartesianProduct, and BroadcastNestedLoopJoin appears only
    in the audited constant-side cases above (and never more of them).
    A new query that accidentally plans an input x input nested loop
    fails here instead of at 100 TB."""
    from pyspark.sql import types as T

    offenders = {}
    nonscalar = {}
    for name, (fields, plan) in registry_plans.items():
        cart = plan.count("CartesianProduct")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        if cart or bnlj > _BNLJ_ALLOWED.get(name, 0):
            offenders[name] = (bnlj, cart)
        # registry convention: no array/map/struct/binary on the
        # registered surface — the driver's pandas canonicalizer
        # cannot sort them (round-2 lost two window slots to this)
        cols = [
            f.name
            for f in fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType))
        ]
        if cols:
            nonscalar[name] = cols
    assert not offenders, f"unvetted nested-loop/cartesian plans: {offenders}"
    assert not nonscalar, f"non-scalar registered output columns: {nonscalar}"


# No query may plan a partition-less Window, full stop. Bounded
# grains (calendar days, nations, K centroids, distinct small-int
# values, the two-pass rank's P-row offsets) still execute in a
# deliberate single partition, but they declare it with a constant
# non-foldable partition key (operators/rank.one_bucket) — so the
# spec is non-empty, WindowExec's warning never fires, and any bare
# global window that shows up here is a genuine scale regression.
# Growing grains (orders, customers, parts, vocabulary, session
# gaps) must use the two-pass rank (operators/rank.py).
_GLOBAL_WINDOW_ALLOWED: dict[str, int] = {}


def test_no_query_plans_an_unvetted_global_window(registry_plans):
    """Fleet-wide scale net #2: no registered query funnels a
    data-growing grain through a single-partition Window. Every
    partition-less window spec must either order by the two-pass
    rank's _tpr_pid (a P-row offsets table) or appear in the audited
    bounded-grain allowlist above — and never more of them."""
    from etl_orders_spark.sql import count_global_windows

    offenders = {}
    for name, (_, plan) in registry_plans.items():
        n = count_global_windows(plan)
        if n > _GLOBAL_WINDOW_ALLOWED.get(name, 0):
            offenders[name] = n
    assert not offenders, f"unvetted single-partition windows: {offenders}"


def test_runtime_bloom_filter_available_for_selective_fact_joins(spark, sf_dir):
    """The engine's session keeps Spark's runtime bloom-filter join
    pruning enabled (`spark.sql.optimizer.runtime.bloomFilter.enabled`),
    so a selective dimension-side filter injects a bloom_filter_agg
    semi-filter into the fact scan side of a shuffled join. The feature
    is size-gated by design — creation side <= 10 MB, application-side
    scan >= 10 GB — so it cannot fire at test scale factors; this test
    drops the size gates to prove the plumbing works end-to-end on a
    representative plan, which is exactly the plan Spark produces
    unprompted at 100 TB (where lineitem clears the 10 GB scan gate
    and a filtered orders side clears the creation gate)."""
    from pyspark.sql import functions as F

    from etl_orders_spark.sources.readers import load_table

    spark.catalog.clearCache()
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", old_app
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_multi_consumer_subtrees_are_cached(spark, sf_dir):
    """Recompute audit, pinned: queries whose expensive subtree feeds
    several consumers (iterative graph expansion, inverted-index
    self-joins, scalar-total broadcasts over a fact aggregate) must
    materialize it once — without it, lazy lineage replays the subtree
    per consumer (measured: khop 38 lineitem scans / 65s at sf0.1 vs
    42s cached; prefix-filter jaccard 12s vs 2s). Two legitimate
    forms, both visible in the physical plan: the keyed stage cache
    (InMemoryRelation/InMemoryTableScan — cache_stage, filled once on
    a miss and reused by warm re-runs; the rule for a frame built once
    and read by several consumers) and the eager localCheckpoint (Scan
    ExistingRDD — kept only where the lineage cut is the point, e.g.
    iterative expansion)."""
    from etl_orders_spark.plans.registry import query_map

    spark.catalog.clearCache()
    q = query_map()
    for name in (
        "khop_reachability_parts",
        "triangle_count_copurchase",
        "ngram_jaccard_prefix",
        "ngram_jaccard_pairs",
        "alloc_nation_budget",
        "pagerank_event_types",
    ):
        plan = q[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert (
            "InMemoryRelation" in plan
            or "InMemoryTableScan" in plan
            or "ExistingRDD" in plan
        ), f"{name}: multi-consumer subtree lost its materialize-once marker"
