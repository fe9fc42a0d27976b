"""Physical-plan assertions for headline queries: the properties that
matter at 100 TB, checked at the plan level so a regression (lost
pushdown, broadcast turning into shuffle, range join degrading to BNLJ)
fails loudly long before it costs cluster-hours.
"""

import pytest

from meteor_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    # toString() elides long PushedFilters lists; formatted mode prints them whole
    je = QUERIES[name](spark, SF)._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return je.explainString(mode)


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection needs 7 of 11 lineitem columns; the scan must not read text-heavy extras
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]


def test_q3_broadcasts_customer_dim(spark):
    plan = _plan(spark, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_q5_star_join_all_dims_broadcast(spark):
    plan = _plan(spark, "q5_nation_revenue")
    # supplier, nation, region all broadcast: at least 3 broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_top_docs_per_lang_uses_window_group_limit(spark):
    plan = _plan(spark, "top_docs_per_lang")
    assert "WindowGroupLimit" in plan  # rank pushdown below the exchange


def test_range_join_is_not_nested_loop(spark):
    plan = _plan(spark, "purchase_click_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semi_and_anti_joins_planned_as_such(spark):
    assert "LeftSemi" in _plan(spark, "orders_with_returns")
    assert "LeftAnti" in _plan(spark, "customers_without_orders")


def test_stratified_sample_is_shuffle_free(spark):
    plan = _plan(spark, "stratified_sample")
    assert "Exchange" not in plan  # pure filter above the scan


def test_winnowing_is_shuffle_free(spark):
    plan = _plan(spark, "winnowing_fingerprints")
    # the fingerprint derivation itself adds no exchange; the only
    # exchanges come from the summary aggregation (and the fixture
    # repartition), never a window sort
    assert "Window" not in plan
    assert "Sort" not in plan


def test_minhash_band_join_is_equi_join(spark):
    plan = _plan(spark, "minhash_near_duplicates")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_late_ships_semi_join_pushes_date_filter(spark):
    plan = _plan(spark, "order_priority_late_ships")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # date range reaches the scan
    # lineitem build side reads only its two join columns
    tail = plan.split("lineitem.parquet")[-1]
    assert "l_orderkey" in tail and "l_extendedprice" not in tail


def test_pivot_is_single_scan_with_partial_agg(spark):
    plan = _plan(spark, "orders_priority_status_pivot")
    assert plan.count("FileScan") == 1  # pinned pivot values: no distinct-values job
    assert "partial_count" in plan or "partial_pivotfirst" in plan  # map-side combine


def test_q7_dual_role_dims_broadcast_no_fact_broadcast(spark):
    plan = _plan(spark, "q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier + both nation roles
    assert "TakeOrderedAndProject" not in plan  # aggregate, not top-k


def test_q10_top20_is_take_ordered(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_q18_aggregates_fact_before_joins(spark):
    plan = _plan(spark, "q18_large_volume_customers")
    # the lineitem HAVING-aggregate must sit BELOW the joins: the first
    # HashAggregate over l_quantity appears before any join operator in
    # the bottom-up plan — i.e. the join inputs are the collapsed agg,
    # not the raw fact
    assert "BroadcastHashJoin" in plan
    li_scan = plan.split("lineitem.parquet")[0]
    # everything between the lineitem scan and the first join is agg-only
    assert "HashAggregate" in li_scan.rsplit("Join", 1)[-1]


def test_q13_left_join_survives_extra_predicate(spark):
    plan = _plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan  # the o_orderpriority predicate must stay
    # in the join condition, not demote the outer join to inner


def test_q16_exclusion_is_broadcast_anti_join(spark):
    plan = _plan(spark, "q16_part_supplier_counts")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_derives_pushable_residuals(spark):
    plan = _plan(spark, "q19_bracket_revenue")
    # Catalyst must extract single-side bounds from the OR-of-ANDs:
    # quantity bounds reach the lineitem scan as pushed filters
    assert "GreaterThanOrEqual(l_quantity" in plan
    assert "BroadcastHashJoin" in plan


def test_q9_filters_part_before_broadcast(spark):
    plan = _plan(spark, "q9_product_profit")
    # the LIKE lands in the part scan (pushed as a string predicate or a
    # post-scan filter below the broadcast exchange), so the broadcast
    # build is the pruned dim
    part_side = plan.split("part.parquet")[0]
    assert "BroadcastExchange" in part_side
    assert plan.count("BroadcastHashJoin") >= 3


def test_q2_correlated_min_is_one_window_pass(spark):
    plan = _plan(spark, "q2_min_cost_supplier")
    # window-min rewrite: exactly one Window operator, no self-join of
    # the offers aggregate (two lineitem scans would mean the scalar
    # subquery re-ran the whole agg)
    assert plan.count("lineitem.parquet") == 1


def test_q11_and_q15_reuse_aggregate_for_scalar(spark):
    for name in ("q11_part_value_share", "q15_top_supplier"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_hamming_is_blocked_equi_join(spark):
    plan = _plan(spark, "simhash_hamming_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_is_take_ordered(spark):
    plan = _plan(spark, "weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


def test_q6_all_predicates_reach_the_scan(spark):
    plan = _formatted(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters")[-1].split("]")[0]
    for frag in ("GreaterThanOrEqual(l_shipdate", "GreaterThanOrEqual(l_discount",
                 "LessThan(l_quantity"):
        assert frag in pushed
    assert "Exchange" in plan  # only the 1-row partial-agg exchange
    assert plan.count("Location: InMemoryFileIndex") == 1  # single table, single scan


def test_q8_only_fact_order_shuffle(spark):
    plan = _plan(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5  # part, customer, nation x2, supplier
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q20_having_subquery_is_broadcast_semi_join(spark):
    plan = _plan(spark, "q20_heavy_part_suppliers")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_sole_late_supplier_single_fact_pass(spark):
    # the EXISTS/NOT-EXISTS decorrelation must NOT re-scan lineitem:
    # one fact scan, one orders scan, one broadcast supplier lookup
    plan = _plan(spark, "q21_sole_late_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    from pyspark.sql import functions as F

    from meteor_spark.operators.runtime_filter import runtime_bloom

    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = lambda: (  # noqa: E731
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    with runtime_bloom(spark, disable_broadcast=True):
        plan = joined()._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "bloom build missing on creation side"
        assert "BloomFilterMightContain" in plan or "might_contain" in plan
        bloom_rows = {tuple(r) for r in joined().collect()}
    plain_rows = {tuple(r) for r in joined().collect()}
    assert bloom_rows == plain_rows  # reduction never changes results


def test_no_inferred_size_filter_from_explode(spark):
    # InferFiltersFromGenerate is excluded session-wide: its inferred
    # size(f(x)) > 0 predicate inlines the tokenizer into a scan-level
    # filter and re-evaluates the split per array element (measured 4x
    # on the n-gram sweep). Regression pin: no size(split(...)) filter
    # below the gram projection.
    opt = (
        QUERIES["corpus_top_bigrams"](spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "size(split" not in opt


def test_ngram_jaccard_is_inverted_index_join(spark):
    # intersection counted by a hash aggregate over a postings equi-join;
    # never a quadratic block self-join or a nested loop
    plan = _plan(spark, "ngram_jaccard_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "array_intersect" not in plan  # no per-pair array shuffles


def test_exact_profile_has_no_window(spark):
    # exact median comes from the frequency-weighted percentile AGGREGATE;
    # a Window.partitionBy(column) here would mean one task per column
    # sorting every distinct value — the single-reducer bottleneck
    plan = _plan(spark, "profile_lineitem")
    assert "Window" not in plan
    assert "percentile" in plan


def test_sql_api_revenue_has_no_expand(spark):
    # count(DISTINCT)+sum in one aggregate triggers Catalyst's Expand
    # (2x fact shuffle); the two-level form must not
    plan = _plan(spark, "sql_api_revenue")
    assert "Expand" not in plan


def test_semantic_dedup_pair_join_is_cluster_equi_join(spark):
    # the SemDeDup pairing must be a hash equi-join on the cluster id —
    # never a cartesian/BNLJ — and the seed-assignment side adds no
    # shuffle of its own (pure projection over the scan)
    plan = _plan(spark, "semantic_dedup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster" in plan


def test_gopher_gate_is_single_pruned_scan(spark):
    # rule evaluation is one scan projected to (doc_id, text): no joins,
    # no exchanges beyond the (conditional) small-input repartition, and
    # the untouched lang/source/n_chars columns never reach the scan
    plan = _plan(spark, "gopher_quality_gate")
    assert "Join" not in plan
    read_schema = plan.split("ReadSchema")[-1]
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_ivf_pivot_assignment_is_shuffle_free_and_probes_broadcast(spark):
    # cell assignment folds over the literal pivot array per corpus row
    # (no exchange for the argmax); the probe join broadcasts the tiny
    # query side so the corpus never shuffles for the candidate cut
    plan = _plan(spark, "ivf_ann_topk")
    assert "BroadcastHashJoin" in plan  # assigned JOIN broadcast(probes) on cell
    assert "SortMergeJoin" not in plan
    # exactly the shuffles the top-k window needs; none for assignment
    assert "CartesianProduct" not in plan


def test_pq_pivot_codebook_and_queries_broadcast(spark):
    # the 128-row codebook and the query side must both broadcast; the
    # corpus side of every join stays streamed
    plan = _plan(spark, "pq_ann_topk")
    assert plan.count("BroadcastHashJoin") >= 2  # codes JOIN ct; cand JOIN cv/qv
    assert "BroadcastNestedLoopJoin" in plan     # enc x queries (inequality cond)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# plan-shape budgets for the most expensive gates (VERDICT r5 #6):
# operator-count snapshots so a change that swaps a broadcast join for a
# shuffle join (or adds an exchange) fails CI instead of surfacing as a
# bench mystery two rounds later. Budgets are the observed counts at the
# test SF: max shuffles (more = a regression), min broadcast joins
# (fewer = a dim stopped broadcasting), hard zero CartesianProduct, and
# at most the listed SortMergeJoins (optional 4th element, default 0 —
# only genuine big-big joins may sort-merge). Selection = top-20
# BENCH_r05 entries plus, since round 7, every >=2s BENCH_FULL entry
# (streaming gates excluded — foreachBatch plans aren't inspectable
# pre-execution; their shape is pinned by tests/test_streaming.py;
# neardup_store_compaction's dedup+write plan likewise lives there).
# ---------------------------------------------------------------------------

_PLAN_BUDGETS = {
    # name: (max_shuffle, min_bhj, max_bnlj)
    "embedding_kmeans_profile": (3, 1, 0),
    "simhash_hamming_pairs": (11, 3, 0),
    "curation_pipeline": (7, 3, 0),
    "workload_table_pagerank": (1, 0, 0),
    "audio_silence_segments": (2, 0, 0),
    "profile_lineitem": (6, 1, 0),
    "hybrid_search_rrf": (10, 1, 2),
    "minhash_near_duplicates": (5, 3, 0),
    "doc_containment_pairs": (7, 4, 0),
    "dsir_importance_weights": (16, 3, 1),
    "doc_bigram_perplexity": (13, 2, 1),
    "lineitem_weighted_median_price": (2, 0, 0),
    "duplicated_span_report": (5, 1, 0),
    "events_asof_purchase": (1, 0, 0),
    "ivf_ann_topk": (2, 1, 0),
    "sorted_neighborhood_pairs": (12, 3, 0),
    "kcenter_coreset": (1, 0, 0),
    "passage_dedup_survivors": (5, 1, 0),
    "source_diversity_metrics": (9, 2, 0),
    "bm25_search_topk": (8, 1, 1),
    # round-6 additions (same method: observed cold counts at test SF)
    "events_sliding_distinct": (3, 0, 0),
    "event_value_ks_drift": (3, 0, 1),
    "event_value_mad_outliers": (6, 5, 0),
    "leakage_free_split": (3, 1, 0),
    "embedding_dimension_profile": (1, 0, 0),
    "token_budget_allocation": (3, 0, 1),
    # round-7: every remaining >=2s BENCH_FULL entry (VERDICT r6 #6).
    # A 4th element permits that many SortMergeJoins — ONLY for genuine
    # big-big joins (within-cluster self-join; predicted-vs-truth pair
    # reconciliation), where broadcasting either side would be the bug.
    # Zero-count plans are still pinned: these gates publish from
    # localCheckpointed/collected state, so ANY exchange appearing in
    # the readout plan is a regression.
    # r10: the pair-free prefix-max form — ONE shuffle (groupBy cluster
    # into applyInPandas), no joins at all (the pair join + anti-join
    # twin needed 2 shuffles + a broadcast + an SMJ)
    "semantic_dedup_survivors": (1, 0, 0, 0),
    # round-7 gate: hybrid retrieval stages + broadcast candidate
    # fetch + Arrow rerank — the candidate join must stay broadcast
    "rerank_cross_encoder": (11, 2, 2),
    "near_dup_clusters": (0, 0, 0),
    # r10: truth arm moved from the prefix join (8 extra BHJs) to the
    # blocked posting join (mapInPandas + broadcast postings — not a
    # JOIN operator, so the budget drops); cold plan measures (27, 8)
    "minhash_eval_report": (28, 8, 2, 1),
    # one round-robin exchange spreads the broadcast-join probe side
    # (input-linear; a single-file scan is 1 partition and serialized
    # the 100x pair compute on one core before r11)
    # 2 exchanges since r12: BOTH self-join aliases sit on the spread
    # repartition (r11 advice — either broadcast build-side choice
    # leaves the probe side parallel); self-join re-aliasing defeats
    # ReuseExchange, so the input-linear round-robin shuffle prints
    # (and runs) twice — trivia next to the pair compute it protects
    "semantic_dedup_pairs": (2, 1, 0),
    # r12 shape: the approx profile joins the SHARED exact profile
    # (one freq-frame pass, p45/p55 riding the same persisted frame —
    # the r11 separate bounds agg and its broadcast join are gone), so
    # one fewer shuffle and one fewer BHJ than the r11 (9, 3) budget;
    # measured (8, 2)
    "profile_lineitem_approx": (8, 2, 0),
    "pq_ann_topk": (3, 3, 1),
    "doc_similarity_topk": (6, 3, 0),
    "embedding_pc1_power_iteration": (0, 0, 0),
    "split_leakage_report": (6, 5, 0),
    # round-7 additions (streaming_ks_drift excluded: foreachBatch-era
    # rule — streaming plans are pinned in tests/test_streaming.py)
    "user_kanonymity_census": (7, 0, 1),
    "mw_domain_reweight": (0, 0, 0),
    "orc_catalog_assets": (1, 0, 0),
    # r8: peak via partition-window max instead of groupBy+broadcast
    # self-join — 4 exchanges / 1 bhj became 2 / 0 (and the self-join
    # removal is what lets the streaming twin reuse the readout)
    "event_rate_changepoint": (2, 0, 0),
    # r8 skyline: Arrow-batched local prefilter is NARROW (no exchange);
    # the two budgeted shuffles are the _docs fan-out repartition and
    # the global window sort over frontier-sized survivors
    "document_pareto_frontier": (2, 0, 0),
    # r8: hourly groupBy + per-key applyInPandas fold
    "event_rate_holt_smoothing": (2, 0, 0),
    # r8: anchors broadcast into one corpus scan (BNLJ on the
    # label-exclusion predicate — the brute_force_topk shape)
    "hard_negative_mining": (1, 0, 1),
    # r8: the four BNLJ are the two broadcast corpus scans (forward /
    # backward k-NN), each printed twice because the persisted forward
    # frame's InMemoryRelation subplan repeats per consumer in the cold
    # plan string (execution runs each scan once)
    "bitext_margin_pairs": (9, 3, 4),
    # r8: fifth catalog format; one exchange from the asset sort
    "json_catalog_assets": (1, 0, 0),
    # r8 second wave
    "csv_catalog_assets": (1, 0, 0),
    # groupBy + one single-partition global-window exchange — the
    # scalar re-join shape (8 shuffles / 3 BNLJ) was rewritten away
    "split_quota_apportionment": (2, 0, 0),
    # ring assignment is an O(|ring|) literal-array filter per row;
    # the BNLJ is the one-row total broadcast
    "consistent_hash_reshard": (2, 0, 1),
    # two global ntile sorts (one per layout) + chunk-count-sized aggs
    "zorder_skipping_report": (2, 0, 0),
    # interval self-join broadcasts the purchase side; touch counts
    # ride a pair-keyed window
    "multi_touch_attribution": (1, 1, 0),
    # r9: the x16-replicated dim still broadcasts (it is dim x salt
    # sized); the one shuffle is the nationkey groupBy
    "nation_revenue_salted_join": (1, 1, 0),
    # cold-print inflation: the persisted token-register partials'
    # InMemoryRelation subplan repeats per consumer (singles + two
    # pair orientations); genuine exchanges are the token groupBy +
    # two merge levels per estimate
    "source_overlap_hll_estimate": (24, 4, 2),
    # one conditional-agg pass + FK broadcast anti-join
    "lineitem_constraint_report": (2, 1, 0),
    # kanonymity's aggregations + the dominant-value window + the
    # signature-join; the BNLJ is the one-row total broadcast
    "user_ldiversity_census": (10, 1, 1),
    # cold-print inflation: the persisted (user, sig, sens) frame's
    # InMemoryRelation subplan repeats per consumer (set counts, set
    # sizes, global dist, total); the grid join broadcasts the
    # attr-domain side
    "user_tcloseness_census": (22, 5, 2),
}


def _plan_counts(plan: str) -> dict:
    import re

    return {
        "shuffle": len(re.findall(r"(?<!Broadcast)Exchange", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin"),
        "cart": plan.count("CartesianProduct"),
    }


@pytest.mark.parametrize("name", sorted(_PLAN_BUDGETS))
def test_plan_budget(spark, name):
    # budgets are COLD-plan counts: frames that earlier tests persisted
    # (Spark's CacheManager matches them by plan) would swap subtrees
    # for InMemoryTableScans and shift join strategies
    from meteor_spark import io

    spark.catalog.clearCache()
    with io.cache_scope():
        got = _plan_counts(_plan(spark, name))
    budget = _PLAN_BUDGETS[name]
    max_shuffle, min_bhj, max_bnlj = budget[:3]
    max_smj = budget[3] if len(budget) > 3 else 0
    assert got["cart"] == 0, f"{name}: CartesianProduct appeared"
    assert got["smj"] <= max_smj, (
        f"{name}: {got['smj']} SortMergeJoin > budget {max_smj} "
        "(broadcast lost?)"
    )
    assert got["shuffle"] <= max_shuffle, (
        f"{name}: {got['shuffle']} shuffles > budget {max_shuffle} — a new "
        "exchange entered the plan; re-baseline only if it's deliberate"
    )
    assert got["bhj"] >= min_bhj, (
        f"{name}: {got['bhj']} broadcast joins < budget {min_bhj} — a dim "
        "stopped broadcasting"
    )
    assert got["bnlj"] <= max_bnlj, (
        f"{name}: {got['bnlj']} BNLJ > budget {max_bnlj} — only one-row "
        "scalar joins may nested-loop"
    )
