"""Physical-plan invariants: the properties that make these plans viable at
100 TB, pinned so a plan-shape regression fails even while results stay
correct (SURVEY.md §4: pushdown/broadcast/partial-agg/top-k pruning)."""

import pytest

from comlake_core_spark.plans import inspect as P
from comlake_core_spark.workloads import REGISTRY

SF = "/root/testdata/sf0.001"


def run(spark, name):
    df = REGISTRY[name].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()  # finalize AQE plan
    return df


def test_qast_filter_pushed_to_scan(spark):
    df = run(spark, "qast_eq_filter")
    assert P.has_pushed_filter(df, "l_returnflag")


def test_catalog_find_broadcasts_content_dim(spark):
    # the dataset⋈content join must broadcast the dim side: zero shuffles
    df = run(spark, "catalog_find")
    assert P.has_broadcast_join(df)
    assert P.count_shuffles(df) == 0


def test_revenue_join_broadcasts_and_partial_aggs(spark):
    df = run(spark, "join_revenue_by_nation")
    assert P.has_broadcast_join(df)  # nation (and small sides) broadcast
    assert P.has_partial_aggregate(df)  # map-side combine before exchange
    assert P.count_shuffles(df) <= 2


def test_global_topk_is_take_ordered(spark):
    # orderBy+limit must fuse to TakeOrderedAndProject (no global sort)
    df = run(spark, "topk_orders")
    assert P.has_take_ordered(df)
    assert P.count_shuffles(df) == 0


def test_grouped_topk_uses_window_group_limit(spark):
    # row_number<=k rewritten to per-partition group limits pre-shuffle
    df = run(spark, "topk_orders_per_segment")
    assert P.has_window_group_limit(df)


def test_pricing_summary_partial_agg_single_shuffle(spark):
    df = run(spark, "agg_pricing_summary")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 1
    assert P.has_pushed_filter(df, "l_shipdate")


def test_ann_topk_no_corpus_shuffle_before_scoring(spark):
    # queries broadcast; the only exchange is the per-query top-k merge,
    # and WindowGroupLimit prunes to k before it
    df = run(spark, "ann_cosine_topk")
    assert P.has_broadcast_join(df)
    assert P.has_window_group_limit(df)


def test_ivf_assignment_is_map_only_single_shuffle(spark):
    # bucket assignment is a literal-codebook expression (no crossJoin, no
    # per-row window): the ONLY shuffle in the whole query is the final
    # per-query top-k merge, the probe frame arrives by broadcast, and no
    # cartesian/nested-loop join appears anywhere
    df = run(spark, "ann_ivf_topk")
    assert P.count_shuffles(df) == 1
    assert P.has_broadcast_join(df)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_minhash_no_cartesian_product(spark):
    # LSH banding must meet as an equi-join on bucket keys, never a
    # cartesian pair enumeration
    df = REGISTRY["dedup_minhash_lsh"].fn(spark, SF)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan


def test_exact_dedup_is_partial_agg(spark):
    df = run(spark, "dedup_exact")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 1


def test_codegen_active_on_scan_heavy_query(spark):
    df = run(spark, "qast_arith_revenue")
    assert P.codegen_stage_count(df) >= 1


def test_pipeline_dedup_single_shuffle(spark):
    df = run(spark, "pipeline_clean_corpus")
    assert P.count_shuffles(df) == 1
    assert P.has_window_group_limit(df)


def test_disjunctive_filter_derives_scan_local_predicates(spark):
    # TPC-H Q19 shape: the OR across part and lineitem columns must still
    # reach BOTH scans as table-local pushed filters (Catalyst derives
    # l_quantity bounds for lineitem and the brand/size disjunction for part)
    df = run(spark, "disjunctive_filter_revenue")
    assert P.scan_filters_on(df, "l_quantity")
    assert P.scan_filters_on(df, "p_brand")
    assert P.has_broadcast_join(df)


def test_local_supplier_volume_broadcasts_dims(spark):
    # TPC-H Q5 shape: supplier⋈nation⋈region dims broadcast; the only
    # shuffles belong to the fact-side joins/agg, orderdate filter pushed
    df = run(spark, "join_local_supplier_volume")
    assert P.has_broadcast_join(df)
    assert P.has_pushed_filter(df, "o_orderdate")
    assert P.has_partial_aggregate(df)


def test_large_order_customers_prunes_before_join(spark):
    # TPC-H Q18 shape: the HAVING aggregate is partial-agg'd and the
    # qualifying set joins without a cartesian product
    df = run(spark, "large_order_customers")
    assert P.has_partial_aggregate(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_asof_join_is_single_shuffle_merge(spark):
    # as-of join must plan as union + window (one exchange for the window,
    # plus the right side's pre-aggregation) — never a nested-loop join
    df = run(spark, "asof_last_purchase")
    plan = P.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert P.count_shuffles(df) <= 2


def test_range_join_is_equi_join_not_nested_loop(spark):
    # bucketed range join must hash-join on (key, bucket); a raw theta join
    # would plan BroadcastNestedLoopJoin
    df = run(spark, "range_join_clicks_after_purchase")
    plan = P.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_volume_shipping_pair_dims_broadcast(spark):
    # TPC-H Q7 shape: nation-pair pruning reaches supplier/customer via
    # broadcasts; the shipdate range is pushed to the lineitem scan
    df = run(spark, "volume_shipping_pairs")
    assert P.has_broadcast_join(df)
    assert P.has_pushed_filter(df, "l_shipdate")
    assert "CartesianProduct" not in P.executed_plan(df)


def test_market_share_single_final_agg_shuffle(spark):
    # TPC-H Q8 shape: all dims broadcast; both conditional sums evaluate in
    # ONE aggregate pass (no double scan of the joined fact)
    df = run(spark, "market_share_by_year")
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)


def test_customer_distribution_two_shuffles(spark):
    # TPC-H Q13 shape: exactly the two aggregation exchanges (custkey, then
    # c_count) beyond the outer join's own — count(col) null-skip keeps
    # zero-order customers without a separate union branch
    df = run(spark, "customer_order_distribution")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) <= 3


def test_top_supplier_scalar_max_is_broadcast(spark):
    # TPC-H Q15 shape: the scalar max joins back as a one-row broadcast,
    # never a re-aggregation of lineitem or a cartesian blow-up
    df = run(spark, "top_supplier_by_revenue")
    assert P.has_broadcast_join(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_sole_returning_supplier_semi_anti_no_cartesian(spark):
    # TPC-H Q21 shape: both EXISTS legs are hash semi/anti joins with the
    # suppkey inequality as a join residual, not a nested-loop pair scan
    df = run(spark, "sole_returning_supplier")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_spreads_key(spark):
    # the salted join must keep the equi-join hash-based (salt widens the
    # key) and stay result-transparent (oracle gate covers values)
    df = run(spark, "salted_join_revenue")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_topn_rides_window_group_limit(spark):
    # tf-idf top-5: the vocabulary df-agg must broadcast back onto tf (no
    # sort-merge on term), the per-doc top-n must be WindowGroupLimit
    # (map-side trim), and tf must partial-aggregate before its shuffle
    df = run(spark, "text_tfidf_top_terms")
    assert P.has_window_group_limit(df)
    assert P.has_partial_aggregate(df)
    assert P.has_broadcast_join(df)


def test_grouping_sets_single_scan(spark):
    # both marginals from ONE lineitem scan (Expand, not a union of scans)
    df = run(spark, "agg_grouping_sets")
    plan = P.executed_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan
    assert P.has_partial_aggregate(df)


def test_stratified_sample_map_side_trim(spark):
    # the per-stratum rank filter must be WindowGroupLimit and the quota
    # join must broadcast (quotas are O(#strata))
    df = run(spark, "stratified_sample_orders")
    assert P.has_window_group_limit(df)
    assert P.has_broadcast_join(df)


def test_bloom_pruned_join_filters_before_exchange(spark):
    # the bloom membership test must sit between the orders scan and the
    # join exchange — pruning before the shuffle is the whole point
    df = run(spark, "bloom_pruned_join")
    plan = P.executed_plan(df)
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan, plan
    pre, _, post = plan.partition("ArrowEvalPython")
    # the python filter stage appears below (after, in leaf-first reading)
    # at least one exchange — i.e. an exchange consumes its output
    assert "Exchange" in pre or "BroadcastExchange" in pre, plan


def test_unpivot_single_scan_expand(spark):
    # melt must be one scan + Expand, not the oracle's 3-scan UNION ALL
    df = run(spark, "unpivot_price_components")
    plan = P.executed_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan
    assert P.has_partial_aggregate(df)


def test_late_lines_priority_filter_scan_local(spark):
    # TPC-H Q12 shape: the returnflag IN-list is scan-local on lineitem
    # (pruned before the join shuffle) and the conditional counts are
    # map-side-combined partial aggregates
    df = run(spark, "late_lines_by_priority")
    assert P.has_pushed_filter(df, "l_returnflag")
    assert P.has_partial_aggregate(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_lateral_join_decorrelated(spark):
    # correlated LATERAL + LIMIT must decorrelate to a window/join plan —
    # never a per-row subquery (CartesianProduct / nested loop)
    df = run(spark, "lateral_top_order")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Window" in plan  # grouped top-1 rewrite
    assert P.count_shuffles(df) <= 2


def test_null_safe_join_is_hash_join(spark):
    # EqualNullSafe is an equi-join key: hash join, no nested loop
    df = run(spark, "join_null_safe")
    plan = P.executed_plan(df)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert P.has_broadcast_join(df)


def test_union_by_name_pushes_branch_filters(spark):
    # each union branch's date filter reaches its parquet scan, and the
    # union itself is plan-level (no extra exchange beyond the final agg)
    df = run(spark, "union_by_name_evolution")
    assert P.has_pushed_filter(df, "o_orderdate")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 1


def test_recursive_cte_spine_stays_tiny(spark):
    # the recursion materializes as a UnionLoop on the 12-row spine; the
    # fact side is pre-aggregated (partial agg) and joined broadcast-side,
    # with the year filter pushed to the orders scan
    df = run(spark, "recursive_cte_month_spine")
    plan = P.executed_plan(df)
    assert "UnionLoop" in plan
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)
    # executedPlan toString elides this scan's detail; read the formatted plan
    assert P.scan_filters_on(df, "o_orderdate")
    assert P.count_shuffles(df) <= 1


def test_argmax_single_shuffle_partial_agg(spark):
    # max_by/min_by carry one pair of state per group: same plan shape as
    # MAX — partial agg then one exchange
    df = run(spark, "agg_argmax_order")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 1


def test_histogram_single_scan_single_shuffle(spark):
    df = run(spark, "histogram_totalprice")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 1


def test_funnel_single_data_shuffle(spark):
    # three chained window-mins + per-user agg all ride ONE hash exchange
    # on user_id; the only other movement is the final single-row reduce
    df = run(spark, "funnel_view_click_purchase")
    plan = P.executed_plan(df)
    assert plan.count("Window ") == 3 or plan.count("Window") >= 3
    assert P.count_shuffles(df) == 1
    assert P.has_partial_aggregate(df)


def test_retention_distinct_reuses_user_partitioning(spark):
    # the (user, cohort, week) distinct's clustering requirement is
    # satisfied by the window's hash(user_id) partitioning (subset rule):
    # only the cohort-anchor shuffle and the tiny final-cell shuffle remain
    df = run(spark, "retention_weekly_cohorts")
    assert P.count_shuffles(df) == 2


def test_chunk_documents_is_map_only(spark):
    # fanout via sequence+posexplode+substring: a pure scan, zero shuffles
    df = run(spark, "chunk_documents")
    assert P.count_shuffles(df) == 0


def test_pii_redact_is_map_only(spark):
    df = run(spark, "pii_redact_customers")
    assert P.count_shuffles(df) == 0


def test_pack_sequences_single_shuffle(spark):
    # at most one exchange (the global running sum's single-partition
    # gather; zero here because the sf0.001 input is already 1 split)
    df = run(spark, "pack_sequences")
    assert P.count_shuffles(df) <= 1


def test_q2_shape_window_min_broadcast_dims(spark):
    # pre-agg on (partkey,suppkey), window min reuses partkey hash after
    # one exchange; part/supplier/nation are broadcast lookups
    df = run(spark, "min_unit_price_supplier")
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) <= 2


def test_q11_global_total_is_broadcast_scalar(spark):
    # per-part agg shuffles once; the global total reduces the agg output
    # to one broadcast row — no second lineitem scan
    df = run(spark, "important_part_values")
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) <= 2


def test_q16_anti_join_broadcast_distinct_two_phase(spark):
    # NOT-IN excluded suppliers broadcast to an anti join; count-distinct
    # runs as the two-level partial-distinct aggregate
    df = run(spark, "supplier_count_by_part_attrs")
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) <= 2
    assert not P.has_sort_merge_join(df)


def test_q20_window_total_halves_exchanges(spark):
    # per-part total as a window over the pre-agg, NOT a re-agg+self-join:
    # two exchanges total, date filter pushed to the scan
    df = run(spark, "excess_volume_suppliers")
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)
    assert P.scan_filters_on(df, "l_shipdate")
    assert P.count_shuffles(df) <= 3  # pre-agg, window, final distinct


def test_novelty_two_data_shuffles(spark):
    # explode → df-count exchange; join reuses it; per-doc re-agg is the
    # second exchange
    df = run(spark, "corpus_ngram_novelty")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) <= 2


def test_jaccard_topk_broadcast_and_group_limit(spark):
    # inverted-index plan: query postings broadcast onto the exploded
    # corpus shingles (never a |Q|×N cross product); the intersection agg
    # is map-combined; WindowGroupLimit trims to k per query map-side.
    # Shuffle budget: df-cap aggregate + its 1-row stop-array fold +
    # intersection agg + per-query window = 4 (sizes ride the postings,
    # so there are NO per-doc size aggregations or size joins).
    df = run(spark, "jaccard_topk_similar_docs")
    assert P.has_broadcast_join(df)
    assert P.has_window_group_limit(df)
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) <= 4
    # the max_df stop-shingle prune is live in the physical plan
    # (VERDICT r2 #2): map-side array_except against the broadcast
    # one-row stop array
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_except" in plan


def test_quantize_map_only(spark):
    # int8 quantization is pure per-row codegen: zero exchanges
    df = run(spark, "embedding_quantize_int8")
    assert P.count_shuffles(df) == 0


def test_cdc_merge_single_join_no_cartesian(spark):
    # MERGE INTO as ONE full-outer join on the key (both sides exchange —
    # full-outer can't broadcast); the action/COALESCE arms are codegen'd
    df = run(spark, "cdc_merge_orders")
    plan = P.executed_plan(df)
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert P.count_shuffles(df) == 2
    assert "Cartesian" not in plan


def test_feature_hashing_two_aggs(spark):
    # explode → (doc,bucket) map-combined count → small per-doc re-agg
    df = run(spark, "text_feature_hashing")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 2


def test_pq_assignment_map_only(spark):
    # codebook baked as literals: the code-assignment scan has zero
    # exchanges (codebook seeding is a separate tiny TakeOrdered job)
    df = run(spark, "embedding_pq_codes")
    assert P.count_shuffles(df) == 0


def test_ivfpq_no_cartesian_single_topk_shuffle(spark):
    # bucket + code assignment are plan literals (map-only); probe filter
    # is array_contains on a literal; the only data shuffle beyond the
    # codes join is the per-query top-k window
    df = run(spark, "ann_ivfpq_topk")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert P.has_window_group_limit(df) or "WindowGroupLimit" in plan


def test_negative_samples_broadcast_group_limit(spark):
    df = run(spark, "contrastive_negative_samples")
    assert P.has_broadcast_join(df)
    assert P.has_window_group_limit(df)
    assert P.count_shuffles(df) == 1


def test_mixture_resample_broadcast_quotas(spark):
    # domain weights/quotas are tiny broadcast frames; the doc-level rank
    # and the kept re-agg ride the group-key shuffles
    df = run(spark, "mixture_resample_corpus")
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)


def test_semantic_dedup_map_only_assignment(spark):
    # SemDeDup: centroid assignment is literal-codebook map-side work; the
    # intra-cluster pairing is an equi-join on the bucket, never a
    # cartesian/nested-loop.  (The worst-bucket broadcast cap and the
    # component rounds run upstream of a localCheckpoint, so the returned
    # plan shows only the doc⋈component join + the accounting agg.)
    df = run(spark, "semantic_dedup_embeddings")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregate(df)


def test_leakage_split_no_cartesian_and_partial_agg(spark):
    # cluster-representative split: the components loop is equi-joins on
    # the edge list; doc→component is one keyed join; accounting is a
    # partial agg
    df = run(spark, "leakage_safe_split_docs")
    assert "CartesianProduct" not in P.executed_plan(df)
    assert P.has_partial_aggregate(df)


def test_jaccard_topk_shuffle_fallback_no_posting_broadcast(spark):
    """VERDICT r3 #5: broadcast_queries=False must shuffle-join the posting
    lists — for the |Q|~|corpus| regime where broadcasting the query side
    would not fit executor memory."""
    from comlake_core_spark.operators.dedup import jaccard_topk_similar
    from comlake_core_spark.session import tables

    t = tables(spark, SF)
    docs = t["documents"].select("doc_id", "text")
    q = docs.limit(4)
    df = jaccard_topk_similar(docs, q, k=3, max_df=None, broadcast_queries=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the posting join runs as a shuffled join; broadcast appears nowhere
    # (max_df=None also removes the stop-array broadcast fold)
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoop" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_jaccard_topk_strategies_identical_results(spark):
    from comlake_core_spark.operators.dedup import jaccard_topk_similar
    from comlake_core_spark.session import tables

    t = tables(spark, SF)
    docs = t["documents"].select("doc_id", "text")
    q = docs.limit(6)
    outs = [
        sorted(
            tuple(r) for r in jaccard_topk_similar(
                docs, q, k=3, broadcast_queries=mode
            ).collect()
        )
        for mode in (True, False, "auto")
    ]
    assert outs[0] == outs[1] == outs[2]


def test_gopher_quality_map_only(spark):
    # the quality gate must run at scan speed: pure per-row Column
    # arithmetic, zero exchanges — it prunes the corpus BEFORE any
    # heavier (dedup/pack) stage pays a shuffle
    df = run(spark, "quality_gopher_rules")
    assert P.count_shuffles(df) == 0
    assert "Exchange" not in P.executed_plan(df)


def test_url_dedup_single_combined_exchange(spark):
    # normalize is map-side string ops; the groupBy on the normalized key
    # is the ONLY exchange and it partial-aggregates, so shuffle volume is
    # O(distinct urls x mappers), never O(docs)
    df = run(spark, "url_normalize_dedup")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 1


def test_length_buckets_partial_agg_single_shuffle(spark):
    # power-of-two histogram: map-combined agg on the bucket key; the
    # shuffle carries O(buckets x mappers) rows
    df = run(spark, "docs_length_buckets")
    assert P.has_partial_aggregate(df)
    assert P.count_shuffles(df) == 1


def test_ewma_decay_single_user_shuffle(spark):
    # the decay feature rides ONE user_id exchange: the groupBy reuses the
    # window's partitioning (subset rule), so shuffle volume is O(events)
    # once, never twice
    df = run(spark, "events_ewma_decay")
    assert P.count_shuffles(df) == 1


# -- late-r5 operators -------------------------------------------------------


def test_lr_logit_single_partial_agg_no_join(spark):
    # the "weight table" is a pure hash expression: no join anywhere, one
    # map-combined aggregate on the doc id
    df = run(spark, "quality_lr_logit")
    assert P.has_partial_aggregate(df)
    plan = P.executed_plan(df)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_model_is_broadcast_scoring_join(spark):
    # the <=1024-row model joins the exploded tokens by broadcast — the
    # corpus is never shuffled on the bucket key.  Pinned on the scoring
    # stage (dsir_scores): the rank's localCheckpoint cuts the final
    # plan above it, so the full frame no longer shows this join.
    from comlake_core_spark.operators.sampling import dsir_scores
    from comlake_core_spark.session import tables

    docs = tables(spark, SF, ["documents"])["documents"]
    scored = dsir_scores(docs, lambda d: d["lang"] == "en")
    scored.write.mode("overwrite").format("noop").save()
    assert P.has_broadcast_join(scored)
    assert "CartesianProduct" not in P.executed_plan(scored)
    assert "CartesianProduct" not in P.executed_plan(
        run(spark, "dsir_importance_resampling")
    )


def test_dsir_global_rank_no_single_partition_window(spark):
    # the top-n rank is global_row_number's range shuffle + map-only
    # offset decomposition, never row_number() over an unpartitioned
    # Window (VERDICT r12 #2 — the last named single-partition funnel)
    df = run(spark, "dsir_importance_resampling")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    assert "shiftright(_mid" in plan


def test_knn_graph_topk_rides_window_group_limit(spark):
    # per-direction top-k must prune before the shuffle; the all-pairs
    # scoring is a broadcast nested-loop, never a cartesian materialization
    df = run(spark, "embedding_knn_graph")
    assert P.has_window_group_limit(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_knn_graph_ivf_no_nested_loop(spark):
    # bucket-blocked candidates: the scoring join is an equi-join on the
    # bucket key (hash-partitioned), not a nested loop over all pairs
    df = run(spark, "embedding_knn_graph_ivf")
    plan = P.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert P.has_window_group_limit(df)


def test_common_spans_single_owner_shuffle_partial_agg(spark):
    # distinct-owner counting is map-combined on the span key; coverage
    # window + final agg share the doc id exchange
    df = run(spark, "dedup_common_spans")
    assert P.has_partial_aggregate(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_pca_gram_join_then_broadcast_iterations(spark):
    # the Gram build is the only corpus-sized join (equi on the row id);
    # every iteration round joins broadcast-sized frames
    df = run(spark, "embedding_pca_power")
    plan = P.executed_plan(df)
    assert P.has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_bpe_pair_counts_map_combined_argmax_take_ordered(spark):
    # pair counting is map-combined over the dictionary and the per-round
    # argmax fuses to TakeOrderedAndProject (top-1, no global sort).  The
    # 1-row broadcast that attaches each round's best pair sits inside the
    # per-round dictionary checkpoint, so the output plan shows the three
    # count/argmax stages over ExistingRDD scans.
    df = run(spark, "bpe_train_merges")
    assert P.has_partial_aggregate(df)
    assert P.has_take_ordered(df)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# r5 post-window wave
# ---------------------------------------------------------------------------


def test_boilerplate_strip_single_explode_shared_window_exchange(spark):
    # ONE corpus explode; the df-via-window (max(dense_rank)) and the
    # keep decision ride a single (source, line) sort-exchange; no join
    df = run(spark, "boilerplate_strip_source")
    plan = P.executed_plan(df)
    assert plan.count("Generate") == 1
    assert "Join" not in plan
    assert P.count_shuffles(df) <= 2  # (source,line) window + doc_id re-agg


def test_bloom_decontaminate_bitmap_is_map_side(spark):
    # the 1024-long bitmap is a plan literal: membership is map-side, the
    # only joins are the broadcast exact-audit probe; no shuffle joins
    df = run(spark, "decontaminate_bloom")
    plan = P.executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)


def test_lsh_edit_verify_cost_rides_candidates(spark):
    # the Levenshtein verify joins prefixes onto the LSH candidate pairs —
    # never a cartesian; the banding self-join stays an equi-join
    df = run(spark, "dedup_lsh_edit_verify")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_oov_rate_top_vocab_broadcast_take_ordered(spark):
    # top-V fuses to TakeOrderedAndProject over the aggregated vocab and
    # comes back as a broadcast; per-source rollup is map-combined
    df = run(spark, "vocab_oov_rate")
    assert P.has_take_ordered(df)
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)
    assert "SortMergeJoin" not in P.executed_plan(df)


def test_bigram_backoff_map_only_scoring_explode(spark):
    # the scoring side explodes (pos, term, prev) from the token array —
    # no lag window anywhere; count tables join in, totals broadcast
    df = run(spark, "text_bigram_backoff_logprob")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    assert P.has_partial_aggregate(df)


def test_matryoshka_single_scan_two_group_limits(spark):
    # one corpus scan scores both rankings; each top-k rides
    # WindowGroupLimit; the recall flag is an equi-join of two k·|Q| lists
    df = run(spark, "embedding_matryoshka_topk")
    assert P.has_window_group_limit(df)
    assert P.executed_plan(df).count("BroadcastNestedLoopJoin") <= 2


def test_hard_negatives_filter_on_edge_cosine_no_second_pipeline(spark):
    # the near-dup exclusion is a map-side filter on the kNN edge's own
    # exact cosine — no LSH dup pipeline, no anti-join
    df = run(spark, "embedding_hard_negatives")
    plan = P.executed_plan(df)
    assert "LeftAnti" not in plan
    assert P.has_window_group_limit(df)


def test_shard_assign_no_global_window_rank_is_map_side(spark):
    # the global rank must NOT be a single-partition window: range
    # repartition + monotonic-id decomposition + literal offset table
    df = run(spark, "shard_assign_balanced")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    # the checkpoint cuts the plan at ExistingRDD; the final plan must show
    # the MAP-SIDE rank decomposition (offset literal + shiftright on the
    # monotonic id), not any sort/window
    assert "shiftright(_mid" in plan
    assert P.has_partial_aggregate(df)


def test_pseudonymize_join_stays_equi_hash(spark):
    # tokenization is map-only; the token join is a hash equi-join with
    # map-combined aggregation after it
    df = run(spark, "pii_pseudonymize_consistent")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregate(df)


def test_winsorize_single_group_exchange(spark):
    # rank window, both bound windows, and the final agg all reuse ONE
    # hash exchange on the group key
    df = run(spark, "winsorize_events")
    assert P.count_shuffles(df) <= 2
    assert "CartesianProduct" not in P.executed_plan(df)


def test_k_anonymity_broadcast_dims_partial_agg(spark):
    # nation/region dims broadcast; each level is one map-combined agg
    df = run(spark, "k_anonymity_customers")
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)
    assert "SortMergeJoin" not in P.executed_plan(df)


def test_curriculum_order_no_global_window(spark):
    # same contract as shard_assign: the global position is range sort +
    # map-side monotonic-id decomposition, never a single-partition window
    df = run(spark, "curriculum_order_docs")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    assert "shiftright(_mid" in plan


# ---------------------------------------------------------------------------
# r5 post-window wave: corpus stats, LSH diagnostics, planning/audit,
# multimodal/embedding
# ---------------------------------------------------------------------------


def test_ngram_diversity_one_scan_partial_agg(spark):
    # all three gram orders are built row-locally from ONE documents scan;
    # the (source, n, gram) count is map-combined
    df = run(spark, "ngram_diversity_by_source")
    plan = P.executed_plan(df)
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2
    assert P.has_partial_aggregate(df)


def test_zipf_slope_top500_is_window_group_limit(spark):
    # the per-source top-500 cut must apply map-side before the exchange
    df = run(spark, "zipf_slope_by_source")
    assert P.has_window_group_limit(df)
    assert P.has_partial_aggregate(df)


def test_vocab_coverage_no_window_arrow_cumsum(spark):
    # the cumulative share comes from global_running_sum: range shuffle +
    # map-only Arrow pass, never a single-partition window
    df = run(spark, "vocab_coverage_thresholds")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    assert "MapInPandas" in plan


def test_mattr_row_local_no_explode(spark):
    # MATTR is sequence/array_distinct arithmetic inside the row — no
    # Generate node anywhere (the doc never explodes)
    df = run(spark, "text_mattr_by_source")
    assert "Generate" not in P.executed_plan(df)
    assert P.has_partial_aggregate(df)


def test_lsh_skew_audit_cheaper_than_the_join_it_audits(spark):
    # a (band,bucket) count + band rollup: two exchanges, no join at all
    df = run(spark, "lsh_bucket_skew_audit")
    plan = P.executed_plan(df)
    assert P.count_shuffles(df) <= 2
    assert "Join" not in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_calibration_bucket_join_no_cartesian(spark):
    # candidates come from the (band,bkey) equi-join; exact sets join back
    # for candidate ids only — never an all-pairs product
    df = run(spark, "minhash_estimate_calibration")
    assert "CartesianProduct" not in P.executed_plan(df)
    assert P.has_partial_aggregate(df)


def test_kmv_sketches_are_take_ordered(spark):
    # bottom-k = per-task local top-k merged on the driver side of the
    # exchange; the estimator never rescans the other table
    df = run(spark, "kmv_join_cardinality")
    assert P.has_take_ordered(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_zorder_audit_map_only_single_agg(spark):
    # interleave is codegen'd shift/mask arithmetic; one exchange total
    df = run(spark, "zorder_pruning_audit")
    assert P.count_shuffles(df) == 1
    assert "Generate" not in P.executed_plan(df)
    assert P.has_partial_aggregate(df)


def test_calibration_bins_equi_join_small_agg(spark):
    df = run(spark, "quality_calibration_bins")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert P.has_partial_aggregate(df)


def test_session_paths_windows_are_per_user_topn_take_ordered(spark):
    # the session window must be keyed by user (never a global window) and
    # the top-20 must fuse to TakeOrderedAndProject
    df = run(spark, "events_session_paths")
    plan = P.executed_plan(df)
    assert P.has_take_ordered(df)
    assert "partitionBy=[user_id" in plan.replace(" ", "") or "user_id" in plan


def test_image_phash_dedup_is_groupby_no_pairwise(spark):
    # perceptual dedup = Arrow decode/hash stages + ONE exact-dedup
    # exchange on the 64-bit hash; no join, no pairwise stage
    df = run(spark, "image_phash_neardup")
    plan = P.executed_plan(df)
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_centroid_drift_no_corpus_explode(spark):
    # the 64 component sums ride ONE map-combined aggregate over the scan;
    # the only Generate in the plan explodes the 64-term product array of
    # the #labels-row joined frame, never the corpus
    df = run(spark, "embedding_centroid_drift")
    assert P.has_partial_aggregate(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_sparse_cosine_posting_join_no_cartesian_topk_grouplimit(spark):
    # candidates only where a df-capped term co-occurs; per-query top-k
    # applies map-side
    df = run(spark, "sparse_cosine_topk_docs")
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert P.has_window_group_limit(df)


def test_burst_detection_single_user_exchange(spark):
    # the RANGE window and the per-user rollup share one user_id exchange
    df = run(spark, "events_burst_detection")
    assert P.count_shuffles(df) <= 2
    assert P.has_partial_aggregate(df)


def test_rfm_quartiles_no_single_partition_window(spark):
    # r13: the three ntile windows are replaced by global_row_number
    # ranks + exact NTILE arithmetic — the final plan must show the
    # map-side rank decomposition and NO window at all (the same
    # no-funnel rule as dsir/shard_assign/curriculum)
    df = run(spark, "orders_rfm_segmentation")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    assert "shiftright(_mid" in plan
    assert P.has_partial_aggregate(df)
    assert "CartesianProduct" not in plan


def test_wav_and_y4m_pipelines_are_arrow_map_only(spark):
    # encode -> decode/demux are chained mapInPandas stages; WAV adds no
    # shuffle at all, Y4M only the fanout (still map-only)
    for name in ("multimodal_wav_audio_stats", "multimodal_y4m_frame_sample"):
        df = run(spark, name)
        plan = P.executed_plan(df)
        assert "MapInPandas" in plan
        assert "Join" not in plan and "CartesianProduct" not in plan


def test_pareto_share_no_window_arrow_cumsum(spark):
    # second consumer of global_running_sum: same no-single-partition-
    # window contract as vocab_coverage
    df = run(spark, "orders_pareto_revenue_share")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    assert "MapInPandas" in plan


def test_dedup_normalized_single_digest_exchange(spark):
    # normalize is map-side; the only exchange is the digest groupBy
    df = run(spark, "dedup_exact_normalized")
    assert P.count_shuffles(df) <= 2
    assert P.has_partial_aggregate(df)


def test_segment_entropy_dimension_sized_aggs(spark):
    df = run(spark, "customer_segment_entropy")
    assert P.has_partial_aggregate(df)
    assert "CartesianProduct" not in P.executed_plan(df)


def test_dau_wau_partial_aggs(spark):
    df = run(spark, "events_dau_wau_stickiness")
    assert P.has_partial_aggregate(df)


def test_containment_prefix_no_cartesian_and_single_persist(spark):
    """The containment join (r15 redesign, VERDICT r14 #1) must stay
    equi-join-shaped — prefixes vs postings on the gram id, never pair
    enumeration — with the bounded candidate generation visible in the
    plan: the pair-keyed aggregate (the positional-filter group-min that
    prunes candidates BEFORE the verify joins attach anything) and the
    single ranked-postings checkpoint cut (the only materialization; the
    r8-r14 string-array cache and its eager-fill machinery are gone)."""
    df = REGISTRY["dedup_containment_prefix"].fn(spark, SF)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    # pair enumeration on corpus-sized inputs would need a nested-loop
    # join; the candidate path must stay keyed on the gram id
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    # no cache at all: the one materialized frame is the ranked-postings
    # lazy localCheckpoint, visible as a Scan ExistingRDD cut carrying
    # the (id, gram-id, rank, count) columns
    caches = re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)
    assert not caches, caches
    cuts = [re.sub(r"#\d+L?", "", c) for c in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)]
    assert any(c.startswith("_id,_gid,_rn,_gc") for c in cuts), cuts
    # the positional prune's pair-keyed aggregate runs before the verify
    # joins: a hash aggregate keyed (_src, _dst) must appear, and the
    # verify's array_intersect must sit above it
    assert re.search(r"HashAggregate.*keys=\[_src#\d+L?, _dst#\d+L?\]", plan), plan[:2000]
    assert "array_intersect" in plan


def test_pack_sequences_no_single_partition_window(spark):
    # r12: the pack prefix sum rides global_running_sum (range shuffle +
    # O(P) offsets + Arrow map pass) — the original global Window
    # degenerated to a single partition, the textbook 100 TB bottleneck
    df = run(spark, "pack_sequences")
    plan = P.executed_plan(df)
    assert "Window" not in plan
    assert "MapInPandas" in plan


def test_kneser_ney_lm_single_combined_cache(spark):
    """r12 one-explode fold, r14 form: the ONLY materialized LM frames
    are the combined (w1, w2, nullable-w3) type aggregate and the
    continuation rollup — since r14 they are lazy localCheckpoints (the
    A/B measured the columnar cache write as pure overhead), so they
    appear as Scan ExistingRDD cuts instead of InMemoryRelations.  The
    r11 regression this pins against materialized a separate bigram-type
    frame (a, b) from a SECOND corpus explode — a reappearing two-column
    (a, b) cut means the fold regressed to the double scan.  The only
    Generates left in the final plan must be the scoring-side explodes
    (the LM explode lives behind the combined cut and runs once)."""
    import re

    df = run(spark, "kneser_ney_logprob_docs")
    plan = P.executed_plan(df)
    cuts = {c for c in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)}
    norm = [re.sub(r"#\d+L?", "", c) for c in cuts]
    assert any(c.startswith("w1,w2,w3,_c3") for c in norm), cuts
    assert any("_n1bw" in c for c in norm), cuts
    assert not any(re.match(r"^a,b$", c) for c in norm), cuts
    caches = re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)
    assert not caches, caches  # the LM tables are checkpoint cuts, not caches
    assert len(re.findall(r"\bGenerate ", plan)) <= 2, plan[:2000]


def test_exact_substring_cut_gram_keyed_no_pairs(spark):
    """r13-staged ExactSubstr cutting: every exchange is keyed on the
    gram or the doc — no pair enumeration of any kind — and the one
    persisted frame is the DOC-LEVEL token-array base (the same
    cache-class rule as containment's)."""
    import re

    from comlake_core_spark.operators.dedup.spans import exact_substring_cut
    from comlake_core_spark.session import tables

    docs = tables(spark, SF, ["documents"])["documents"]
    df = exact_substring_cut(docs, span=8, min_docs=2)
    df.write.mode("overwrite").format("noop").save()
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregate(df)
    caches = {c for c in re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)}
    assert caches and all("_ts" in c for c in caches), caches


def test_paragraph_dedup_keyed_exchanges_only(spark):
    """r14-staged paragraph dedup: the canonical-occurrence choice is a
    map-combined MIN-struct aggregate (no window, so hot boilerplate
    paragraphs cannot pivot a single task), exchanges are keyed on the
    paragraph or the doc, and the one persisted frame is the DOC-LEVEL
    paragraph-array base."""
    import re

    from comlake_core_spark.operators.dedup.paragraphs import paragraph_dedup
    from comlake_core_spark.session import tables

    docs = tables(spark, SF, ["documents"])["documents"]
    df = paragraph_dedup(docs)
    df.write.mode("overwrite").format("noop").save()
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert P.has_partial_aggregate(df)
    caches = {c for c in re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)}
    assert caches and all("_ps" in c for c in caches), caches


def test_source_overlap_broadcast_counts_no_pairs(spark):
    """r14-staged source overlap: the S-row per-source type counts join
    by BROADCAST, the only self-join is gram-keyed (worst bucket S**2
    rows per gram type), and no document-pair stage exists."""
    from comlake_core_spark.operators.text.source_overlap import source_ngram_overlap
    from comlake_core_spark.session import tables

    docs = tables(spark, SF, ["documents"])["documents"]
    df = source_ngram_overlap(docs, n=3)
    df.write.mode("overwrite").format("noop").save()
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_broadcast_join(df)
    assert P.has_partial_aggregate(df)


def test_char_entropy_is_map_only(spark):
    """r14-staged entropy scoring must be pure map work: no exchange, no
    join, no explode-driven blowup — one JVM-side map stage over the
    scan."""
    from comlake_core_spark.operators.text.entropy import char_entropy
    from comlake_core_spark.session import tables

    docs = tables(spark, SF, ["documents"])["documents"]
    df = char_entropy(docs)
    df.write.mode("overwrite").format("noop").save()
    plan = P.executed_plan(df)
    assert P.count_shuffles(df) == 0
    assert "Join" not in plan
    # NOTE: no codegen assertion — the higher-order ArrayAggregate /
    # ArrayTransform expressions are interpreted (not codegen-able), but
    # the stage is still a single map over the scan


def test_soft_dedup_weights_exact_dedup_class(spark):
    """r14-staged soft weights: map-side fingerprint, ONE map-combined
    size aggregate, an equi-join back — the exact-dedup exchange class,
    no pair stage anywhere."""
    from comlake_core_spark.operators.dedup.softdedup import soft_dedup_weights
    from comlake_core_spark.session import tables

    docs = tables(spark, SF, ["documents"])["documents"]
    df = soft_dedup_weights(docs)
    df.write.mode("overwrite").format("noop").save()
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregate(df)


def test_funnel_union_of_tier_plans_no_pairs(spark):
    """r14-staged survivorship funnel: the union of the three tier
    aggregates adds nothing beyond the tiers' own exchanges — no pair
    stage, no nested loop anywhere in the combined plan."""
    from comlake_core_spark.operators.dedup.funnel import dedup_survivorship_funnel
    from comlake_core_spark.session import tables

    docs = tables(spark, SF, ["documents"])["documents"]
    df = dedup_survivorship_funnel(docs, span=8, min_docs=2)
    df.write.mode("overwrite").format("noop").save()
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregate(df)
