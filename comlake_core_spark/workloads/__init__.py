"""Driver-contract workload registry: named queries + DuckDB oracle SQL.

Each workload is a (spark_fn, oracle_sql) pair over the synthetic tables in a
scale-factor directory.  The driver runs both at sf0.01 and compares row
count + schema + order-insensitive value hash, so the two sides must agree
*bitwise* on values.  Engine-agreement discipline used throughout:

- **Sums are exact**: cast operands to DECIMAL before SUM (decimal arithmetic
  is exact and associative, so Spark's partial aggregation order can't change
  the result), then CAST the final sum to DOUBLE on both sides.
- **Per-row doubles are safe unrounded**: +,-,*,/ on identical doubles are
  IEEE-correctly-rounded in both engines, so row-level expressions match
  bitwise without rounding.
- **Averages** are computed as CAST(exact decimal sum AS DOUBLE) / COUNT —
  one double division of identical inputs.
- **Timestamps** are emitted as formatted strings (session TZ pinned to UTC).
- Every computed column is aliased identically in Spark and SQL (the driver
  sorts columns by name before hashing).
- **Quantization bridges the genuinely float-dependent ops**: where an
  operator's value passes through libm (ln in BM25) or an order-dependent
  float reduction (k-means centroid means, the weighted-mean UDAF), both
  engines round the SAME intermediate to a fixed decimal grid whose spacing
  is ~6 orders of magnitude above the worst-case ulp drift, then continue
  exactly (decimal sum / integer comparison). The rounding is part of the
  operator's contract, not a fuzzy tolerance — the final hash is still exact.
- **Hash-primitive parity**: sketches that default to xxhash64 (winnowing,
  IVF seeding) run their oracle workloads in md5 mode — same pipeline,
  swapped hash — because md5 is the one hash with an identical DuckDB twin;
  FNV-1a (SimHash) and sha256 (fake image codec) are recomputed IN SQL.

Query provenance: reference-parity entries cite the comlake.core behavior
they reproduce (file:line into /root/reference); extension entries implement
SURVEY.md §7 Phase 4 (aggregations, top-k, joins, windows, dedup, text,
similarity) — operators the reference deliberately lacks (SURVEY.md §2.4).
"""

from __future__ import annotations

from ._base import REGISTRY, Workload, workload, _t, dec  # noqa: F401

# Family modules; importing registers their workloads.  Import order is
# IRRELEVANT to the driver contract: REGISTRY is re-pinned below to the
# original monolith registration order.
from . import (  # noqa: E402,F401
    qast,
    catalog,
    relational,
    agg,
    text,
    dedup,
    similarity,
    sampling,
    temporal,
    streaming,
    multimodal,
    pipeline,
)

# ---------------------------------------------------------------------------
# Registration-order pin.  The monolithic workloads.py registered in source
# order; the split-by-family modules register in import order.  The driver's
# 50-entry window and every CORRECTNESS artifact key on the ORIGINAL order,
# so rebuild REGISTRY (in place — other modules hold references to the dict
# object) to the pinned sequence.  test_driver_window.py and
# test_driver_contract.py fail loudly if an entry is missing or reordered.
# ---------------------------------------------------------------------------
_REGISTRATION_ORDER: list[str] = [
    "qast_eq_filter",
    "qast_extract_regex",
    "qast_find_regex",
    "qast_arith_revenue",
    "qast_maths_composite",
    "qast_array_overlap",
    "extract_json_field",
    "catalog_find",
    "catalog_latest_revision",
    "agg_pricing_summary",
    "topk_orders",
    "topk_orders_per_segment",
    "join_revenue_by_nation",
    "distinct_event_users",
    "events_hourly",
    "window_running_sum",
    "part_brand_stats",
    "text_stats",
    "text_token_budget",
    "text_lang_id",
    "text_quality",
    "text_tfidf_top_terms",
    "text_top_bigrams",
    "bm25_search",
    "text_pmi_bigrams",
    "agg_grouping_sets",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_winnow",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "hybrid_search_rrf",
    "ann_ivf_kmeans_topk",
    "events_sessionize",
    "semi_join_orders_shipped_late",
    "anti_join_customers_no_final",
    "agg_rollup_flag_status",
    "events_props_sum",
    "multimodal_bytes_meta",
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_decode_features",
    "layout_partition_pruned_read",
    "streaming_hourly_events",
    "array_higher_order",
    "events_props_variant",
    "qast_string_concat",
    "qast_posix_regex",
    "qast_division_negation",
    "qast_json_path",
    "set_intersect_nations",
    "set_except_nations",
    "set_intersect_all_buyers",
    "set_except_all_buyers",
    "set_union_acct_holders",
    "agg_stats_manual",
    "window_lag_delta",
    "window_moving_avg",
    "sql_interface_shared_text",
    "fuzzy_customer_names",
    "unpivot_price_components",
    "window_percentile_ranks",
    "window_trailing_24h",
    "approx_distinct_users",
    "shipping_priority",
    "forecast_revenue",
    "agg_median_quantity",
    "agg_cube_status",
    "agg_corr_price_qty",
    "pivot_status_by_priority",
    "explode_token_counts",
    "string_functions",
    "date_functions",
    "full_outer_nation_presence",
    "window_ranks",
    "array_functions",
    "zscore_events",
    "zscore_events_pandas",
    "top_customers_by_returns",
    "catalog_find_real",
    "source_read_real",
    "schema_infer_csv_real",
    "udaf_weighted_mean",
    "pipeline_clean_corpus",
    "chunk_documents",
    "pack_sequences",
    "pipeline_chunk_dedup_pack",
    "pii_redact_customers",
    "join_local_supplier_volume",
    "promo_revenue_ratio",
    "small_qty_order_revenue",
    "large_order_customers",
    "disjunctive_filter_revenue",
    "idle_rich_customers",
    "asof_last_purchase",
    "range_join_clicks_after_purchase",
    "events_daily_rollup",
    "events_gapfill_locf",
    "salted_join_revenue",
    "train_test_split_counts",
    "dq_orders_checks",
    "stratified_sample_orders",
    "incremental_rollup_events",
    "bloom_pruned_join",
    "volume_shipping_pairs",
    "market_share_by_year",
    "profit_by_nation_year",
    "customer_order_distribution",
    "top_supplier_by_revenue",
    "sole_returning_supplier",
    "late_lines_by_priority",
    "agg_argmax_order",
    "string_agg_nations",
    "join_null_safe",
    "histogram_totalprice",
    "union_by_name_evolution",
    "agg_filtered_counts",
    "recursive_cte_month_spine",
    "lateral_top_order",
    "map_functions_pipeline",
    "funnel_view_click_purchase",
    "retention_weekly_cohorts",
    "token_budget_admit",
    "events_sliding_windows",
    "heavy_hitters_event_types",
    "decontaminate_train_eval",
    "text_repetition_filter",
    "scd2_event_type_history",
    "time_weighted_avg_value",
    "min_unit_price_supplier",
    "important_part_values",
    "supplier_count_by_part_attrs",
    "excess_volume_suppliers",
    "corpus_ngram_novelty",
    "jaccard_topk_similar_docs",
    "embedding_quantize_int8",
    "dedup_canonical_docs",
    "streaming_dedup_users",
    "dedup_incremental_batch",
    "streaming_interval_join",
    "streaming_running_totals",
    "text_unigram_logprob",
    "cdc_merge_orders",
    "text_feature_hashing",
    "udtf_top_terms",
    "dedup_graph_triangles",
    "server_find_real",
    "extract_parquet_real",
    "analyze_orders_profile",
    "streaming_matview_events",
    "embedding_pq_codes",
    "ann_pq_adc_topk",
    "contrastive_negative_samples",
    "ann_ivfpq_topk",
    "mixture_resample_corpus",
    "streaming_sessionize_users",
    "ols_trend_by_nation",
    "semantic_dedup_embeddings",
    "leakage_safe_split_docs",
    "ann_recall_at_k",
    "pipeline_pretrain_corpus",
    "approx_quantiles_prices",
    "quality_gopher_rules",
    "url_normalize_dedup",
    "docs_length_buckets",
    "events_ewma_decay",
    "dedup_lines_corpus",
    "mad_outlier_events",
    "weighted_sample_docs",
    "pagerank_dedup_graph",
    "quality_lr_logit",
    "dedup_graph_bfs_depth",
    "embedding_knn_graph",
    "dedup_common_spans",
    "dsir_importance_resampling",
    "source_token_js",
    "bpe_train_merges",
    "embedding_pca_power",
    "embedding_knn_graph_ivf",
    "bpe_apply_fertility",
    "boilerplate_strip_source",
    "decontaminate_bloom",
    "dedup_lsh_edit_verify",
    "vocab_oov_rate",
    "text_bigram_backoff_logprob",
    "embedding_matryoshka_topk",
    "embedding_hard_negatives",
    "shard_assign_balanced",
    "pii_pseudonymize_consistent",
    "temperature_mixture_langs",
    "winsorize_events",
    "k_anonymity_customers",
    "curriculum_order_docs",
    "ngram_diversity_by_source",
    "zipf_slope_by_source",
    "vocab_coverage_thresholds",
    "text_mattr_by_source",
    "lsh_bucket_skew_audit",
    "minhash_estimate_calibration",
    "kmv_join_cardinality",
    "zorder_pruning_audit",
    "quality_calibration_bins",
    "events_session_paths",
    "image_phash_neardup",
    "embedding_centroid_drift",
    "text_hapax_ratio",
    "join_skew_audit",
    "packing_efficiency_stats",
    "catalog_snapshot_diff_real",
    "multimodal_wav_audio_stats",
    "multimodal_y4m_frame_sample",
    "events_burst_detection",
    "orders_rfm_segmentation",
    "sparse_cosine_topk_docs",
    "events_dau_wau_stickiness",
    "orders_pareto_revenue_share",
    "dedup_exact_normalized",
    "customer_segment_entropy",
    # -- r7-staged registrations (built + oracle-proven during the r6
    #    freeze; the r7 round registered them in the family modules but
    #    forgot this list — VERDICT r7 "the gate produced nothing") --
    "doremi_source_weights",
    "embedding_knn_graph_ivf2",
    "kneser_ney_logprob_docs",
    "streaming_neardup_index",
    "unigram_lm_seed",
    # -- r8 registrations --
    "pretrain_pipeline_v2",
    "dedup_containment_prefix",
    "text_topgram_char_fraction",
    "train_test_ngram_leakage",
    "embedding_norm_health",
    "asof_next_view_after_purchase",
    "market_basket_lift",
    "events_markov_transitions",
    "text_sentence_stats",
    "text_code_detection",
    "dedup_header_footer_boilerplate",
    "ann_ivf2_topk",
    # -- r11 registrations (staged during r10, tests/test_langseg.py) --
    "language_segments",
    "dominant_language_share",
    # -- r12 registrations (staged during r11, tests/test_r12_staged.py) --
    "langseg_quality_route",
    "token_budget_fill",
    # -- r13 registrations (staged during r12, tests/test_r13_staged.py) --
    "exact_substring_cut",
    "kn_discount_estimate",
    # -- r14 registrations (staged during r13, tests/test_r14_staged.py) --
    "dedup_paragraphs_corpus",
    "dedup_soft_weights",
    "dedup_survivorship_funnel",
    "text_char_entropy",
    "source_ngram_overlap_matrix",
]

_snap = dict(REGISTRY)
assert set(_snap) == set(_REGISTRATION_ORDER), (
    sorted(set(_snap) ^ set(_REGISTRATION_ORDER))
)
REGISTRY.clear()
for _n in _REGISTRATION_ORDER:
    REGISTRY[_n] = _snap[_n]
del _snap, _n




# ---------------------------------------------------------------------------
# Driver-window curation (VERDICT r2 "Next round" #1)
#
# The external driver verifies only the FIRST 50 entries of __spark_entry__
# .queries() (insertion order) per round.  Rounds 1-2 both presented the same
# first 50 registrations, so 110 workloads had only local-mirror evidence.
# DRIVER_WINDOW rotates the window each round: ~10 sentinels pin the already
# driver-green core (one per operator family), and the remaining ~40 slots
# carry never-driver-seen workloads.  Names not listed follow in original
# registration order, so the full registry is always exposed.
#
# Rotation log (append a line per round; used to pick the next window):
#   r1-r2: registration order (names 0-49 of the original ordering)
#   r3:    9 sentinels + 41 first-timers — TPC-H suite, temporal,
#          PQ/IVF-PQ, CDC, sampling, streaming, sketches, incremental
#          dedup, jaccard/approx promotions, multimodal_jpeg_decode
#   r4:    5 sentinels + 45 first-timers — window-function family, set ops,
#          scalar-function families (string/date/array/map), pivot/unpivot,
#          udaf/udtf, the five `_real` integration entries, the r3
#          capstones (semantic dedup, leakage split, ANN recall, pretrain
#          pipeline, GK quantiles), joins/agg extras, funnel/retention.
#   r5:    FINAL rotation — 3 core sentinels + the 28 never-seen remainder
#          + array_functions (r4's one red row, output reshaped to scalar
#          vocab string) + the 18 NEW r5 workloads (never-seen by
#          definition; the 10 late-r5 additions displaced all 8 r4-green
#          family sentinels plus the join_revenue_by_nation and
#          dedup_minhash_lsh core pins — all keep earlier driver
#          evidence, and both families keep other window reps).  Closes
#          the registry as of window-freeze (184 workloads): every one of
#          them driver-verified at least once after this round.
#   r5+:   38 post-window additions (registered AFTER the r5 window froze,
#          so they are r6-window fodder by construction): the
#          candidate-gen/verify + hygiene wave — boilerplate_strip_source,
#          decontaminate_bloom, dedup_lsh_edit_verify, vocab_oov_rate,
#          text_bigram_backoff_logprob, embedding_matryoshka_topk,
#          embedding_hard_negatives, shard_assign_balanced,
#          pii_pseudonymize_consistent, temperature_mixture_langs,
#          winsorize_events, k_anonymity_customers, curriculum_order_docs —
#          and the corpus-statistics wave — ngram_diversity_by_source,
#          zipf_slope_by_source, vocab_coverage_thresholds,
#          text_mattr_by_source — and the portable-LSH diagnostics —
#          lsh_bucket_skew_audit, minhash_estimate_calibration — and the
#          planning/audit wave — kmv_join_cardinality,
#          zorder_pruning_audit, quality_calibration_bins,
#          events_session_paths — and the multimodal/embedding pair —
#          image_phash_neardup, embedding_centroid_drift — and the
#          audit/hygiene tail — text_hapax_ratio, join_skew_audit,
#          packing_efficiency_stats, catalog_snapshot_diff_real — the
#          codec-parity pair — multimodal_wav_audio_stats,
#          multimodal_y4m_frame_sample — and the analytics tail —
#          events_burst_detection, orders_rfm_segmentation,
#          sparse_cosine_topk_docs — and the engagement/distribution
#          quartet — events_dau_wau_stickiness,
#          orders_pareto_revenue_share, dedup_exact_normalized,
#          customer_segment_entropy.
#          (The original plan text said "40"; the true post-window count
#          is 38 = 222 registered − 184 cumulatively driver-seen —
#          VERDICT r5 doc-nit #4, fixed here and pinned by
#          test_rotation_log_count_matches_registry.)
#   r6:    CORRECTNESS_r05 landed 50/50 green, so the rotation applies:
#          r6 window = 10 family sentinels (qast_eq_filter, catalog_find,
#          streaming_hourly_events, dedup_minhash_lsh,
#          join_revenue_by_nation, ann_recall_at_k,
#          semantic_dedup_embeddings, multimodal_jpeg_decode,
#          approx_quantiles_prices, catalog_find_real) + 2 discretionary
#          re-greens whose code changed since their last driver row
#          (jaccard_topk_similar_docs — r5 de-persist;
#          embedding_knn_graph_ivf — re-registered this round in the
#          scaled-codebook target_bucket_size regime, VERDICT r5 #2)
#          + ALL 38 never-driver-seen post-window names = 50 exactly.
#          The registry is FROZEN at 222 until CORRECTNESS_r06 lands
#          (test_registry_frozen_for_r6): new operators built in r6 ship
#          as code + pytest only and register in r7.  All 38 pass the
#          oracle mirror at sf0.001 AND the driver-style pandas
#          canonicalizer (scripts/driver_sim.py) at the driver's sf0.01
#          locally.  50/50 green ⇒ cumulative 222/222 driver-verified.
#   r7 STAGING (operators built + tested during the r6 freeze, each with
#          a proven-but-unregistered oracle in tests/test_r7_pipeline_ops
#          .py — registration is copy-paste once CORRECTNESS_r06 lands):
#          doremi_source_weights (sampling.doremi_domain_weights; unrolled
#          3-round SQL staged, bit-exact), kneser_ney_logprob_docs
#          (text.kneser_ney_trigram_logprob; even-trains-odd SQL staged,
#          bit-exact), embedding_knn_graph_ivf2 (mutual_knn_graph
#          assignment='two_level' coarse_probe=4; full hierarchical SQL
#          staged, bit-exact), and unigram_lm_train/-segment (Viterbi DP —
#          not SQL-expressible, register rows-only or keep pytest-gated).
#          After r06 lands, the standard rotation resumes: ~10 sentinels +
#          the new registrations + re-greens of anything whose code moved.
#   r7:    REGRESSION — the five staged workloads were registered in the
#          family modules but never appended to _REGISTRATION_ORDER, so
#          the import-time set-equality assertion made the whole package
#          unimportable: CORRECTNESS_r07.json is empty, BENCH_r07 rc=1.
#          No driver evidence was produced; cumulative stays 222/222.
#   r8:    registration repaired (the five names appended above).  Window
#          = 10 family sentinels + the 5 r7-staged names + the 12 r8
#          registrations (pretrain_pipeline_v2, dedup_containment_prefix,
#          text_topgram_char_fraction, train_test_ngram_leakage,
#          embedding_norm_health, asof_next_view_after_purchase,
#          market_basket_lift, events_markov_transitions,
#          text_sentence_stats, text_code_detection,
#          dedup_header_footer_boilerplate, ann_ivf2_topk) + re-greens from the r6 window filling
#          remaining slots.  Together those are the
#          17 never-driver-seen post-window additions as of this rotation
#          — ALL of them are IN the window, so a green round closes the
#          evidence gap again (cumulative 222 driver-verified + the
#          window first-timers).
# ---------------------------------------------------------------------------
#   r9:    registry CLOSED at 239/239 cumulative driver-verified (r8 went
#          50/50), so the rotation switches to EVIDENCE FRESHNESS
#          (VERDICT r8 "Next round" #6): a workload is STALE when an
#          engine module its fn imports (operators/*, streaming/*,
#          qast/*, catalog/*, server — NOT its workloads/*.py
#          registration file, which is appended every round, nor
#          session.py config churn) has a commit newer than the
#          workload's newest green CORRECTNESS row.  108 of 239 are
#          stale at rotation time (tests/test_driver_window.py
#          stale_names()).  Window = 10 family sentinels + the 4
#          workloads whose engine code r9 itself changed
#          (dedup_containment_prefix: max_df cap + epsilon ceil;
#          kneser_ney_logprob_docs / pretrain_pipeline_v2: type-table
#          scoring; server_find_real: catalog pointer refactor + DuckDB
#          find tier) + the 36 longest-unverified stale names (oldest
#          green row first — r1/r2-era greens on operator modules that
#          changed in r7/r8).  42 of the 50 slots carry stale evidence;
#          the remaining 66 stale names roll to r10's window.
#   r10:   stale burn-down continues (VERDICT r9 "Next round" #1): 99 of
#          239 are stale at rotation time — r9 went 50/50 green but the
#          r10 split of operators/dedup.py and operators/similarity.py
#          into per-family packages (commit 429fd38) re-dated every
#          submodule, re-staling their consumers.  Workloads now import
#          the SPECIFIC submodule (operators/dedup/containment.py, not
#          the package __init__), so this is the last whole-family
#          re-stale; future one-function edits stale only that file's
#          consumers (VERDICT r9 #2).  Window = 6 must-verify slots —
#          server_find_real (fresh, but r10 edits server.py/findsql.py
#          for the residual find tier, VERDICT r9 #4) +
#          dedup_containment_prefix (containment.py stop-array reshape,
#          #3) + ann_ivf2_topk / ann_recall_at_k / embedding_knn_graph_
#          ivf / _ivf2 (ivf.py checkpoint storage-level change — the
#          DISK_ONLY pin, measured worse and REVERTED to MEMORY_AND_DISK
#          within r10, #5) — + the 44
#          oldest-green stale names (the complete t≤1786775878 backlog:
#          temporal/streaming/sampling r3-era greens and the r4-era
#          graph/pipeline/text families).  49/50 slots carry stale
#          evidence; ~50 stale names roll to r11's window.
#   r11 STAGING (built during r10, ships as code + pytest — the r7
#          pattern): language_segments / dominant_language_share
#          (operators/langseg.py, CCNet-style per-line language
#          segmentation; the DuckDB oracle is staged bit-exact in
#          tests/test_langseg.py STAGED_ORACLE_SQL — registration is
#          copy-paste once CORRECTNESS_r10 lands).
#   r11:   CORRECTNESS_r10 landed 50/50, so the staged pair REGISTERS
#          (registry 239 → 241; the 2 never-driver-seen post-window names
#          are language_segments / dominant_language_share, both in this
#          window by construction).  Stale burn-down continues: 54 of 239
#          prior names are stale at rotation time (r10's artifact greened
#          its window; the backlog is the r5+/r8-era tail).  Window = the
#          2 langseg first-timers + 5 must-verify slots whose engine code
#          r11 itself changes — dedup_containment_prefix (containment.py
#          hot-gram pass fused into the shingling aggregate, VERDICT r10
#          #4) and the 4 qast compiler consumers (qast_arith_revenue /
#          _string_concat / _division_negation / _json_path — compiler.py
#          regex-probe FutureWarning wrap, #8; all 4 already stale) — +
#          the 43 oldest-green remaining stale names.  50/50 slots carry
#          stale-or-never-seen evidence; 7 stale names roll to r12
#          (dedup_simhash, dedup_winnow, embedding_pq_codes,
#          hybrid_search_rrf, mixture_resample_corpus,
#          pretrain_pipeline_v2, semantic_dedup_embeddings).
#          operators/text.py (46 consumers, the one remaining monolith)
#          is deliberately FROZEN this round so the backlog shrinks
#          monotonically; its per-family split + the Kneser-Ney type-fold
#          are r12 work where the window can absorb the one-time
#          re-stale (VERDICT r10 #5 fallback path: SCALING.md carries the
#          measured KN analysis instead).
#   r12 STAGING (built during r11, ships as code + pytest — the r7/r11
#          pattern): langseg_quality_route (operators/langseg.py — the
#          CCNet segment→filter→reassemble composition) and
#          token_budget_fill (operators/budget_fill.py — deterministic
#          greedy prefix fill of an absolute token budget with
#          per-source caps, global phase via global_running_sum); both
#          DuckDB oracles staged bit-exact in tests/test_r12_staged.py —
#          registration is copy-paste once CORRECTNESS_r11 lands.  The
#          r12 plan beyond registration: split operators/text.py into
#          per-family submodules (the last monolith; its one-time
#          re-stale of ~31 out-of-window consumers fits the r12 window
#          together with the 7 r11 rollovers), folding in the KN
#          single-pass LM explode + count-1 type fold measured in
#          SCALING.md r11.
#   r12:   CORRECTNESS_r11 landed 50/50, so the staged pair REGISTERS
#          (registry 241 → 243; the 2 never-driver-seen post-window
#          names are langseg_quality_route / token_budget_fill, both in
#          this window by construction).  The text split landed as
#          planned and the stale set at rotation time is 75 of 243 —
#          larger than the r11 projection because the round's OWN
#          engine edits re-staled 7 just-greened names (the qast
#          regex-advisory fix touched compiler.py/interp.py → 4 qast
#          consumers; the containment cap-probe reshape →
#          dedup_containment_prefix; langseg.py's submodule-import line
#          → the 2 langseg names), all judge-directed ADVICE/verdict
#          work.  Window = the 2 first-timers + those 7 must-verify
#          names + the complete 16-name oldest wave (the r11 mid-round
#          re-stales incl. all 7 named rollovers and the KN-fold
#          consumers kneser_ney_logprob_docs / pretrain_pipeline_v2) +
#          25 of the 28-name middle wave.  25 stale names roll to r13
#          (3 middle-wave split-only re-stales: array_functions,
#          explode_token_counts, weighted_sample_docs — their text
#          import is `tokens` alone — plus the 22 newest-wave names
#          whose engine change is the split move itself); the r11
#          "stale ≤ 20 at r12 HEAD" target is missed by 5, traceable
#          exactly to the ADVICE-fix re-stale wave above.
#   r13 STAGING (built during r12, ships as code + pytest — the
#          r7/r11/r12 pattern): exact_substring_cut
#          (operators/dedup/spans.py — Lee et al. 2022 ExactSubstr span
#          CUTTING, the dedup action common_span_coverage only accounts
#          for) and kn_discount_estimate (operators/text/kneser_ney.py
#          kn_singleton_stats — trigram count-of-counts + Chen &
#          Goodman discount); both DuckDB oracles staged bit-exact in
#          tests/test_r13_staged.py with seeded random-fixture twins,
#          plan pins in test_plans.py, and x8/x10 scale points in
#          SCALING.md (scale_curve CUSTOM_OPS `*_staged` entries) —
#          registration is copy-paste once CORRECTNESS_r12 lands.
#          Also queued for r13, where the sampling family can ride the
#          window: replace dsir_weights' corpus-sized single-partition
#          row_number (operators/sampling.py:463) with
#          global_row_number — deferred from r12 because editing
#          sampling.py would have re-staled ~10 r11-greened direct
#          importers outside the frozen window.
#   r13:   CORRECTNESS_r12 landed 50/50, so the staged pair REGISTERS
#          (registry 243 → 245; the 2 never-driver-seen post-window
#          names are exact_substring_cut / kn_discount_estimate, both in
#          this window by construction).  The queued dsir swap landed:
#          dsir_weights' single-partition row_number is replaced by
#          global_row_number (operators/sampling.py — the last named
#          scale-killer, VERDICT r12 #2), re-staling the 15 sampling.py
#          consumers; the round's other judge-directed engine edits
#          re-stale their consumers too (kneser_ney.py discount zero
#          guard → 2 KN names; spans.py cache-lifetime contract → 2
#          span names; qast compiler/interp advisory filter → lock +
#          catch_warnings helper → 4 qast names; containment.py premium
#          work → dedup_containment_prefix; server.py find-tier work →
#          server_find_real).  Window = the 2 first-timers + those 24
#          must-verify re-stales (19 outside the rollover set) + the
#          complete 25-name r12 rollover (5 of them double as sampling
#          re-stales) = 46 forced names + 4 family sentinels
#          (qast_eq_filter, catalog_find, join_revenue_by_nation,
#          multimodal_jpeg_decode).  A green round leaves stale = 0 for
#          the first time since the freshness rotation began in r9.
#   r14 STAGING (built during r13, ships as code + pytest — the
#          r7/r11/r12/r13 pattern): dedup_paragraphs_corpus
#          (operators/dedup/paragraphs.py — corpus-wide exact paragraph
#          dedup, first occurrence wins; the Dolma/C4 paragraph tier
#          between document dedup and exact_substring_cut's span
#          cutting) and source_ngram_overlap_matrix
#          (operators/text/source_overlap.py — ordered-pair n-gram
#          TYPE containment between sources, the corpus-composition
#          audit of Dolma / "What's In My Big Data?"), plus a second
#          pair: text_char_entropy (operators/text/entropy.py —
#          row-local character-entropy quality scoring, log2 on the
#          1e-12 quantize grid) and dedup_soft_weights
#          (operators/dedup/softdedup.py — SoftDeDup inverse-
#          duplication sampling weights over exact clusters), and the
#          composition capstone dedup_survivorship_funnel
#          (operators/dedup/funnel.py — the per-tier exact/paragraph/
#          span accounting report of Lee et al. 2022 / the Dolma
#          datasheet, each tier independent on the raw corpus); all
#          five DuckDB oracles staged bit-exact in tests/test_r14_staged.py
#          with brute-force twins and seeded random-fixture agreement —
#          registration is copy-paste once CORRECTNESS_r13 lands, and
#          the r14 window (stale ~0 after a green r13) has capacity for
#          five first-timers plus re-greens.
#   r14:   CORRECTNESS_r13 landed 50/50, so the five staged operators
#          REGISTER (registry 245 → 250; the 5 never-driver-seen post-window
#          names are dedup_paragraphs_corpus /
#          dedup_soft_weights / dedup_survivorship_funnel /
#          text_char_entropy / source_ngram_overlap_matrix, all in this
#          window by construction).  Stale burn-down is COMPLETE but for
#          one name: orders_rfm_segmentation's ntile→global_row_number
#          swap (commit c93eaf9) landed after the r13 window froze, so
#          it LEADS this window (VERDICT r13 #3).  The round's own
#          engine edits re-stale two more: containment.py (ADVICE r13
#          eager-fill cache order) → dedup_containment_prefix, and
#          findsql.py (ADVICE r13 cache-mutation lock) →
#          server_find_real.  With no other stale names, the remaining
#          42 slots switch to LONGEST-UNVERIFIED re-greens: the complete
#          r2-green and r3-green cohorts (18 + 21 names — qast regex/
#          maths, TPC-H suite, events/aggregation core) plus the 3
#          oldest r4-era names (agg_argmax_order, agg_corr_price_qty,
#          agg_cube_status), so the oldest evidence in the registry
#          advances from r2 to r4.
#   r16:   CORRECTNESS_r14 and CORRECTNESS_r15 both landed 50/50 on the
#          r14 window (r15 re-ran it unrotated).  56 of 250 are stale at
#          rotation time, all staled by engine edits made after the r14
#          window froze: the r15 snapshot (commit 7f3e460 — sampling.py
#          15 consumers, minhash.py 10, corpus_stats.py 6, plus graph /
#          jaccard / spans / retrieval / kneser_ney / lm / bpe /
#          vectorize / pca / drift) stales 47 of them; the other 9 are
#          staled by r14 optimization commits alone (8483845: the
#          knn.py / pq.py consumers; 3544d94: dedup_simhash).  Window =
#          the 46 oldest-green stale names (green in r10, r11, r12, then
#          the r13 cohort in registration order) + 4 family sentinels
#          (qast_eq_filter, catalog_find, join_revenue_by_nation,
#          multimodal_jpeg_decode).  10 stale names roll to the next
#          window: vocab_coverage_thresholds, text_mattr_by_source,
#          sparse_cosine_topk_docs, orders_pareto_revenue_share,
#          doremi_source_weights, kneser_ney_logprob_docs,
#          pretrain_pipeline_v2, train_test_ngram_leakage,
#          exact_substring_cut, kn_discount_estimate.  The r15-staged
#          pair stays unregistered (registry still 250).
# ---------------------------------------------------------------------------

DRIVER_WINDOW: list[str] = [
    # -- stale, oldest green first: r10 greens (pq.py / knn.py / pca.py) --
    "embedding_quantize_int8",
    "embedding_knn_graph",
    "embedding_pca_power",
    "embedding_knn_graph_ivf",
    "embedding_knn_graph_ivf2",
    # -- r11 greens (pq.py / knn.py / drift.py) --
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "embedding_hard_negatives",
    "embedding_centroid_drift",
    # -- r12 greens (retrieval / simhash / jaccard / corpus_stats /
    #    minhash / lm / vectorize / pq / graph / bpe) --
    "text_tfidf_top_terms",
    "bm25_search",
    "dedup_simhash",
    "decontaminate_train_eval",
    "corpus_ngram_novelty",
    "dedup_canonical_docs",
    "text_unigram_logprob",
    "text_feature_hashing",
    "dedup_graph_triangles",
    "embedding_pq_codes",
    "pagerank_dedup_graph",
    "dedup_graph_bfs_depth",
    "source_token_js",
    "bpe_train_merges",
    "bpe_apply_fertility",
    # -- r13 greens, registration order (22 of 32; the rest roll over) --
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_winnow",
    "train_test_split_counts",
    "stratified_sample_orders",
    "jaccard_topk_similar_docs",
    "dedup_incremental_batch",
    "contrastive_negative_samples",
    "mixture_resample_corpus",
    "leakage_safe_split_docs",
    "pipeline_pretrain_corpus",
    "weighted_sample_docs",
    "dedup_common_spans",
    "dsir_importance_resampling",
    "vocab_oov_rate",
    "text_bigram_backoff_logprob",
    "shard_assign_balanced",
    "temperature_mixture_langs",
    "curriculum_order_docs",
    "ngram_diversity_by_source",
    "zipf_slope_by_source",
    # -- family sentinels (fresh, driver-green) --
    "qast_eq_filter",
    "catalog_find",
    "join_revenue_by_nation",
    "multimodal_jpeg_decode",
]




def ordered_names() -> list[str]:
    """Registry names with DRIVER_WINDOW first, then the rest in original
    registration order.  __spark_entry__ builds queries()/oracle_sql() in
    this order so the driver's 50-entry window is the curated one."""
    window = [n for n in DRIVER_WINDOW if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(window)]
    return window + rest
