#!/usr/bin/env python
"""Benchmark harness: runs the headline workloads at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with the noop sink (full computation, no driver
collect overhead). Every headline workload is first warmed at sf0.001 so
the timed sf0.1 runs measure steady-state data processing: the warmup
absorbs JVM startup, Catalyst analysis of each plan shape, whole-stage
codegen compilation (cached by generated source, which is path-independent),
and Python/Arrow UDF worker spin-up — one-time costs that are noise at this
scale and irrelevant at cluster scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from comlake_core_spark.session import get_spark, release_materialized
from comlake_core_spark.workloads import REGISTRY

HEADLINE = [
    "qast_eq_filter",
    "qast_arith_revenue",
    "catalog_find",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "semi_join_orders_shipped_late",
    "join_local_supplier_volume",
    "large_order_customers",
    "disjunctive_filter_revenue",
    "topk_orders_per_segment",
    "distinct_event_users",
    "events_hourly",
    "events_sessionize",
    "asof_last_purchase",
    "range_join_clicks_after_purchase",
    "bloom_pruned_join",
    "incremental_rollup_events",
    "window_running_sum",
    "window_moving_avg",
    "agg_rollup_flag_status",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_winnow",
    "text_stats",
    "text_lang_id",
    "text_tfidf_top_terms",
    "text_top_bigrams",
    "text_pmi_bigrams",
    "bm25_search",
    "events_gapfill_locf",
    "dq_orders_checks",
    "stratified_sample_orders",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "multimodal_decode_features",
    "pipeline_clean_corpus",
    "pii_redact_customers",
    "udaf_weighted_mean",
    "hybrid_search_rrf",
    "min_unit_price_supplier",
    "important_part_values",
    "supplier_count_by_part_attrs",
    "excess_volume_suppliers",
    "corpus_ngram_novelty",
    "jaccard_topk_similar_docs",
    "embedding_quantize_int8",
    "dedup_canonical_docs",
    "dedup_incremental_batch",
    "text_unigram_logprob",
    "text_feature_hashing",
    "cdc_merge_orders",
    "analyze_orders_profile",
    "dedup_graph_triangles",
    "embedding_pq_codes",
    "ann_pq_adc_topk",
    "multimodal_jpeg_decode",
    "semantic_dedup_embeddings",
    "leakage_safe_split_docs",
    "pipeline_pretrain_corpus",
    "quality_gopher_rules",
    "url_normalize_dedup",
    "docs_length_buckets",
    "events_ewma_decay",
    "dedup_lines_corpus",
    "mad_outlier_events",
    "weighted_sample_docs",
    "pagerank_dedup_graph",
    "quality_lr_logit",
    "dsir_importance_resampling",
    "source_token_js",
    "bpe_train_merges",
    "boilerplate_strip_source",
    "decontaminate_bloom",
    "dedup_lsh_edit_verify",
    "vocab_oov_rate",
    "text_bigram_backoff_logprob",
    "embedding_matryoshka_topk",
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
    "multimodal_wav_audio_stats",
    "multimodal_y4m_frame_sample",
    "events_burst_detection",
    "orders_rfm_segmentation",
    "sparse_cosine_topk_docs",
    "events_dau_wau_stickiness",
    "orders_pareto_revenue_share",
    "dedup_exact_normalized",
    "customer_segment_entropy",
    # r6: the kNN-graph IVF build joined the headline the round it moved
    # to the scaled-codebook regime (codebook ∝ corpus ⇒ ~linear build) —
    # the plan the driver now sees is one worth timing at sf0.1
    "embedding_knn_graph_ivf",
    # r8: the repaired r7 registrations + the composed pipeline — all
    # batch plans worth a sf0.1 median (streaming_neardup_index is
    # excluded below with the rest of the streaming family)
    "doremi_source_weights",
    "embedding_knn_graph_ivf2",
    "kneser_ney_logprob_docs",
    "unigram_lm_seed",
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
]
# Deliberately NOT in the headline set: the exact/quadratic graph builds
# (embedding_knn_graph, embedding_hard_negatives,
# dedup_graph_bfs_depth, dedup_common_spans, embedding_pca_power,
# bpe_apply_fertility) — their performance story is the measured 1x-8x
# curves in SCALING.md, where the quadratic-vs-linear regime is the point;
# a single sf0.1 median would only bloat the artifact the driver captures.
#
# BENCH-EXCLUDED accounting (VERDICT r6 #8 / r7 "Next round" #7): the
# registered workloads NOT timed here fall into exactly these classes —
# (a) streaming / stateful-restart workloads whose wall time is trigger
#     scheduling, not data processing (streaming family);
# (b) `_real`-suffixed integration workloads that stand up HTTP servers,
#     content stores, or catalog fixtures (their cost is the fixture);
# (c) scaling-curve diagnostics measured in SCALING.md's 1x-8x sweeps
#     (quadratic baselines kept only as the regime comparison);
# (d) sub-second oracle/self-check variants of an already-timed plan
#     (calibration, golden-value, and property-check forms), where a
#     second median would time the same physical plan twice.
# The count is staleness-pinned by tests/test_driver_contract.py::
# test_bench_exclusion_note_current against len(REGISTRY)-len(HEADLINE).

# Spread attribution (VERDICT r5 "Next round" #4): the r5 outlier spreads
# (sparse_cosine_topk_docs [2.8, 12.6], orders_rfm_segmentation
# [0.77, 6.9], events_burst_detection [0.34, 3.0]) do NOT reproduce in
# isolation — a 4-rep run of exactly those three at sf0.1 in a fresh
# session measures rfm [0.52..1.05], burst [0.33..0.61], sparse_cosine
# [1.87..2.68]: every max <= ~2x median, first rep mildly slower
# (page-cache first touch of the sf0.1 files).  The outliers were
# session-position effects of timing 109 queries in one JVM, not plan
# defects.  Two mitigations now in place: listener-state retention caps
# in session.py (the SQL status store retained 1000 full plan graphs even
# with the UI off), and the canary below, which makes any residual
# session pressure measurable instead of arguable.
#
# CANARY: a FROZEN ~15-query subset (one per operator family, never
# rotated, never reordered) timed FIRST in the session every round and
# reported as a separate `canary_sec` metric.  The r5 record drifted ~17%
# against itself with no attributing code change — unchanged TPC-H
# aggregates doubled between an early-r5 61-query session and the final
# 109-query session, consistent with session pressure from timing ever
# more queries in one JVM (VERDICT r5 "What's wrong" #1).  Because the
# canary always runs at the same session position over the same frozen
# set, its round-over-round delta isolates machine/code effects from
# session-growth effects: headline moved but canary flat ⇒ session
# pressure; both moved ⇒ real.  DO NOT add, remove, or reorder entries —
# a changed canary can't attribute anything.
CANARY = [
    "qast_eq_filter",          # qast predicate compiler
    "catalog_find",            # catalog scan + broadcast join
    "agg_pricing_summary",     # TPC-H aggregate
    "join_revenue_by_nation",  # TPC-H join
    "topk_orders_per_segment", # window / group-limit
    "events_sessionize",       # temporal sessionization
    "dedup_exact",             # hash-groupBy dedup
    "dedup_minhash_lsh",       # MinHash+LSH banding
    "dedup_embedding",         # embedding LSH near-dup
    "text_tfidf_top_terms",    # text aggregation
    "bm25_search",             # search scoring
    "ann_ivf_topk",            # ANN bucketed top-k
    "multimodal_jpeg_decode",  # pure-Python codec via mapInPandas
    "pii_redact_customers",    # hygiene / regex transform
    "pagerank_dedup_graph",    # iterative graph
]
assert all(c in HEADLINE for c in CANARY)

# Per-family canary attribution (VERDICT r6 #2 / r7 "Next round" #3): a
# summed canary_sec says "the session drifted"; it cannot say WHICH
# family.  Each timed query is normalized to its family's canary median
# (ratio = median / canary_median), keyed off the workload's FIRST tag.
# A query whose raw time doubles while its ratio holds moved WITH its
# canary — session/machine pressure; a ratio that moves alone is a real
# per-query regression.  The r5→r6 suspects (burst 2.06×, hybrid 1.70×,
# sparse 1.69×, drift 1.43×) are exactly the rows this column decides.
# Families without a natural canary anchor record family=None (their
# attribution stays the overall canary_sec).
FAMILY_CANARY = {
    "qast": "qast_eq_filter",
    "json": "qast_eq_filter",
    "catalog": "catalog_find",
    "extract": "catalog_find",
    "sources": "catalog_find",
    "aggregation": "agg_pricing_summary",
    "sketch": "agg_pricing_summary",
    "sketches": "agg_pricing_summary",
    "sql": "agg_pricing_summary",
    "join": "join_revenue_by_nation",
    "setop": "join_revenue_by_nation",
    "cdc": "join_revenue_by_nation",
    "fuzzy": "join_revenue_by_nation",
    "topk": "topk_orders_per_segment",
    "window": "topk_orders_per_segment",
    "streaming": "events_sessionize",
    "temporal": "events_sessionize",
    "timeseries": "events_sessionize",
    "session-window": "events_sessionize",
    "time": "events_sessionize",
    "funnel": "events_sessionize",
    "retention": "events_sessionize",
    "dedup": "dedup_exact",
    "text": "text_tfidf_top_terms",
    "quality": "text_tfidf_top_terms",
    "similarity": "ann_ivf_topk",
    "embedding": "ann_ivf_topk",
    "multimodal": "multimodal_jpeg_decode",
}
assert all(c in CANARY for c in set(FAMILY_CANARY.values()))

# INDEX-BUILD exemption, now an EXPLICIT allowlist (VERDICT r13 #1): the
# r8 ADVICE pin started every query's timer after fn() returned, so that
# amortized index/model builds (codebook collects, IVF checkpoint
# materializations) stay out of the per-query medians — a serving
# deployment pays them once, not per query.  But the same blanket rule
# let the r13 global_row_number swaps move a RANK THAT IS THE QUERY
# (range shuffle + eager localCheckpoint) into the untimed build phase:
# dsir/curriculum/shard_assign reported 0.02-0.09 s medians over an
# already-checkpointed frame.  The rule is now: ONLY the names below
# keep the build-excluded timing, and their fn() build time is recorded
# as build_sec in BENCH_DETAIL so nothing is invisible; every other
# workload times fn()+force (for plan-construction fn()s the difference
# is the eager-resolution cost PySpark pays per transformation — a real
# per-query driver constant, included on purpose).  Membership test: the
# eager work constructs a REUSABLE search/model structure (kmeans/PQ
# codebooks, IVF assignments + checkpoints, the containment fill of a
# persisted capped-postings cache) that many distinct queries would
# share; a global rank/sort/checkpoint whose output IS the query result
# does not qualify.  Deliberately NOT here, so their eager build now
# counts (warmed sf0.01 fn() probe, r14): the global_row_number rank
# family (dsir 1.3 s / rfm 1.6 / curriculum 0.5 / shard 0.6 — the
# VERDICT r13 #1 offenders), the iterative trainings whose result IS
# the model the query returns (bpe_train_merges, doremi_source_weights,
# pagerank_dedup_graph), the split/report compositions
# (leakage_safe_split_docs, the two pretrain pipelines), and every
# plan-analysis-heavy fn() (embedding_centroid_drift,
# dedup_canonical_docs).
INDEX_BUILD = {
    "ann_ivf_topk",
    "ann_ivf2_topk",
    "ann_pq_adc_topk",
    "embedding_pq_codes",
    "embedding_knn_graph_ivf",
    "embedding_knn_graph_ivf2",
    "dedup_containment_prefix",
    "semantic_dedup_embeddings",
}
assert INDEX_BUILD <= set(HEADLINE)


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def session_metrics(spark) -> dict:
    """Compact JVM/session snapshot recorded every SNAP_EVERY timed
    queries into BENCH_DETAIL's `session_metrics` series (VERDICT r10
    #3: make the in-session residue measurable from the artifact).  The
    r11 instrumented 60-query session showed code cache, metaspace,
    loaded classes, local-dir bytes, persistent RDDs and thread count
    all FLAT while heavy probes drifted +15-24% — this series keeps
    that attribution possible every round without a separate rig."""
    import glob

    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {"heap_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() // 1048576}
    code = meta = 0
    for pool in mf.getMemoryPoolMXBeans():
        n = pool.getName()
        if "CodeHeap" in n or "Code Cache" in n:
            code += pool.getUsage().getUsed()
        elif n == "Metaspace":
            meta = pool.getUsage().getUsed()
    out["codecache_mb"] = code // 1048576
    out["metaspace_mb"] = meta // 1048576
    out["gc_ms_cum"] = sum(
        g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()
    )
    out["classes"] = mf.getClassLoadingMXBean().getLoadedClassCount()
    out["threads"] = mf.getThreadMXBean().getThreadCount()
    # scope the walk to THIS session's local dirs (ADVICE r11: globbing
    # all of /tmp attributed other/leftover Spark processes' local-dir
    # bytes to this session, skewing the residue series).  The driver's
    # DiskBlockManager names this app's blockmgr-* dirs (the shuffle/
    # cache residue the series watches), and SparkFiles' root sits under
    # this app's own spark-<uuid> staging dir — together the exact set
    # the old /tmp glob over-approximated.
    total = 0
    try:
        env = spark._jvm.org.apache.spark.SparkEnv.get()
        local_dirs = [
            str(d) for d in env.blockManager().diskBlockManager().localDirs()
        ]
        local_dirs.append(
            os.path.dirname(spark._jvm.org.apache.spark.SparkFiles.getRootDirectory())
        )
    except Exception:
        # degraded: old behavior — blockmgr dirs AND spark-* staging dirs
        # (ADVICE r12: dropping the spark-* component made the fallback
        # series incomparable with both the old series and the primary
        # path, which includes the app's own staging dir).  The glob is
        # not app-scoped (ADVICE r13): concurrent apps' dirs can inflate
        # the fallback metric, and an app-id filter is impossible here —
        # the dir names carry a random uuid, not the app id, and the JVM
        # handle that could map them is exactly what just failed — so
        # the residual over-approximation is bounded by the nested-path
        # dedupe below instead.
        local_dirs = glob.glob("/tmp/blockmgr-*") + glob.glob("/tmp/spark-*")
    # dedupe nested/repeated paths so no tree is walked twice (ADVICE
    # r13: a blockmgr dir nested under a spark-* local dir was counted
    # once by its own glob and again by the parent's walk); applies to
    # the primary path too, where the staging parent could contain a
    # listed blockmgr dir under SPARK_LOCAL_DIRS-style configs
    roots: list[str] = []
    for d in sorted(os.path.realpath(p) for p in local_dirs):
        if not any(d == r or d.startswith(r + os.sep) for r in roots):
            roots.append(d)
    for d in roots:
        for root, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    out["localdir_mb"] = total // 1048576
    # the weak registry: getPersistentRDDs() would build a map of strong
    # references that pins every block until py4j frees its proxy
    out["persistent_rdds"] = spark.sparkContext._jsc.sc().persistentRdds().size()
    return out


def reset_session_state(spark) -> None:
    """Inter-rep isolation, shared with scripts/bench_reconcile.py so the
    reconcile measurements run under the SAME session conditions as the
    bench they reconcile (review r8 #6)."""
    # Cached frames AND localCheckpoint RDDs: the checkpoint-heavy
    # workloads (DoReMi rounds, two-level IVF, connected components)
    # each leave eagerly-materialized RDDs pinned until their Python
    # DataFrame objects happen to be GC'd.  100 queries in, that
    # residue is executor-memory pressure the next timing pays — the
    # session-position effect BENCH_RECONCILE_r08.json measures
    # (isolated medians 1.2-3.4x below same-code in-session medians).
    release_materialized(spark)
    # collect the garbage the dropped cache blocks left behind
    # now, not as a full-GC pause inside the next timing
    spark._jvm.System.gc()
    # r11 residue finding (VERDICT r10 #3): the instrumented 60-query
    # session showed code cache / metaspace / classes / local-dir /
    # persistent RDDs / threads all FLAT while heavy probes drifted
    # +15-24% — the remaining residue is DRIVER-SIDE GC REACHABILITY,
    # not a Spark-resource leak: broadcast blocks and cleaner-tracked
    # shuffle deps are reclaimed only after their driver anchors are
    # collected, and those anchors are py4j handles kept alive by
    # PYTHON garbage.  Collect Python first, then give the async
    # ContextCleaner a beat and sweep again: with this sequence the
    # same 60-query rig measured containment flat (+4% vs +15%) and
    # leakage −13%.  The pause is outside every timed region.
    import gc as _pygc

    _pygc.collect()
    spark._jvm.System.gc()
    time.sleep(0.3)
    spark._jvm.System.gc()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("comlake-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + analysis + codegen + UDF workers, per plan shape, at the
    # smallest scale factor (timed runs below then measure data processing)
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        force(REGISTRY[name].fn(spark, warm_dir))

    # Median-of-3 per query (VERDICT r3 "What's wrong" #1): a single timed
    # pass lets one noisy machine moment poison the whole round's record —
    # r3's bench drifted +22% on unchanged queries with no code cause.  The
    # median discards one bad rep (GC pause, page-cache first touch, a
    # co-tenant burst); min/max ride along in "spread" so a loaded machine
    # is visible in the artifact instead of argued about after the fact.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    snaps: list[dict] = []
    SNAP_EVERY = 10

    build_sec: dict[str, float] = {}
    exec_sec: dict[str, float] = {}

    def time_query(name: str) -> None:
        if len(timings) % SNAP_EVERY == 0:
            snaps.append({"after_n_queries": len(timings), **session_metrics(spark)})
        samples = []
        builds = []
        execs = []
        for _ in range(reps):
            # Reps must be cold w.r.t. each other but run the plan the
            # engine actually executes.  r4 called clearCache() on a df
            # built ONCE outside the loop, which stripped the workloads'
            # own persist() markers — the dedup family's recorded times
            # measured a double-scan plan the engine never runs (VERDICT
            # r4 "What's wrong" #3).  Order matters: clear the PREVIOUS
            # rep's cache blocks first, then rebuild the DataFrame so its
            # persist() markers are fresh and intact for the timed force.
            reset_session_state(spark)
            # Timing regions (VERDICT r13 #1): fn() and force are timed
            # SEPARATELY.  Only the INDEX_BUILD allowlist reports the
            # force alone (their fn()'s eager work is an amortized
            # reusable structure — see the note at the allowlist); every
            # other workload's median includes fn(), so eager build-phase
            # work (global_row_number's range shuffle + localCheckpoint)
            # counts in the number the round is graded on.  build_sec
            # lands in BENCH_DETAIL for every query either way.
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            force(df)
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            samples.append((t2 - t1) if name in INDEX_BUILD else (t2 - t0))
        samples.sort()
        builds.sort()
        execs.sort()
        med = samples[len(samples) // 2]
        timings[name] = round(med, 2)
        medians[name] = round(med, 4)
        spread[name] = [round(samples[0], 3), round(samples[-1], 3)]
        build_sec[name] = round(builds[len(builds) // 2], 4)
        exec_sec[name] = round(execs[len(execs) // 2], 4)

    # canary FIRST — same queries, same session position, every round.
    # canary_sec sums the EXEC-ONLY medians: the canary is the frozen
    # cross-round comparator, so its timed region must stay frozen too —
    # the r14 build-inclusive convention (VERDICT r13 #1) applies to the
    # headline medians but would have silently re-based the canary
    # series (r13 clean 11.10 s would read ~17.6 s on identical code).
    for name in CANARY:
        time_query(name)
    canary_sec = round(sum(exec_sec[c] for c in CANARY), 3)
    for name in HEADLINE:
        if name not in timings:  # canary entries keep their early-session time
            time_query(name)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Spread/reps go to a side file: r4's single fat JSON line (~4.4 KB)
    # overflowed the driver's 2 KB stdout tail capture and the round lost
    # its official bench record (VERDICT r4 "What's wrong" #2).  The
    # compact headline dict is printed as the FINAL stdout line and must
    # stay under ~2000 bytes.
    # per-family attribution columns (VERDICT r7 #3): which canary anchors
    # each query, and the query's median as a multiple of that anchor —
    # compare ratios across rounds to separate session drift (raw moved,
    # ratio held) from real per-query regressions (ratio moved)
    family_canary = {
        name: FAMILY_CANARY.get(REGISTRY[name].tags[0] if REGISTRY[name].tags else "")
        for name in timings
    }
    normalized = {
        name: round(medians[name] / medians[anchor], 3)
        for name, anchor in family_canary.items()
        if anchor is not None and medians.get(anchor)
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                # full-precision per-query medians for EVERY timed query —
                # the compact stdout line sheds its fastest entries under
                # the 2 KB cap, and r5's shed medians were recorded
                # nowhere (ADVICE r5 #2); spread alone can't reconstruct
                # the number the round was graded on
                "medians": medians,
                "spread": spread,
                "canary": {
                    "queries": CANARY,
                    "sec": canary_sec,
                    # exec-only, matching `sec` (the frozen comparator);
                    # the same queries' build-inclusive medians are in
                    # `medians` like every other query
                    "per_query": {c: exec_sec[c] for c in CANARY},
                },
                "family_canary": family_canary,
                "normalized": normalized,
                # per-query fn() build-phase medians + the allowlist of
                # names whose reported median EXCLUDES that build
                # (VERDICT r13 #1: no untimed work is invisible)
                "build_sec": build_sec,
                "exec_sec": exec_sec,
                "index_build_excluded": sorted(INDEX_BUILD),
                "session_metrics": snaps + [
                    {"after_n_queries": len(timings), **session_metrics(spark)}
                ],
                "reps": reps,
                "sf": sf_val,
                "total": total,
                "queries_timed": len(timings),
                # reconciliation line (VERDICT r7 #7): registered − timed
                # = excluded, each excluded name in a BENCH-EXCLUDED class
                # (see the note above HEADLINE); no silent truncation
                "bench_excluded": {
                    "count": len(REGISTRY) - len(set(HEADLINE)),
                    "registered": len(REGISTRY),
                    "classes": "streaming/stateful, _real integration, "
                    "SCALING.md curve diagnostics, oracle/self-check twins",
                },
            },
            f,
            indent=1,
            sort_keys=True,
        )
    def emit(qdict: dict, extra: dict) -> str:
        return json.dumps(
            {
                "metric": "headline median sec",
                "value": total,
                "unit": "sec",
                "canary_sec": canary_sec,
                # exec-only total across ALL timed queries (VERDICT r14 #7):
                # `value` follows the r14 build-inclusive convention, so a
                # cross-round or cross-convention comparison needs the
                # exec-only sum in the SAME stdout artifact — the r13→r14
                # convention change produced four phantom "regressions"
                # because only `value` was visible to the comparator.
                # ADDITIVE: no existing key changes meaning.
                "exec_total": round(sum(exec_sec.values()), 3),
                "queries_timed": len(timings),
                "queries": qdict,
                "sf": sf_val,
                **extra,
            },
            separators=(",", ":"),
        )

    # Degrade gracefully instead of losing the whole per-query dict: shed
    # the FASTEST queries first (overhead-dominated, least informative —
    # full precision for every query stays in the committed
    # BENCH_DETAIL.json) so the slow, comparison-relevant medians keep
    # their 2-decimal precision; coarsening everything to 1 decimal (the
    # first draft) hid 0.0x-second drifts on EVERY query to save the few
    # fastest entries.
    kept = dict(timings)
    by_speed = sorted(kept, key=lambda k: (kept[k], k))
    omitted = 0
    line = emit(kept, {})
    while len(line) > 1990 and by_speed:
        kept.pop(by_speed.pop(0))
        omitted += 1
        line = emit(kept, {"queries_omitted": omitted})
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
