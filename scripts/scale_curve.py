#!/usr/bin/env python
"""Measured scaling curves: run headline operators on 1x/2x/4x/8x copies
of the sf0.1 tables (ids offset, text perturbed so near-dup structure
stays realistic rather than 8 exact copies of every doc) and print
seconds per scale. Evidence for the linearity claims in SCALING.md —
an operator whose time grows super-linearly here has a hidden quadratic
stage. Scratch data lives under /tmp; driver inputs are never touched."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from comlake_core_spark.session import get_spark, tables
from comlake_core_spark.workloads import REGISTRY

SRC = "/root/testdata/sf0.1"
# v2: copies offset o_custkey/c_custkey too — without that, every order
# matched `factor` duplicate customers and the join OUTPUT grew as
# factor² (a builder artifact that read as a super-linear plan cliff)
BASE = "/tmp/comlake-scale-v2"
FACTORS = [1, 2, 4, 8]
OPS = [
    "dedup_minhash_lsh",
    "corpus_ngram_novelty",
    "text_feature_hashing",
    "jaccard_topk_similar_docs",
    "join_revenue_by_nation",
    "dedup_exact",
    "embedding_quantize_int8",
    # similarity/PQ family (VERDICT r2 #6): watching for broadcast cliffs
    # like the revenue join's — codebooks/LUTs are plan literals, so these
    # must stay scan-shaped as the corpus grows
    "embedding_pq_codes",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
]


def build(spark, factor: int) -> str:
    out = f"{BASE}/x{factor}"
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    t = tables(spark, SRC)
    for name, df in t.items():
        parts = []
        for i in range(factor):
            d = df
            if name == "documents":
                d = d.select(
                    (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" copyvar{i}")).alias("text"),
                    "lang", "source", "n_chars",
                )
            elif name == "embeddings":
                d = d.select((F.col("vec_id") + i * 10_000_000).alias("vec_id"), "embedding", "label")
            elif name == "lineitem":
                d = d.select(
                    (F.col("l_orderkey") + i * 100_000_000).alias("l_orderkey"),
                    *[c for c in d.columns if c != "l_orderkey"],
                )
            elif name == "orders":
                d = d.select(
                    (F.col("o_orderkey") + i * 100_000_000).alias("o_orderkey"),
                    (F.col("o_custkey") + i * 10_000_000).alias("o_custkey"),
                    *[c for c in d.columns if c not in ("o_orderkey", "o_custkey")],
                )
            elif name == "customer":
                d = d.select(
                    (F.col("c_custkey") + i * 10_000_000).alias("c_custkey"),
                    *[c for c in d.columns if c != "c_custkey"],
                )
            elif name == "events":
                d = d.select(
                    (F.col("event_id") + i * 100_000_000).alias("event_id"),
                    *[c for c in d.columns if c != "event_id"],
                )
            parts.append(d)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    open(os.path.join(out, "_DONE"), "w").write("ok")
    return out


# --------------------------------------------------------------------------
# r5 additions (VERDICT r4 "Next round" #6): the r4-touched code paths have
# no registry entry under the exact knob being measured, so they run as
# custom callables over the same scaled tables.
# --------------------------------------------------------------------------


def _jaccard_variant(mode):
    def run(spark, sf_dir):
        from comlake_core_spark.operators.dedup import jaccard_topk_similar

        docs = tables(spark, sf_dir)["documents"].select("doc_id", "text")
        queries = docs.filter(F.col("doc_id") % 29 == 0)
        return jaccard_topk_similar(
            docs, queries, k=3, shingle_k=3, max_df=100, broadcast_queries=mode
        )

    return run


def _semantic_dedup_reclustered(spark, sf_dir):
    # max_cluster far below n_rows/n_clusters forces the oversized-head
    # refinement loop (per-cluster re-clustering) at EVERY factor — the
    # r4 path whose driver loop and per-round persist hygiene must stay
    # O(oversized clusters), not O(rows)
    from comlake_core_spark.operators.dedup import semantic_dedup

    emb = tables(spark, sf_dir)["embeddings"]
    return semantic_dedup(
        emb, n_clusters=8, threshold=0.92, max_cluster=800, recluster_clusters=8
    )


def _ivfpq_refined(spark, sf_dir):
    from comlake_core_spark.operators.similarity import ivfpq_adc_topk

    emb = tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_adc_topk(
        emb, queries, k=5, m=8, n_centroids=16, n_probe=4, refine_iters=2
    )


def _knn_ivf_scaled_buckets(spark, sf_dir):
    # the IVF kNN graph's true scale regime: centroid count grows with the
    # corpus (constant bucket size), probe count stays fixed — candidates
    # per node are then constant and the graph build is linear.  A FIXED
    # centroid count only divides the n² candidate set by
    # n_centroids/n_probe (retained as the diagnostic curve).  Since r6
    # this is the EXACT registered form of embedding_knn_graph_ivf
    # (target_bucket_size=32), so the curve is evidence for the
    # driver-seen plan, not a proxy.
    from comlake_core_spark.operators.similarity import mutual_knn_graph

    emb = tables(spark, sf_dir)["embeddings"]
    return mutual_knn_graph(
        emb, k=4, candidate="ivf", n_probe=8, seed_hasher="md5",
        target_bucket_size=32,
    )


def _knn_ivf_two_level(spark, sf_dir):
    # the r6 hierarchical assignment at a partial coarse probe — the form
    # that bounds BOTH the pair stage (scaled codebook) and the assignment
    # stage (coarse->fine, O(n*sqrt(C)) everywhere, no O(C) literal plan)
    from comlake_core_spark.operators.similarity import mutual_knn_graph

    emb = tables(spark, sf_dir)["embeddings"]
    return mutual_knn_graph(
        emb, k=4, candidate="ivf", n_probe=8, seed_hasher="md5",
        target_bucket_size=32, assignment="two_level", coarse_probe=4,
    )


def _doremi_source_weights(spark, sf_dir):
    from pyspark.sql import functions as F

    from comlake_core_spark.operators.sampling import doremi_domain_weights

    docs = tables(spark, sf_dir)["documents"]
    loss = F.lit(1.0) / (F.lit(1.0) + F.length("text") / F.lit(1000.0))
    return doremi_domain_weights(docs, ["source"], loss, rounds=3, eta=2.0, smoothing=0.02)


def _kneser_ney_logprob(spark, sf_dir):
    from pyspark.sql import functions as F

    from comlake_core_spark.operators.text import kneser_ney_trigram_logprob

    docs = tables(spark, sf_dir)["documents"]
    return kneser_ney_trigram_logprob(
        docs.filter(F.col("doc_id") % 2 == 1), docs.filter(F.col("doc_id") % 2 == 0)
    )


def _unigram_lm_2rounds(spark, sf_dir):
    from comlake_core_spark.operators.text import unigram_lm_train

    docs = tables(spark, sf_dir)["documents"]
    return unigram_lm_train(docs, em_rounds=2, seed_vocab=200)


def _exact_substring_cut(spark, sf_dir):
    from comlake_core_spark.operators.dedup.spans import exact_substring_cut

    docs = tables(spark, sf_dir)["documents"]
    return exact_substring_cut(docs, span=8, min_docs=2)


def _kn_singleton_stats(spark, sf_dir):
    from comlake_core_spark.operators.text.kneser_ney import kn_singleton_stats

    docs = tables(spark, sf_dir)["documents"]
    return kn_singleton_stats(docs)


def _char_entropy(spark, sf_dir):
    from comlake_core_spark.operators.text.entropy import char_entropy

    docs = tables(spark, sf_dir)["documents"]
    return char_entropy(docs)


def _soft_dedup_weights(spark, sf_dir):
    from comlake_core_spark.operators.dedup.softdedup import soft_dedup_weights

    docs = tables(spark, sf_dir)["documents"]
    return soft_dedup_weights(docs)


def _dedup_funnel(spark, sf_dir):
    from comlake_core_spark.operators.dedup.funnel import dedup_survivorship_funnel

    docs = tables(spark, sf_dir)["documents"]
    return dedup_survivorship_funnel(docs, span=8, min_docs=2)


def _paragraph_dedup(spark, sf_dir):
    from comlake_core_spark.operators.dedup.paragraphs import paragraph_dedup

    docs = tables(spark, sf_dir)["documents"]
    return paragraph_dedup(docs)


def _source_ngram_overlap(spark, sf_dir):
    from comlake_core_spark.operators.text.source_overlap import source_ngram_overlap

    docs = tables(spark, sf_dir)["documents"]
    return source_ngram_overlap(docs, n=3)


CUSTOM_OPS = {
    "jaccard_topk_shuffle_strategy": _jaccard_variant(False),
    "jaccard_topk_auto_strategy": _jaccard_variant("auto"),
    "semantic_dedup_forced_recluster": _semantic_dedup_reclustered,
    "ann_ivfpq_refined_codebook": _ivfpq_refined,
    "knn_graph_ivf_scaled_buckets": _knn_ivf_scaled_buckets,
    "knn_graph_ivf_two_level": _knn_ivf_two_level,
    # r7-staged operators: curves measured under the r6 freeze so the
    # registrations land with SCALING evidence attached
    "doremi_source_weights": _doremi_source_weights,
    "kneser_ney_logprob": _kneser_ney_logprob,
    "unigram_lm_2rounds": _unigram_lm_2rounds,
    # r13-staged operators: curves measured before registration so the
    # registrations land with SCALING evidence attached (the r7 pattern)
    "exact_substring_cut_staged": _exact_substring_cut,
    "kn_singleton_stats_staged": _kn_singleton_stats,
    # r14-staged operators: same pattern, measured during r13
    "paragraph_dedup_staged": _paragraph_dedup,
    "source_ngram_overlap_staged": _source_ngram_overlap,
    "char_entropy_staged": _char_entropy,
    "soft_dedup_weights_staged": _soft_dedup_weights,
    "dedup_funnel_staged": _dedup_funnel,
}


def main() -> None:
    spark = get_spark("scale-curve")
    only = os.environ.get("SPARK_GRAFT_SCALE_OPS")
    sel = only.split(",") if only else None
    ops = {name: REGISTRY[name].fn for name in OPS} | CUSTOM_OPS
    if sel:
        # selection may name ANY registry workload, not just the default set
        ops = {
            n: (ops.get(n) or REGISTRY[n].fn)
            for n in sel
            if n in ops or n in REGISTRY
        }
    results: dict[str, dict[int, float]] = {op: {} for op in ops}
    for factor in FACTORS:
        sf_dir = build(spark, factor)
        for op, fn in ops.items():
            # warm plan shape at tiny scale, then time
            fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            results[op][factor] = round(time.time() - t0, 2)
            print(f"x{factor} {op}: {results[op][factor]}s", flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
