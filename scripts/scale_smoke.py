#!/usr/bin/env python
"""Scale-growth smoke for the heavy-hitter queries: run each at
sf0.001 / sf0.01 / sf0.1 and report wall time plus the growth exponent
alpha in t ~ rows^alpha between consecutive scale points (computed
against the DRIVING table's row count — documents for the text-dedup
family, lineitem for the skew fixture — because the testdata does not
scale every table with SF: documents is 500/500/5000, lineitem
6k/60k/600k).

Evidence target (VERDICT round 3 #6): the bounded-fanout claims in the
operator docstrings — dedup CC, postings-list Jaccard, banded SimHash —
should grow near-linearly (alpha ~ 1, plus a constant per-query
overhead floor that dominates at tiny SFs), not quadratically.

Usage: python scripts/scale_smoke.py [query ...]
Prints a table and one JSON line; paste the table into COVERAGE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from commercial_rfp_data_pipeline_spark.io import release_pinned
from commercial_rfp_data_pipeline_spark.registry import all_queries
from commercial_rfp_data_pipeline_spark.session import get_spark

ROOT = "/root/testdata"
# round 8: the fourth decade is the synthesized 10x-sf0.1 dataset
# (scripts/make_scale10.py) — included automatically when generated
SCALE10 = os.environ.get("SPARK_GRAFT_SCALE10", os.path.join(REPO, "scale10"))
SFS = ("sf0.001", "sf0.01", "sf0.1")


def scale_points() -> list[tuple[str, str]]:
    pts = [(sf, f"{ROOT}/{sf}") for sf in SFS]
    if os.path.isdir(SCALE10):
        pts.append(("sf1", SCALE10))
    return pts

# query -> table whose row count drives its cost
DEFAULT = {
    "dedup_connected_components": "documents",
    "ngram_jaccard_pairs": "documents",
    "simhash_neardup_pairs": "documents",
    "skew_zipf_distinct_plain": "lineitem",
    "skew_zipf_distinct_salted": "lineitem",
    "span_dedup_c4": "documents",
    "semdedup_prune": "embeddings",
    "pagerank_copurchase": "lineitem",
    "training_data_pipeline": "documents",
    "fuzzy_name_pairs": "customer",
    "entity_resolution_customers": "customer",
    "bfs_hops_copurchase": "lineitem",
    "hits_hubs_authorities": "lineitem",
    "pq_adc_topk": "embeddings",
    "trigram_index_substring_search": "documents",
    "bloom_semi_join_lineitem": "lineitem",
    "merkle_bucket_diff": "orders",
    "sssp_weighted_bounded": "lineitem",
    "weighted_pagerank_copurchase": "lineitem",
    "bigram_lm_perplexity": "documents",
    "bpe_encode_corpus": "documents",
    "minhash_band_eval": "documents",
    "events_holt_linear_trend": "events",
    "incremental_corpus_dedup": "documents",
    "knn_graph_edges": "embeddings",
    "graph_ann_beam_topk": "embeddings",
    "kcore_copurchase": "lineitem",
    "crossmodal_retrieval_topk": "documents",
    # round-5 additions
    "graph_ann_hnsw_topk": "embeddings",
    "jaccard_prefix_filter_pairs": "documents",
    "late_interaction_maxsim_topk": "documents",
    "crossmodal_hard_negatives": "documents",
    "hybrid_rrf_fusion": "documents",
    "chunk_citation_mapping": "documents",
    "spell_correct_query_terms": "documents",
    "gdpr_cascade_delete_audit": "customer",
    "revenue_touch_attribution": "events",
    # round-6 second wave
    "mmr_diversified_topk": "embeddings",
    "context_budget_packing": "embeddings",
    "prf_query_expansion_topk": "documents",
    "compaction_bin_packing": "orders",
    "link_prediction_resource_alloc": "lineitem",
    "group_aware_split_audit": "documents",
    "dedup_soft_retention_sqrt": "documents",
    "l_diversity_audit": "customer",
    "tokenizer_fertility_by_lang": "documents",
    "curriculum_schedule_phases": "documents",
    "code_switch_detection": "documents",
    # round-7 additions
    "multimodal_phash_neardup": "documents",
    "expected_calibration_error": "documents",
    "cohens_kappa_agreement": "documents",
    "padding_waste_report": "documents",
    "distinct_ngram_diversity": "documents",
    "zipf_slope_estimate": "documents",
    "purged_time_series_split": "events",
    "blocklist_term_filter": "documents",
    "recipe_drift_kl": "documents",
    "rake_keyphrases_top20": "documents",
    "semantic_chunk_boundaries": "documents",
    "neyman_allocation_eval_sample": "documents",
    "quantile_normalize_scores": "documents",
    "quality_signal_ensemble": "documents",
    "pipeline_yield_by_source": "documents",
    "preference_pairs_from_clusters": "documents",
    "retrieval_parent_dedup_topk": "documents",
    # round-9 modality/sampling additions (scale rows added round 10)
    "audio_phash_neardup": "documents",
    "video_frame_phash_dedup": "documents",
    "dsir_importance_resample": "documents",
    "multilingual_sampling_temperature": "documents",
    "training_data_pipeline_dsir": "documents",
    # round-10 artifact-served reroutes (fresh scale rows)
    "phash_method_agreement": "documents",
    "split_leakage_neardup": "documents",
    "top_supplier_q15": "lineitem",
}


def main() -> None:
    import math

    names = sys.argv[1:] or list(DEFAULT)
    pts = scale_points()
    labels = [p[0] for p in pts]
    spark = get_spark(app_name="scale_smoke")
    queries = all_queries()
    # JVM / codegen / python-worker warmup (not timed)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    rows_at: dict[tuple[str, str], int] = {}
    for sf, d in pts:
        for table in set(DEFAULT.values()):
            rows_at[(sf, table)] = (
                spark.read.parquet(f"{d}/{table}.parquet").count()
            )

    results: dict[str, dict[str, float]] = {}
    for name in names:
        results[name] = {}
        for sf, d in pts:
            t0 = time.time()
            queries[name](spark, d).count()
            t = time.time() - t0
            # best-of-2: this VM has external load spikes
            t0 = time.time()
            queries[name](spark, d).count()
            results[name][sf] = round(min(t, time.time() - t0), 3)
            release_pinned()
            spark.catalog.clearCache()

    print(
        f"\n{'query':34} "
        + " ".join(f"{sf:>9}" for sf in labels)
        + "  alpha(last)"
    )
    out = {}
    for name in names:
        table = DEFAULT.get(name, "documents")
        ts = [results[name][sf] for sf in labels]
        ns = [rows_at[(sf, table)] for sf in labels]
        # exponent over the LAST pair of scale points with actual row
        # growth (tiny SFs sit on the fixed-overhead floor)
        alpha = None
        for i in range(len(labels) - 1, 0, -1):
            if ns[i] > ns[i - 1]:
                alpha = math.log(ts[i] / ts[i - 1]) / math.log(ns[i] / ns[i - 1])
                break
        print(
            f"{name:34} "
            + " ".join(f"{t:>8.2f}s" for t in ts)
            + (f"  {alpha:.2f}" if alpha is not None else "  n/a")
        )
        out[name] = {"times": dict(zip(labels, ts)), "alpha": round(alpha, 3) if alpha else None}
    print()
    print(json.dumps({"metric": "scale_smoke", "queries": out}))


if __name__ == "__main__":
    main()
