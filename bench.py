"""Benchmark harness for the headline declared queries.

Output contract (round 5 — VERDICT.md r4 item 1): the driver keeps
only a bounded stdout *tail*, so a single giant JSON line with all
per-query timings loses its head and parses as null (BENCH_r03/r04).
Instead we print:

  * one small JSON line per query as it completes:
      {"q": <name>, "s": <min_sec>}
  * LAST, one compact summary line the tail always captures whole:
      {"metric": "headline_queries_total_wall", "value": <total>,
       "unit": "sec", "sf": <sf>, "n_queries": <n>}

The full per-query map is additionally written to ``BENCH_LOCAL.json``
at the repo root so complete numbers are readable at HEAD even when
the stdout tail truncates the early per-query lines.

Noise control (VERDICT.md r4 item 1b): a single 87-query session
accumulates JVM state (codegen classes, GC pressure, block-manager
litter) that inflated *untouched* queries 1.4-8x in BENCH_r04. The
harness now quiesces: ``spark.catalog.clearCache()`` after every
query, and a fresh SparkSession every ``SPARK_GRAFT_BENCH_GROUP``
queries (default 20; session restart time is NOT measured — the
metric is the sum of per-query minima).

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
cores from $SPARK_GRAFT_CPUS (default all). Each query executes to
completion on the cluster via the noop sink (full computation, no
driver collect bottleneck).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from afg_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from tools.measure import REPS, best_of, session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the shapes
# that dominate at scale (scan-agg, star join, window, session).
# Append-only across rounds so per-query round comparisons stay
# apples-to-apples.
HEADLINE = [
    "flagship_filter_project",
    "pricing_summary",
    "star_join_revenue",
    "agg_median",
    "topk_per_group",
    "window_analytics",
    "row_share_normalize",
    "sessionize_lag_gap",
    "melt_unpivot",
    "left_join_composite",
    "interp_linear_series",
    "ols_forecast",
    "gravity_flows",
    "nn_assign",
    "asof_join_last_purchase",
    "tumbling_window_agg",
    "text_stats",
    "exact_dedup",
    "ann_cosine_topk",
    "q3_shipping_priority",
    "q5_region_volume",
    "q6_revenue_delta",
    "q18_large_volume",
    "cohort_retention",
    "cdc_upsert_snapshot",
    # --- round-2 additions (append-only; keep order stable) ---
    "q2_min_cost_supplier",
    "q4_priority_exists",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "q10_returned_items",
    "q11_important_parts",
    "q12_priority_by_linestatus",
    "q13_order_count_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q17_small_qty_revenue",
    "q19_disjunctive_revenue",
    "q20_excess_share_suppliers",
    "q21_waiting_supplier",
    "q22_idle_customers",
    "minhash_near_dup",
    "ngram_jaccard_dups",
    "prep_training_corpus",
    "curate_corpus",
    "embedding_near_dup_lsh",
    "near_dup_components",
    "nn_assign_grid2d",
    "funnel_conversion",
    "data_quality_report",
    # --- round-2 late additions (append-only) ---
    "eval_decontamination",
    "unigram_lm_score",
    "simhash_signatures",
    "pack_token_stream",
    "spatial_adjacency_graph",
    # --- round-3 additions (append-only) ---
    "near_dup_components_star",
    "tfidf_doc_pairs",
    "duplicate_span_detect",
    "bigram_lm_score",
    "pmi_collocations",
    "char_entropy",
    "pagerank_centrality",
    "vocab_oov_rate",
    "value_hour_correlation",
    "robust_outlier_counts",
    "user_event_paths",
    "lang_confusion_matrix",
    "value_quartiles_by_type",
    "trigram_lm_score",
    # --- round-4 additions (append-only) ---
    "pmi_doc_pairs",
    "duplicate_span_extract",
    "winnow_fingerprints",
    "winnow_candidate_pairs",
    "kmeans_cluster_assign",
    "semantic_dedup_pairs",
    "adaptive_length_filter",
    "incremental_near_dup",
    "contrastive_pairs",
    "dedup_keep_best",
    "content_defined_chunks",
    "chunk_dedup_profile",
    "bpe_train_merges",
    "bpe_encode_stats",
    "per_group_sample_k",
    "hamming_topk",
    "corpus_after_dedup",
    # --- round-5 additions (append-only) ---
    "multimodal_jpeg_pipeline",
    "dsir_importance_scores",
    "ann_pq_topk",
    "ann_funnel_topk",
    "contamination_report",
    "dsir_selected_corpus",
    "ann_ivfpq_topk",
    # --- round-6 additions (append-only) ---
    "bpe_train_merges_fast",
    "bpe_encode_stats_fast",
    "watermarked_tumbling_counts",
    "dedup_within_watermark",
    "bpe_vocab",
    "bpe_tokenize",
    "pack_token_sequences",
    "semantic_dedup_keep",
    "ann_ivfpq_persisted",
    "triangle_clustering",
    "bloom_prefilter_dedup",
    "pca_top_component",
    "unigram_tokenize",
    "heavy_hitters_cms",
    "bfs_hop_distances",
    "incremental_agg_maintenance",
    # --- round-6 continuation-2 additions (append-only) ---
    "incremental_join_maintenance",
    "snapshot_cdc_extract",
    "frequent_item_pairs",
    "key_skew_profile",
    "join_key_skew",
    "gram_novelty_scores",
    "vocab_growth_curve",
    "zorder_skipping_report",
    "bm25_topk",
    "ann_sq8_topk",
    "event_transition_matrix",
    "weighted_sssp_dist",
    "chisq_independence",
    "lpa_communities",
    "kcore_vertices",
    "rfm_segments",
    "dataset_card_report",
    "bm25_persisted",
    "prefix_jaccard_pairs",
    "purchase_attribution",
    "time_weighted_value",
    "rank_normalize_values",
    "association_rules",
    # --- round-6 continuation-4 additions (append-only) ---
    "nb_classify_lang",
    "classifier_eval_auc",
    "classifier_eval_report",
    "pareto_frontier",
    "image_phash_near_dup",
    "sequence_pattern_counts",
    "top_event_paths",
    "robust_outlier_flags",
    "score_calibration_bins",
    "seasonal_anomaly_flags",
    "survival_curve_km",
    "entity_resolution_clusters",
    "winsorized_stats",
    "sequence_pattern3_counts",
    "wordpiece_encode_stats",
    "readability_scores",
    "markov_steady_state",
    # round-7 additions
    "simhash_band_near_dup",
    "tokenizer_fertility",
    "corpus_minhash_similarity",
    "label_noise_report",
    "bootstrap_ci_mean",
    "correlation_matrix",
    "k_anonymity_report",
    "zipf_fit_report",
    "funnel_step_latency",
    "ab_test_welch",
    "gini_user_spend",
    "ols_multifeature",
    "distribution_drift_psi",
    "dedup_cluster_stats",
    "cross_source_dup_matrix",
    "token_budget_allocation",
    "cusum_changepoint",
    "classifier_kappa",
    "split_leakage_report",
    "lsh_recall_audit",
    "packing_efficiency_report",
    "ann_recall_audit",
    # --- round-8 additions ---
    "wordpiece_train_merges",
    "hamming_band_recall_audit",
    "filter_funnel_report",
    "logistic_newton_purchase",
    "boilerplate_span_scrub",
    "training_order_shuffle",
    "embedding_stats_report",
    "dedup_threshold_sweep",
    "bucketed_join_revenue",
    "epoch_upsample_plan",
    "dataset_manifest",
    "hits_hub_authority",
    "containment_near_dup",
    "dim_truncation_recall_audit",
    "uncertainty_sample",
    "l_diversity_report",
    "stream_attribution_outer",
    "kcenter_coreset_select",
    "containment_dedup_keep",
    "markov_removal_attribution",
    "doc_keywords_tfidf",
    "t_closeness_report",
    "domain_reweight_mw",
    "mmr_diversified_topk",
    "kneser_ney_bigram_score",
    "embedding_domain_shift",
    "mi_feature_rank",
    "conformal_filter_threshold",
    "lsh_band_plan",
    "ece_calibration",
    "theil_sen_trend",
    "rrf_hybrid_rerank",
    "ks_two_sample_drift",
    "ab_test_mann_whitney",
    # round-9 additions
    "point_in_polygon",
    "unigram_seed_vocab",
    "multimodal_frame_manifest",
    "points_per_polygon",
    "polygon_geometry_report",
    "multimodal_audio_manifest",
    "multimodal_pixel_histogram",
    # round-10 additions
    "embedding_contamination_audit",
    "areal_reaggregation",
    "tokenizer_fertility_families",
    "points_in_admin_grid",
    "stream_geofence_enrich",
    "dp_release_histogram",
]


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def _new_session():
    # Console-progress \r lines interleave (and destroy) the per-query
    # JSON lines in a captured stdout tail — PERF_r10's per-query map
    # came back empty because of it. Quiet the bar; timing methodology
    # is unchanged (the bar is a driver-side render thread).
    return session(
        "afg-bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


def main() -> None:
    names = [n for n in HEADLINE if n in REGISTRY]
    group = int(os.environ.get("SPARK_GRAFT_BENCH_GROUP", "20"))

    spark = _new_session()
    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        if i > 0 and i % group == 0:
            # Quiesce: retire the accumulated session state so later
            # queries aren't measured inside earlier queries' GC and
            # block-manager debris. Restart time is not measured.
            spark.stop()
            spark = _new_session()
        q = REGISTRY[name]
        best, _ = best_of(lambda: q.fn(spark, SF_DIR), REPS)
        timings[name] = round(best, 3)
        spark.catalog.clearCache()
        print(json.dumps({"q": name, "s": timings[name]}), flush=True)

    total = round(sum(timings.values()), 3)
    sf = _sf_from_dir(SF_DIR)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
    }
    try:
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        with open(out, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout lines still carry everything
    # LAST line: compact, so a bounded stdout tail always captures it
    # whole (the per-query map is in the {"q":...} lines + sidecar).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
