"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Output contract (round-5 fix — the r4 single-line artifact outgrew the
driver's 2000-char tail capture and parsed as null):

1. the full per-query timing map is printed on its OWN line first
   (``{"metric": "headline_query_sec", "queries": {...}}``) for humans
   and round-over-round diffing, and written, with ``cores`` and
   ``sf``, to ``BENCH_QUERIES.json`` next to this file;
2. the LAST line is a SHORT summary the driver's tail capture always
   fits: ``{"metric": "headline_queries_total_sec", "value": ...,
   "unit": "sec", "n_queries": ..., "core_total_sec": ...,
   "new_total_sec": ..., "sf": ...}`` — no embedded map.

Headline-set hygiene: ``CORE`` is the frozen round-3 comparison set —
one composite per operator family — and is never edited, so
``core_total_sec`` stays apples-to-apples across rounds.  Each round's
additions go to the round block below; they contribute to
``new_total_sec`` and the overall total.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from tools import measure  # noqa: E402

# FROZEN core (the round-3 headline set): one per operator family,
# weighted toward the shuffle-heavy plans that dominate at scale.
# Do not edit — round-over-round comparability depends on it.
CORE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "ref_feature_chain",
    "window_topk_orders",
    "agg_distinct_segments",
    "dedup_exact",
    "tf_top_terms",
    "cosine_topk",
    "minhash_near_dup_pairs",
    "asof_join_last_order",
    "multimodal_decode",
    "q21_sole_late_supplier",
    "ann_ivf_topk",
    "token_stats_bpe",
    "q8_national_market_share",
    "q13_cust_order_distribution",
    "sessionize_events_batch",
    "pipeline_corpus_curation",
    "tfidf_top_terms",
    "quantize_embeddings_int8",
    "ri_orphan_report",
    "variant_shred_props",
    "kmeans_clusters",
    "gopher_repetition_filters",
    "decontaminate_ngram_overlap",
    "funnel_conversion",
    "sparse_cosine_pairs",
    "bloom_prejoin_filter",
    "pagerank_trade_graph",
    "cooccurrence_pmi",
    "bm25_search",
    "dau_wau_rolling",
    "interval_join_attribution",
    "event_transition_matrix",
    "semdedup_prune",
    "hybrid_search_rrf",
    "substring_span_dedup",
    "table_diff_checksum",
    "scd2_priority_history",
    "cdc_apply_latest",
    "bfs_shortest_hops",
    "bigram_interp_logprob",
    "logreg_quality_classifier",
    "dedup_incremental_batch",
    "textrank_keywords",
    "kaplan_meier_retention",
    "split_leakage_free",
    "dedup_groups_altstar",
    "pca_project_embeddings",
    "er_best_match",
    "fuzzy_join_doc_titles",
    "pq_adc_topk",
    "mmr_diverse_topk",
    "mv_incremental_refresh",
    "hll_distinct_by_priority",
]

# Round-4 additions (distributed-algorithms lab, fingerprinting,
# spatial, recsys/eval, stats closure).
ROUND4 = [
    "ann_ivfpq_residual_topk",
    "hll_rollup_priorities",
    "er_linkage_quality",
    "nucleus_vocab_size",
    "kmv_set_algebra",
    "exact_quantiles_totalprice",
    "zorder_layout_quality",
    "max_concurrent_events",
    "jaccard_prefix_join",
    "bpe_train_merges",
    "dsir_importance_weights",
    "mixture_waterfill_rates",
    "winnow_shared_spans",
    "dbscan_core_clusters",
    "hard_negative_mining",
    "lsh_quality_report",
    "als_rank1_factors",
    "silhouette_kmeans",
    "image_ahash_topk",
    "shapley_attribution",
    "ppr_trade_similarity",
    "forecast_conformal_interval",
    "session_pattern_match",
    "target_encode_loo",
    "hits_trade_graph",
    "stump_split_search",
    "consistent_hash_movement",
    "offpolicy_ips_estimate",
    "logreg_auc_roc",
    "cuped_adjusted_lift",
    "diff_in_diff_readout",
    "vocab_unseen_mass",
    "bootstrap_ci_poisson",
    "cv_ols_generalization",
    "trend_mann_kendall",
    "anova_oneway_segments",
    "logrank_test_retention",
    "fdr_bh_nation_tests",
    "acf_ljung_box",
    "skyline_price_size",
    "apsp_trade_costs",
    "t_closeness_audit",
    "max_drawdown_revenue",
    "mutual_info_features",
    "kneser_ney_bigram",
    "kruskal_wallis_segments",
    "msprt_always_valid",
    "stratified_ate_balance",
    "spearman_corr_qty_price",
    "chow_test_break",
    "ridge_path_lineitem",
    "mips_norm_pruned_topk",
]

# Round-5 additions — this round's new operators.
ROUND5: list[str] = [
    "weighted_minhash_sketch",
    "wmh_near_dup_pairs",
    "psm_caliper_att",
    "permutation_test_priority",
    "brier_decomposition",
    "bucketed_join_colocate",
    "glm_poisson_orders",
    "ivf_cell_balance",
    "isotonic_calibration_bins",
]

# Round-6 additions.
ROUND6: list[str] = [
    "daily_ingestion",
    "kendall_tau_concordance",
    "tree_depth2_cart",
    "epoch_shuffle_order",
    "minhash_xxhash_production",
    "delong_auc_ci",
    "rbo_rank_agreement",
    "ks_two_sample",
    "greedy_max_coverage",
    "multimodal_entropy_quality",
    "aipw_doubly_robust_ate",
    "kappa_filter_agreement",
    "rdd_local_linear",
    "wald_grouping_slope",
    "bayes_ab_beta_binomial",
    "hbos_outlier_scores",
    "cka_embedding_alignment",
    "forecast_backtest_metrics",
    "graph_modularity_regions",
    "rake_keywords",
    "quantile_sketch_rollup",
    "overdispersion_poisson",
    "mann_whitney_u",
    "brown_forsythe_variance",
    "mediation_sobel",
    "dp_noisy_counts",
    "alignment_uniformity",
    "simpsons_paradox_check",
    "term_dispersion_dp",
    "heaps_law_fit",
    "embedding_effective_rank",
    "cluster_label_nmi",
    "rmst_retention",
    "local_dp_randomized_response",
    "lm_dirichlet_search",
    "theil_index_spend",
    "graph_assortativity",
    "burstiness_interevent",
    "weighted_median_unit_price",
    "price_index_fisher",
    "capture_recapture_chapman",
    "markov_entropy_rate",
    "hurst_exponent_revenue",
    "lsh_band_design",
    "js_divergence_sources",
    "permutation_entropy_revenue",
    "periodogram_seasonal_power",
    "expected_calibration_error",
    "hill_diversity_profile",
    "power_analysis_mde",
    "cramers_v_association",
    "cochran_armitage_trend",
    "tukey_hsd_pairs",
    "lift_gain_deciles",
    "retrieval_mrr_recall",
    "mcnemar_gate_flip",
    "raking_ipf_weights",
    "quantile_normalize_chars",
    "markov_attribution_removal",
    "gbdt_boost_rounds",
    "hll_intersection_estimate",
    "ktruss_trade_edges",
    "holm_stepdown_nation_tests",
    "jackknife_ratio_variance",
    "chao1_vocab_richness",
    "bradley_terry_strengths",
    "design_effect_kish",
    "wasserstein_length_shift",
    "yuen_trimmed_ttest",
    "rouge_lead_summary",
    "matrix_profile_motif",
    "tail_dependence_lambda",
    "dp_user_level_counts",
    "evt_hill_tail_index",
    "neyman_allocation",
    "jarque_bera_normality",
    "sen_slope_trend",
    "qq_normality_ppcc",
    "spiegelhalter_calibration_z",
    "median_ci_orderstat",
    "bca_bootstrap_ci",
    "qini_aa_calibration",
    "fleiss_kappa_gates",
    "link_prediction_copurchase",
    "ams_f2_sketch_merge",
    "compaction_bin_packing",
    "multimodal_scene_changes",
    "multimodal_audio_vad",
    "fd_discovery_audit",
    "woe_information_value",
    "obrien_fleming_looks",
    "clustering_coefficient_nodes",
    "bloom_filter_design",
    "reciprocal_best_match",
    "slo_burn_rate_alerts",
    "content_defined_chunks",
    "voptimal_histogram",
    "procrustes_alignment_drift",
    "heavy_change_detection",
    "merkle_tree_levels",
    "learned_index_audit",
    "watermark_delay_design",
    "late_data_restatement",
]

# Round-7 additions: the observe-instrumented ingestion funnel and
# the IVF build->gate->probe->recall composite.
ROUND7: list[str] = [
    "observed_ingestion_metrics",
    "observed_join_match_rate",
    "vector_index_lifecycle",
]

# Round-8 additions: the sampled recall certification decoupled from
# the production MinHash path, and the multimodal ingestion composite.
ROUND8: list[str] = [
    "minhash_xxhash_recall_cert",
    "multimodal_ingestion",
]

HEADLINE = CORE + ROUND4 + ROUND5 + ROUND6 + ROUND7 + ROUND8


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = measure.session("bench")
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings = measure.time_queries(spark, HEADLINE, sf_dir, repeats)
    total = sum(timings.values())
    core_total = sum(t for n, t in timings.items() if n in set(CORE))
    new_total = sum(
        t for n, t in timings.items()
        if n in set(ROUND5) | set(ROUND6) | set(ROUND7) | set(ROUND8)
    )

    # Line 1: full per-query map (human / diff audience).
    print(json.dumps({"metric": "headline_query_sec", "queries": timings}))
    # LAST line: short summary — must fit the driver's tail capture.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(total, 4),
                "unit": "sec",
                "n_queries": len(timings),
                "core_total_sec": round(core_total, 4),
                "new_total_sec": round(new_total, 4),
                "sf": float(sf),
            }
        )
    )
    with open(os.path.join(ROOT, "BENCH_QUERIES.json"), "w") as f:
        json.dump({"metric": "headline_query_sec", "cores": measure.cores(),
                   "sf": float(sf), "queries": timings}, f, indent=1)


if __name__ == "__main__":
    main()
