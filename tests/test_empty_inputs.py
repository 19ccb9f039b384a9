"""Degenerate-input robustness: every operator family must plan and
execute over EMPTY tables (0-row inputs with the production schemas)
without crashing — the empty-partition / empty-source case every
100 TB pipeline hits (fresh partitions, all-filtered scans, cold
backfills). Results must keep their declared schema; row counts are
asserted only where algebraically forced (not always 0 — global
aggregates legitimately emit one row of nulls/zeros)."""

from __future__ import annotations

import pytest

from axolotls_spark.io.sources import TABLES, load_table, table_path
from axolotls_spark.queries import REGISTRY

# One or more representatives per operator family — weighted toward
# custom operators where empty-input bugs hide (folds over empty
# arrays, iterative algebra over empty seeds, UDF batch shapes).
FAMILIES = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "q13_cust_order_distribution",
    "q21_sole_late_supplier",
    "ref_feature_chain",
    "ref_transform_array",
    "window_topk_orders",
    "agg_distinct_segments",
    "grouping_sets_sql",
    "dedup_exact",
    "minhash_near_dup_pairs",
    "dedup_groups",
    "cosine_topk",
    "ann_ivf_topk",
    "sparse_cosine_pairs",
    "cooccurrence_pmi",
    "bm25_search",
    "tfidf_top_terms",
    "kmeans_clusters",
    "pagerank_trade_graph",
    "pca_project_embeddings",
    "funnel_conversion",
    "retention_cohorts",
    "interval_join_attribution",
    "timeseries_gap_fill",
    "timeseries_interpolate_linear",
    "sessionize_events_batch",
    "asof_join_last_order",
    "bloom_prejoin_filter",
    "temperature_mix_sources",
    "chunk_documents",
    "pack_sequences_contiguous",
    "quantize_embeddings_int8",
    "gopher_repetition_filters",
    "decontaminate_ngram_overlap",
    "multimodal_decode",
    "pipeline_corpus_curation",
    "profile_table_stats",
    "ab_test_welch",
    "dau_wau_rolling",
    "event_transition_matrix",
    "basket_brand_affinity",
    "key_skew_profile",
    "top_session_paths",
    "graph_triangle_count",
    "chisq_lang_source",
    "ols_normal_equations",
    "naive_bayes_lang_confusion",
    "bm25_search",
    "token_entropy_by_lang",
    "impute_group_stats",
    "scale_standardize_features",
    "winsorize_outliers",
    "map_higher_order_functions",
    "array_set_operations",
    "string_format_closure",
    "running_balance_floor",
    "ols_by_group",
    "longest_daily_streak",
    "distribution_drift_psi",
    "funnel_latency_percentiles",
    "conversion_wilson_ci",
    "benford_first_digit",
    "join_null_safe_eq",
    "sla_ship_within_days",
    "activity_heatmap_dow_hour",
    # round-3 operator families
    "er_best_match",
    "er_blocking_recall",
    "er_clusters",
    "er_golden_records",
    "fuzzy_join_doc_titles",
    "pq_encode_embeddings",
    "pq_adc_topk",
    "mmr_diverse_topk",
    "mv_incremental_refresh",
    "hll_registers",
    "hll_distinct_by_priority",
    "grouping_sets_sales",
    "frequent_event_trigrams",
    "multitouch_attribution",
    "er_linkage_quality",
    "embedding_mean_shift",
    "mv_refresh_with_deletes",
    "hll_rolling_wau",
    "ann_ivf_adc_topk",
    "retrieval_ndcg",
    "ann_ivfpq_residual_topk",
    "hll_rollup_priorities",
    # round-4 operator families
    "er_blocking_skew",
    "er_best_match_capped",
    "kmv_distinct_by_priority",
    "kmv_set_algebra",
    "exact_quantiles_totalprice",
    "weighted_sample_orders",
    "zorder_layout_quality",
    "zonemap_pruning_rate",
    "max_concurrent_events",
    "nucleus_vocab_size",
    "jaccard_prefix_join",
    "bpe_train_merges",
    "bpe_encode_compression",
    "dsir_importance_weights",
    "curation_funnel_report",
    "mixture_waterfill_rates",
    "winnow_fingerprints",
    "winnow_shared_spans",
    "spatial_eps_neighbors",
    "dbscan_core_clusters",
    "hard_negative_mining",
    "lsh_quality_report",
    "join_size_estimate",
    "rocchio_expansion",
    "als_rank1_factors",
    "als_top_recs",
    "silhouette_kmeans",
    "image_ahash_fingerprints",
    "image_ahash_topk",
    "flesch_readability",
    "zipf_slope",
    "l_diversity_audit",
    "shapley_attribution",
    "ppr_trade_similarity",
    "forecast_conformal_interval",
    "session_pattern_match",
    "target_encode_loo",
    "hits_trade_graph",
    "kcore_trade_graph",
    "bfs_shortest_hops",
    "dataset_datasheet",
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
    "weighted_minhash_sketch",
    "wmh_near_dup_pairs",
    "psm_caliper_att",
    "permutation_test_priority",
    "brier_decomposition",
    "bucketed_join_colocate",
    "glm_poisson_orders",
    "ivf_cell_balance",
    "isotonic_calibration_bins",
    # round-6 operator families
    "daily_ingestion",
    # round-8 operator families
    "minhash_xxhash_production",
    "minhash_xxhash_recall_cert",
    "multimodal_ingestion",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_sf")
    for name in TABLES:
        df = load_table(spark, sf_dir, name).limit(0)
        df.write.mode("overwrite").parquet(str(out / f"{name}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", FAMILIES)
def test_runs_on_empty_tables(spark, empty_sf_dir, name):
    df = REGISTRY[name].fn(spark, empty_sf_dir)
    rows = df.collect()
    assert df.columns, f"{name}: lost its schema on empty input"
    assert isinstance(rows, list)


def test_llm_curation_demo_runs(spark, sf_dir, capsys):
    """The end-to-end curation demo (demos/llm_curation.py) must run
    on the live session and report a monotone non-increasing doc
    funnel."""
    import re
    import sys

    sys.path.insert(0, "/root/repo/demos")
    import llm_curation

    old_argv = sys.argv
    sys.argv = ["llm_curation.py", sf_dir]
    try:
        llm_curation.main()
    finally:
        sys.argv = old_argv
    out = capsys.readouterr().out
    counts = [int(m) for m in re.findall(r"(\d+)\s*$", out, re.M)]
    funnel = counts[:6]
    assert funnel == sorted(funnel, reverse=True)
    assert funnel[-1] > 0


def test_cli_list_and_oracle(capsys):
    """CLI inventory surface: list filters by tag, oracle prints the
    SQL — no Spark session needed for either."""
    from axolotls_spark.__main__ import main

    assert main(["list", "funnel"]) == 0
    out = capsys.readouterr().out
    assert "funnel_conversion" in out
    assert main(["oracle", "dedup_exact"]) == 0
    assert "GROUP BY text" in capsys.readouterr().out
