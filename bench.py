"""Benchmark runner (driver contract): run headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line with per-query wall seconds.

Queries are forced with the noop sink (full execution, no driver collect /
result materialization cost — measures the engine, not the python driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from arangodb_java_parquet_spark.queries import QUERIES
from arangodb_java_parquet_spark.session import get_spark

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "join_range_interval",
    "join_asof_backward",
    "window_rank_topk_per_group",
    "window_running_total",
    "agg_cube",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_fingerprint",
    "text_quality_stats",
    "sim_topk_bruteforce",
    "sim_topk_lsh_bucketed",
    "sessionize_events",
    "window_tumbling_agg",
    "q7_nation_volume",
    "q18_large_orders",
    "dedup_simhash_signatures",
    "pipeline_clean_corpus",
    "funnel_conversion",
    "train_test_split_hash",
    "q2_min_cost_supplier",
    "q20_excess_inventory_suppliers",
    "join_asof_nearest",
    "decontaminate_benchmark_overlap",
    "dedup_cluster_components",
    "quality_filter_rules",
    "tfidf_top_terms",
    "pack_token_sequences",
    "window_hopping_agg",
    "emb_l2_normalize",
    "dedup_simhash_hamming2",
    "rfm_segmentation",
    "sim_topk_ivf_rulebased",
    "join_asof_tolerance",
    "quality_unigram_logprob",
    "semdedup_prune",
    "per_source_cap",
    "pii_redaction",
    "sim_pq_encode",
    "sim_topk_pq_adc",
    "sim_pq_encode_arrow",
    "sim_topk_pq_adc_arrow",
    "dedup_ngram_coverage",
    "dedup_funnel_survivors",
    # heavy registered operators the r2 verdict flagged as bench-absent —
    # iterative (pagerank), explode-heavy (WAU, chunking), stateful-merge
    # (SCD2), sketch-merge (HLL), salted-shuffle, python-plumbing (audio)
    "graph_pagerank_simdocs",
    "dedup_fuzzy_levenshtein",
    "rolling_wau_distinct",
    "dq_constraint_report",
    "agg_hll_mergeable_sketches",
    "scd2_merge_customers",
    "join_skew_salted",
    "rollup_cascade_daily",
    "multimodal_audio_features",
    "text_chunk_windows",
    "mixture_source_weights",
    "sim_topk_ivf",
    # round-3 additions: IR / lifecycle / graph operators with real work
    # at sf0.1 (token explodes, window chains, triple self-join)
    "ir_bm25_score",
    "ir_inverted_index",
    "text_token_entropy",
    "mixture_kl_divergence",
    "intervals_merge_islands",
    "window_rolling_median",
    "snapshot_cdc_diff",
    "sample_weighted_topk",
    "graph_triangle_count",
    "dedup_containment",
    "quality_bigram_logprob",
    "markov_event_transitions",
    "event_pmi_pairs",
    "winsorize_stats",
    "emb_gram_matrix",
    "emb_gram_matrix_arrow",
    "histogram_equidepth",
    "dedup_minhash_jaccard_estimate",
    "dedup_bloom_prefilter",
    "frequent_item_pairs",
    "pareto_revenue_share",
    "join_range_binned",
    "decontaminate_semantic",
    "text_chi2_keyness",
    "sql_recursive_cte",
    "quality_perplexity_buckets",
    "emb_quantile_normalize",
    "vocab_growth_curve",
    "agg_linear_regression",
    "agg_bitmap_distinct",
    "dedup_cross_source_matrix",
    "emb_label_separability",
    "concurrent_orders_sweep",
    "anomaly_seasonal_baseline",
    "user_behavior_vector",
    "dedup_ensemble_votes",
    "multimodal_image_dedup",
    "boxplot_stats",
    "quality_composite_gate",
    "sim_recall_at_k",
    "text_novelty_rate",
    "boilerplate_ngram_catalog",
    "source_quality_scorecard",
    "token_zipf_slope",
    # round-4 additions: portable sketches, substring-span dedup evidence,
    # language-ID confusion, real image decode, arrow gram twin
    "agg_hll_portable_estimate",
    "agg_quantile_sketch_portable",
    "cms_token_frequencies",
    "dedup_substring_span",
    "langid_trigram_confusion",
    "multimodal_image_decode",
    "bpe_pair_merge_fit",
    "emb_random_projection",
    "emb_mutual_knn_graph",
    "agg_hll_set_algebra",
    "cusum_change_point",
    "theil_sen_trend",
    "rolling_corr_revenue_orders",
    "dedup_intradoc_spans",
    "rolling_hll_distinct_users",
    "bootstrap_poisson_ci",
    "pii_pseudonymize",
    "dedup_keep_best_quality",
    "emb_drift_by_label",
    "als_factorization",
    "nb_classifier_confusion",
    "kmeans_fixed_rounds",
    "user_trajectory_similarity",
    "logistic_irls_fit",
    "decision_stump_fit",
    "dataset_datasheet",
    "graph_label_propagation",
    "psi_distribution_stability",
    "cms_join_size_estimate",
    "seq_pattern_support",
    # round-5 expansion (VERDICT r4 item 8): every oracle-checked entry
    # >= 1 s at sf0.01 in the harness timing column, so regressions can't
    # hide in unbenched entries...
    "dedup_cluster_size_histogram", "ab_test_conversion_lift",
    "dedup_roi_report", "dq_referential_orphans", "q8_market_share",
    "emb_cosine_calibration", "graph_two_hop_reach",
    "multimodal_frame_sample", "agg_corr_matrix", "calibration_report",
    "dedup_lsh_precision_recall", "pivot_wide", "q9_product_profit",
    "stream_stream_interval_join", "graph_assortativity",
    "multimodal_audio_codec_profile", "multimodal_image_features",
    "sim_topk_ivfpq", "order_priority_markov", "q16_supplier_counting",
    "q21_waiting_supplier", "dedup_minhash_merge_proof",
    "q10_returned_items", "stream_cms_maintenance",
    "dedup_lsh_tuning_curve", "dedup_simhash_hamming1",
    "quality_repetition_signals", "graph_degree_distribution",
    "monthly_seasonal_index", "stream_session_windows", "ivf_cell_balance",
    "loader_roundtrip", "stream_sink_collection_roundtrip",
    "stream_stateful_user_totals",
    # ...plus breadth: the round-5 scale operators, the remaining TPC-H
    # shapes, streaming remainder, and the python UDF/UDTF surfaces
    "data_shuffle_shards", "pack_length_buckets", "dedup_incremental_batch",
    "graph_link_prediction_jaccard", "robust_scale_features",
    "q4_order_priority", "q11_important_parts", "q12_priority_shipping",
    "q13_order_count_distribution", "q14_promo_effect", "q15_top_supplier",
    "q17_small_quantity_revenue", "q19_disjunctive_predicates",
    "q22_global_sales_opportunity",
    "stream_dedup_exact", "stream_hll_maintenance", "stream_windowed_counts",
    "udtf_tokenize_lateral", "udaf_geomean_pandas",
    "cohort_retention", "timeseries_gap_fill",
    "multimodal_video_decode",
    "forecast_ewma_daily", "zonemap_pruning_report", "compaction_bin_plan",
    "curation_bias_audit", "bpe_apply_compression",
    "vocab_overlap_matrix",
    # round-6: stored-index probes (fit-once into the model store; these
    # entries measure the recurring probe cost, their twins the fit)
    "sim_topk_pq_adc_stored", "sim_topk_ivfpq_stored", "sim_topk_ivf_stored",
    # round-6: skew-capped LSH, streaming MERGE upsert, privacy report,
    # in-engine PCA
    "dedup_lsh_capped_pairs", "stream_upsert_merge", "privacy_k_anonymity",
    "emb_pca_power_iteration", "cdc_apply_changes", "multimodal_format_sniff",
    "graph_kcore_2core", "feature_target_encode",
    "regression_residual_outliers", "join_events_scd2_interval",
    "sim_rbo_vs_exact", "timeseries_acf", "stream_stream_left_outer_join",
    "dedup_incremental_minhash_stored", "mixture_doremi_step",
    "agg_trimmed_mean", "drift_ks_statistic", "emb_dimension_profile",
    "sim_topk_pq_rerank", "emb_hard_negatives", "rocchio_nearest_centroid",
    "survival_kaplan_meier", "attribution_position_based",
    "dq_schema_drift", "anomaly_mad_days", "graph_edge_triangle_support",
    "simhash_bit_balance", "langid_cohens_kappa",
    "dedup_boundary_overlap", "sim_index_incremental_append",
    "dedup_cluster_quality_spread",
    # round 7: record linkage, bitext mining, DSIR, temperature mixing,
    # Luhn scan, readability, sparse TF-IDF retrieval
    "dedup_sorted_neighborhood", "linkage_fellegi_sunter",
    "bitext_mining_candidates", "quality_dsir_weights",
    "mixture_temperature_sampling", "pii_luhn_validate",
    "text_readability_scores", "sim_tfidf_cosine_topk",
    "agg_skewness_kurtosis", "dedup_ppjoin_prefix",
    "sim_mmr_diversified_topk", "timeseries_classical_decompose",
    "agg_ams_f2_sketch", "sample_balanced_downsample",
    "ir_query_expansion_prf", "emb_knn_outlier_score",
    "stream_topk_event_types",
    "corpus_diversity_minhash", "join_fuzzy_name_match",
    "user_recency_weighted_activity", "dq_sequence_gap_audit",
    "dq_header_detail_reconcile", "stream_incremental_daily_rollup",
    "kmeans_cluster_purity_nmi", "user_longest_streak",
    "eval_auc_mann_whitney",
    # round 9: global ExactSubstr pass + GK quantile registers
    "dedup_exactsubstr_spans", "dedup_exactsubstr_stats",
    "dedup_exactsubstr_removal", "dedup_exactsubstr_incremental",
    "agg_quantile_gk_summary",
    # round 9b: evaluation harness + RAKE keywords + k-center coreset
    "eval_rank_metrics", "eval_pr_threshold_sweep", "keywords_rake",
    "coreset_kcenter_greedy", "sim_rrf_fusion", "split_leakage_safe_report",
    "eval_brier_decomposition", "mixture_unimax_allocation",
    "text_code_detect", "eval_forecast_accuracy",
    # round 9c: BLEU/ROUGE, Fleiss kappa, conformal coverage, Matryoshka
    "eval_bleu_rouge_pairs", "eval_fleiss_kappa",
    "eval_conformal_coverage", "emb_matryoshka_recall",
    "quality_kneser_ney_logprob", "emb_knn_hubness",
    "cluster_silhouette_centroid", "graph_modularity_lpa",
    "graph_clustering_coefficient",
    # round 9d: privacy depth, anisotropy, active-learning acquisition
    "privacy_t_closeness", "emb_anisotropy_score", "active_margin_sampling",
    # round 9e: QL retrieval, TextRank, b-bit sketch, Krippendorff alpha
    "ir_dirichlet_lm_score", "keywords_textrank", "dedup_minhash_bbit",
    "eval_krippendorff_alpha",
    # round 9f: AUPRC, customer dynamics, coordinate effective rank
    "eval_auc_pr", "rfm_migration_matrix", "cohort_ltv_curve",
    "emb_effective_rank",
    # round 9g: decay attribution, markov eval, FD violations
    "attribution_time_decay", "markov_next_event_accuracy",
    "dq_functional_dependencies",
    # round 9h: paired classifier comparison + effect size
    "eval_mcnemar_paired", "eval_cohens_d_effect_size",
    # round 10: ExactSubstr APPLY + winnowing + rank correlations +
    # divergence/diversity/audit wave
    "dedup_exactsubstr_apply", "dedup_winnowing_density",
    "dedup_winnowing_matches", "eval_kendall_tau_b", "eval_spearman_rho",
    "mixture_js_divergence", "vocab_good_turing", "text_simpson_diversity",
    "graph_harmonic_centrality", "categorical_cramers_v",
    # round 10b: cross-source containment, weighted Jaccard, MATTR,
    # temporal holdout
    "dedup_cross_source_containment", "dedup_weighted_jaccard",
    "quality_mattr", "split_temporal_holdout",
    # round 10c: stored-index winnowing, stylometry, label-noise audit
    "dedup_winnowing_incremental", "text_burrows_delta",
    "label_confident_joint", "eval_cliffs_delta",
    "emb_pca_explained_variance",
    # round 10d: strength measures, bigram entropy rate, AC1,
    # delta-presence
    "timeseries_strength_measures", "text_bigram_entropy_rate",
    "eval_gwet_ac1", "privacy_delta_presence",
    # round 10e: LLR collocations, rich club, Neyman allocation, MASE
    "token_collocations_llr", "graph_rich_club_coefficient",
    "sample_neyman_allocation", "eval_forecast_mase",
    # round 10f: drift monitoring pair
    "drift_psi_report", "drift_page_hinkley",
    # round 11: KMV set algebra, LSH planner, A-Res weighted sampling
    "sketch_kmv_distinct_ops", "dedup_lsh_param_planner",
    "sample_weighted_ares", "mixture_data_constrained_epochs",
    "emb_alignment_uniformity",
    # round 11 wave 1: nonparametric statistics + multiple testing
    "eval_bh_fdr_correction", "eval_wilcoxon_signed_rank",
    "eval_auc_macro_ovr", "trend_mann_kendall", "eval_pinball_loss",
    # round 11 wave 2: cluster validation / graph / CKA / CDC / ICC
    "cluster_davies_bouldin", "graph_adamic_adar", "emb_linear_cka",
    "dedup_cdc_chunking", "eval_icc_2_1",
    # round 11 wave 3: blocking eval / ZCA / SpotSigs / DeLong / Holt
    "linkage_blocking_quality", "emb_zca_whitening_2d", "dedup_spotsigs",
    "eval_auc_delong_ci", "forecast_holt_linear",
    # round 11 wave 4: soft-dedup weights, JM query likelihood
    "dedup_soft_weights", "ir_query_likelihood_jm",
    # round 11 wave 5: MCC, calibration z, Mahalanobis outliers
    "eval_mcc_matthews", "eval_calibration_spiegelhalter_z",
    "emb_mahalanobis_outliers_2d",
    # round 11 wave 6: Allen census, lift/gain deciles, TwoNN ID
    "intervals_allen_profile", "eval_lift_gain_deciles",
    "emb_intrinsic_dim_twonn", "eval_weighted_kappa",
    # round 12: retrieval-ranking eval + conformal + drift/ts/graph wave
    "eval_ndcg_at_k", "eval_mean_reciprocal_rank",
    "eval_average_precision_at_k", "eval_conformal_threshold",
    "drift_wasserstein_1d", "timeseries_ljung_box", "text_yules_k",
    "emb_procrustes_2d", "graph_eigenvector_centrality",
    "market_basket_rules", "survival_log_rank", "timeseries_periodogram",
    "eval_cuped_adjustment", "vocab_heaps_law_fit",
    "inequality_theil_index", "dq_benford_law",
    "eval_kruskal_wallis", "eval_brown_forsythe", "eval_welch_ttest",
    "eval_jarque_bera",
    "graph_hits_scores", "graph_local_clustering",
    "timeseries_spectral_entropy", "timeseries_hurst_rs",
    "vocab_chao1_ace", "eval_friedman_quarters",
    "dq_anderson_darling_uniform", "anomaly_grubbs_daily", "eval_cochran_q",
    "token_fertility_by_lang", "stats_partial_correlation",
    "token_adaptation_churchgale", "text_fightin_words",
    "emb_lof_outliers", "eval_tost_equivalence", "drift_qq_deciles",
    "timeseries_pacf", "stats_runs_test", "timeseries_crosscorr",
    "stats_mood_median",
    "eval_permutation_signflip", "graph_powerlaw_alpha", "emb_jl_distortion",
    "eval_yuen_trimmed_t", "token_dispersion_dp", "eval_cohens_h",
    "drift_cramer_von_mises",
    "forecast_holt_winters", "eval_mann_whitney_u",
    "eval_proportions_ztest",
    "eval_expected_reciprocal_rank", "dq_rle_dictionary_audit",
    "text_distinct_n", "event_circadian_entropy",
    "survival_nelson_aalen", "eval_bland_altman",
    "stats_durbin_watson", "stats_breusch_pagan",
    "source_vocab_jaccard", "eval_gwets_ac1",
    "forecast_naive_benchmarks",
    # round 13: changepoint/theta/influence + classical-tests second wave
    "changepoint_pettitt", "timeseries_turning_points",
    "forecast_theta_method", "eval_rank_biased_precision",
    "eval_exposure_fairness", "eval_hosmer_lemeshow",
    "survival_weibull_medianrank", "stats_cooks_distance",
    "inequality_atkinson_index", "stats_bartlett", "stats_welch_anova",
    "stats_hill_tail_index", "stats_fisher_exact_2x2",
    "timeseries_sample_entropy",
    "graph_katz_centrality", "ir_query_clarity", "timeseries_dickey_fuller",
    # round 14: tokenizer families, clustering/selection, fitting/sketch
    "unigram_lm_fit", "unigram_lm_fertility", "wordpiece_greedy_fertility",
    "gmm_em_diag_2d", "cluster_dbscan_grid", "coreset_facility_location",
    "eval_isotonic_calibration", "agg_count_min_sketch",
    "regression_huber_irls", "forecast_ar2_yule_walker",
    "forecast_croston",
    # round 15: graph-built ANN (NN-descent), mixture optimization,
    # whole-document bin packing
    "ann_nndescent_graph", "ann_nndescent_recall",
    "mixture_doremi_fit", "pack_bestfit_decreasing", "select_rho_loss",
    # round 15 continuation: SQ8 quantization, LZ78 quality signal,
    # Shapley attribution, HMM Viterbi, temperature scaling, Sinkhorn
    # OT, UCB1 replay
    "sim_sq8_encode", "sim_topk_sq8", "quality_lz78_compression",
    "attribution_shapley", "hmm_viterbi_decode",
    "eval_temperature_scaling", "ot_sinkhorn_distance",
    "bandit_ucb1_replay", "dedup_jaro_winkler",
    "causal_diff_in_diff", "causal_propensity_strata",
    "sketch_misra_gries", "survival_competing_risks",
    "knn_shapley_valuation", "graph_mst_boruvka",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")

    # Warm the JVM (codegen, shuffle machinery, python workers) with a full
    # pass at the smallest scale factor so per-query timings measure
    # steady-state execution, not first-run JIT compilation.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        for name in BENCH_QUERIES:
            QUERIES[name](spark, warm_dir).write.format("noop").mode(
                "overwrite").save()
    else:
        spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # best-of-2 per query: transient host load showed up as 5-10x outliers
    # in single-shot timings; the min of two runs measures the engine.
    # Per-pass totals are also kept so cross-round comparisons can separate
    # first-run JIT/codegen cost from steady state (pass 2).
    timings: dict[str, float] = {}
    pass_totals = [0.0, 0.0]
    for name in BENCH_QUERIES:
        best = None
        for i in range(2):
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            pass_totals[i] += elapsed
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf_dir
    full_record = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "pass1_total": round(pass_totals[0], 3),
        "pass2_total": round(pass_totals[1], 3),
    }
    # Archive the COMPLETE per-query map to a committed file: the driver
    # keeps only a truncated stdout tail, which loses most of the ~200
    # entries and breaks cross-round bench_compare diffs.
    round_no = os.environ.get("SPARK_GRAFT_ROUND", "")
    out_name = (f"BENCH_FULL_r{int(round_no):02d}.json" if round_no.isdigit()
                else "BENCH_FULL_latest.json")
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               out_name), "w") as fh:
            json.dump(full_record, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout line below still carries it
    # Full detail line (per-query timings) for humans / archival...
    print(json.dumps(full_record))
    # ...then the FINAL line: the driver captures only the last ~2000 chars
    # of stdout (BENCH_r15.json tail length), and the full per-query line
    # (400+ entries) overflows that buffer (BENCH_r03 recorded "parsed":
    # null; PERF_r14/r15 had n_common=0 because the final line carried no
    # per-query data at all). The last line must fit the tail AND carry as
    # much per-query ground truth as possible, so it includes the HEAVIEST
    # entries (centisecond precision, compact separators) up to a byte
    # budget safely under the tail size. The complete map is the line
    # above plus the committed BENCH_FULL_r{N}.json.
    line = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "pass1_total": round(pass_totals[0], 3),
        "pass2_total": round(pass_totals[1], 3),
        "queries": {},
    }
    # bytes; the driver tail is 2000 chars (BENCH_r15.json), so leave
    # headroom, and skip an entry that does not fit rather than stop, so
    # shorter later names still fill the line
    budget = 1500
    for name in sorted(timings, key=lambda n: (-timings[n], n)):
        line["queries"][name] = round(timings[name], 2)
        if len(json.dumps(line, separators=(",", ":"))) > budget:
            del line["queries"][name]
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
