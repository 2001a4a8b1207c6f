#!/usr/bin/env python
"""Controlled-statistics scale-up generator + scaling stress runner
(VERDICT r2 item 2: "sf1.0 scale-stress bench of the heavy tail").

``make_scaled(spark, src, dst, k)`` writes a k× replica of a testdata
directory where every replica PRESERVES the within-replica statistics
exactly and shares nothing across replicas:

- fact/dim keys get a per-replica offset (FK columns offset together,
  so join selectivities are unchanged); region/nation stay shared dims;
- date/timestamp columns shift by i×24 years per replica, making
  replicas TIME-DISJOINT (spacing ≫ the largest temporal window in
  the catalog, a 90-day watermark): temporal range joins cannot match
  across replicas, so their work and output scale linearly instead of
  k² — replicas sharing one time axis made join_range's 10× run 6.1×
  slower, modeling "same period, denser" rather than the long-history
  posture a 100 TB corpus actually has. 24 is a multiple of 4 whose
  shifts never land a base leap year on a non-leap century (no Feb 29
  clamping distorting date deltas), and 9×24 keeps every timestamp
  under pandas' datetime64[ns] year-2262 ceiling, which the stateful
  Arrow path requires. Weekday alignment is NOT preserved (+24y ≡ +2
  weekdays) — day-delta, calendar-day, month, and leap structure are;
  the one dayofweek-grouped catalog query is outside the stress tail.
  Date-WINDOWED queries (fixed literal ranges, e.g. q5's 1996–1998)
  keep only replica 0 inside the window: their scaled run measures
  predicate pruning over k× history (see DATE_WINDOWED);
- document text gets a per-replica token prefix on EVERY word — a
  bijection on each replica's shingle space, so within-replica Jaccard
  (and simhash/minhash behavior) is exactly preserved while replicas
  share zero shingles (no cross-replica near-dup pairs);
- embeddings get a per-replica Rademacher sign flip per dimension —
  (s∘x)·(s∘y) = x·y, so within-replica cosines and norms are EXACTLY
  preserved, while cross-replica cosines look like fresh random pairs.

Result: every output grows ~linearly in k EXCEPT the embedding
threshold-pair family, whose output is intrinsically superlinear on
this distribution (see SUPERLINEAR_OUTPUT below) — so "elapsed grows
~linearly and plans keep their shape" is a real assertion for the
linear group, not a hope. tests/test_scale_invariants.py proves the
preservation claims at tiny scale; run this script manually for the
sf1 stress artifact:

    python tools/scale_stress.py gen   # build /tmp/rs_sl_sf1 (k=10)
    python tools/scale_stress.py run   # time heavy tail at sf0.1 vs sf1
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

# runnable from any cwd: the package lives next to tools/
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

KEY_OFFSET = 50_000_000  # far above any base key at these scales

# per-table key columns that must move together across replicas
KEYS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

EMB_DIM = 64

# per-table temporal columns, shifted i*YEAR_SHIFT years per replica
YEAR_SHIFT = 24
TIME_COLS: dict[str, list[str]] = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}

# the heavy tail per BENCH_r02 + the new replay queries' batch cousins
HEAVY_TAIL = [
    # round-12 additions
    "bh_fdr_correction",
    "ratio_metric_delta_method",
    "seasonal_decompose_additive",
    "changepoint_binseg",
    "graph_assortativity",
    "compaction_bin_packing",
    "dict_encoding_audit",
    "jl_projection_distortion_audit",
    "theil_index_revenue",
    "empirical_bayes_shrinkage",
    "rouge_overlap_neardup",
    "lorenz_curve_points",
    "mcnemar_weekday_weekend",
    "brier_murphy_decomposition",
    "cohens_kappa_langid",
    "g_test_independence",
    "runs_test_randomness",
    # round-12 wave 4
    "kruskal_wallis_h",
    "jarque_bera_normality",
    "mann_kendall_trend",
    "durbin_watson_ols",
    "levene_brown_forsythe",
    "hellinger_tv_sources",
    "good_turing_mass",
    "heaps_law_fit",
    "nelson_aalen_hazard",
    "logrank_test_return_time",
    "individuals_control_chart",
    "cochran_q_dow",
    "cochran_armitage_trend",
    "somers_d_gamma_ordinal",
    "gumbel_return_level",
    "anova_oneway_f",
    "calibration_ece",
    "anderson_darling_two_sample",
    "periodogram_power",
    "readability_flesch",
    "ljung_box_test",
    "kendall_w_nation_years",
    "chao1_richness",
    "permutation_entropy_daily",
    "atkinson_index_2",
    "palma_ratio",
    "markov_entropy_rate",
    "jackknife_ratio_se",
    "page_hinkley_drift",
    "graph_modularity_by_source",
    "embedding_anisotropy_audit",
    "spiegelhalter_z_calibration",
    "fleiss_kappa_quality_raters",
    "silhouette_simplified_labels",
    "davies_bouldin_labels",
    "granger_causality_lag1",
    "embedding_effective_rank",
    "odds_ratio_weekend_purchase",
    "capture_recapture_users",
    "value_at_risk_daily",
    "hurst_rs_exponent",
    "breusch_pagan_test",
    "chow_test_midpoint",
    "cooks_distance_top_days",
    "pettitt_test",
    "wilcoxon_signed_rank",
    "mean_reversion_half_life",
    "diebold_mariano_forecasts",
    "cvm_kuiper_two_sample",
    "bartlett_test",
    "kpss_level_test",
    "moods_median_test",
    "jonckheere_terpstra",
    "negative_binomial_fit",
    "bimodality_coefficient",
    "hoover_index",
    "bowley_quartile_skew",
    "poisson_bootstrap_ci",
    "mann_whitney_u",
    "effect_size_cohens_d",
    "tokenizer_vocab_coverage",
    "kaplan_meier_return_time",
    "event_count_overdispersion",
    "mode_per_group",
    "bigram_cond_entropy_by_source",
    "neyman_allocation",
    "trimmed_mean_robust",
    "herfindahl_concentration",
    "pr_auc_average_precision",
    "lift_gain_table",
    "isotonic_calibration_pava",
    "doclen_tail_hill",
    "dedup_simhash",
    "dedup_cluster",
    "dedup_shrinkage_report",
    "tokenizer_fertility_by_lang",
    "numeric_corr_matrix",
    "spearman_rank_corr",
    "cramers_v_priority_status",
    "kendall_tau_quantity_discount",
    "ks_test_click_view_value",
    "welch_t_click_view",
    "binary_quantize_recall",
    "daily_acf_curve",
    "cross_source_dup_matrix",
    "temperature_mix_weights",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "embedding_near_dup",
    "embedding_near_dup_lsh",
    "join_range",
    "join_left_outer",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "funnel_stages",
    "pack_sequences",
    "ann_ivf_kmeans",
    "text_repetition_stats",
    "text_corpus_rarity",
    "retention_cohorts",
    # round-5/6 additions
    "dedup_semantic",
    "domain_mix_sample",
    "text_chunk_tokens",
    "bm25_topk",
    "interval_concurrency",
    "numeric_histogram",
    "sessionize_stateful_replay",
    "stream_static_join_replay",
    "scd2_asof_enrich",
    "join_asof_forward",
    "contrastive_triplets",
    "vocab_topk_ids",
    "time_weighted_avg",
    "embedding_label_centroids",
    # round-6 mining/similarity additions
    "tfidf_topk_terms",
    "cooccurrence_pmi",
    "bigram_lm_counts",
    "dedup_containment",
    "basket_lift_pairs",
    "pareto_customer_share",
    "rfm_segments",
    "knn_classify_majority",
    "embedding_quantize_int8",
    "session_duration_stats",
    "activity_streaks",
    "events_hourly_seasonality",
    # round-6 batch 5: eval/sketch/graph/index family
    "ml_roc_auc",
    "skyline_price_recency",
    "weighted_median_price",
    "heavy_hitters_cms",
    "distinct_kmv_estimate",
    "sequence_gap_audit",
    "event_trigram_topk",
    "inverted_postings",
    "boilerplate_ngrams",
    "chi2_discriminative_terms",
    "source_token_entropy",
    "text_vocab_richness",
    "triangle_count_neardup",
    "link_prediction_jaccard",
    "join_asof_nearest",
    "dau_mau_stickiness",
    "distinct_hll_manual",
    "bootstrap_ci_revenue",
    "daily_counts_autocorr",
    "fuzzy_name_match",
    "stream_upsert_loader_replay",
    "stream_topk_replay",
    "stream_mix_psi_replay",
    "session_entry_exit_paths",
    "zipf_slope_fit",
    "embedding_outlier_topk",
    "weekly_seasonality_strength",
    "k_anonymity_audit",
    "anomaly_mad_days",
    "target_encode_segments",
    "hashed_feature_cross",
    "uplift_by_segment",
    "cohort_ltv_curve",
    "new_vs_returning_users",
    "funnel_time_constrained",
    "revenue_share_hierarchy",
    "price_tier_assignment",
    "table_checksum_orders",
    "interpurchase_time_stats",
    "events_burstiness",
    "embedding_dim_quantiles",
    "embedding_principal_direction",
    "minhash_estimate_audit",
    "seasonality_dow_index",
    "revenue_movers_mom",
    "discount_elasticity",
    "allocation_largest_remainder",
    "ses_forecast_daily",
    "calendar_fill_daily",
    "item_item_cosine_topk",
    "vocab_coverage_curve",
    "attribution_linear_batch",
    "percentile_disc_by_segment",
    "dup_cluster_size_stats",
    "lsh_recall_report",
    "quality_gopher_rules",
    "events_value_winsorized",
    "new_parts_monthly",
    "bigram_kneser_ney",
    "rolling_median_daily_revenue",
    "hll_union_sources",
    "matryoshka_truncate_audit",
    "abc_classification_parts",
    "approx_percentile_contract",
    "stream_hll_registers_replay",
    "sequence_pattern_match",
    "split_leakage_audit",
    "bloom_filter_fpr",
    "scd2_build_from_events",
    "table_checksum_buckets",

    # round-6 second-continuation additions (synced to the
    # SCALE_STRESS_r06.json artifact)
    "ab_srm_check",
    "activation_retention_cohorts",
    "audience_overlap_matrix",
    "bounce_rate_daily",
    "bpe_merge_candidates",
    "bpe_trained_merges",
    "colbert_maxsim_labels",
    "copurchase_components",
    "ctr_wilson_interval",
    "drift_psi_daily",
    "epoch_shuffle_order",
    "exact_substring_dedup",
    "hourly_p95_value",
    "ivf_ndcg_audit",
    "ivf_recall_curve",
    "join_null_safe",
    "merge_user_intervals",
    "ols_daily_revenue_trend",
    "padding_waste_audit",
    "pivot_multi_agg",
    "price_qty_mutual_info",
    "price_volume_mix_decomposition",
    "rolling_sum_range_frame",
    "set_except_all",
    "set_intersect_all",
    "simhash_hamming_histogram",
    "stratified_kfold",
    "stream_late_data_audit_replay",
    "text_js_divergence_sources",
    "theil_sen_trend",
    "token_budget_selection",
    "top_supplier_multigrain",
    "lang_rebalance_sample",
    "bloom_join_prune_audit",
    "join_cardinality_estimate_audit",
    "bitmap_index_intersect",
    "zorder_layout_audit",
    "cuped_adjusted_lift",
    "robust_mad_outliers",
    "hard_negative_mining",
    "rrf_rank_fusion",
    "woe_iv_feature_screen",
    "markov_attribution_removal",
    "cusum_drift_daily",
    "embedding_source_drift",
    "ucb_arm_ranking",
    "dedup_keep_best_quality",
    "ab_sprt_stopping_audit",
    "kcore_graph_trim",
    "minhash_band_tuning_curve",
    "equiwidth_hist_quantile_audit",
    "ann_nprobe_recall_curve",
    # r14: decode-in-stream replay (per-doc verdicts — linear output)
    "stream_multimodal_screen_replay",
    # r14 wave A: association/agreement/collinearity + text mixes
    "phi_yule_binary_association",
    "relative_risk_cohort",
    "ansari_bradley_scale_test",
    "krippendorff_alpha_nominal",
    "vif_collinearity_audit",
    "char_class_mix_audit",
    "kl_divergence_sources",
    "bpe_trained_fertility",
    # r14 wave B
    "word_burstiness_topk",
    "audio_decimate_downsample",
    "image_luma_histogram_by_source",
    "native_store_time_travel_diff",
    # r14 wave C
    "t_closeness_audit",
    "stream_quantile_sketch_replay",
    "image_blur_laplacian_screen",
    # r15: HTML extraction family (per-doc parse rows — linear;
    # structure rollup bounded by the fixed source set) + the
    # maintenance-under-pin replay (fixed 7-row verdict table)
    "html_text_extract",
    "html_boilerplate_density",
    "html_structure_stats",
    "stream_maintenance_pin_replay",
    # r15: markdown ingestion (per-doc parse rows — linear; rollup
    # bounded by the fixed source set)
    "md_text_extract",
    "md_structure_by_source",
    # r15: JVM-only URL provenance (per-doc rows — linear; TLD
    # rollup bounded at 4 rows)
    "url_parse_provenance",
    "url_tld_rollup",
    # r15: JVM-only JSONL ingest (per-doc rows — linear; audit
    # bounded by the fixed source set)
    "jsonl_ingest_extract",
    "jsonl_corrupt_audit",
    "csv_ingest_extract",
    "dp_histogram_release",
    "robots_compliance_screen",
    "ingest_format_router",
    "jsonl_quarantine_loadflow",
    "stream_format_router_replay",
    # r15: unigram-LM EM trainer (fixed vocab/word tables)
    "unigram_lm_em_vocab",
    "unigram_lm_fertility",
    "native_store_manifest_interop",
    "benford_first_digit_audit",
    # r15: JVM-only XML ingest (per-doc rows — linear; the xpath
    # rollup bounded by the fixed source set)
    "xml_ingest_extract",
    "xml_xpath_structure",
    # r15: WordPiece trainer (K vocab-bounded iterations; fertility
    # is the corpus-facing member — the bpe_trained precedent)
    "wordpiece_trained_fertility",
    # r15 second wave: WARC capture family (per-doc parse rows —
    # linear; rollups bounded by the fixed source set), the manifest
    # zone-map prune (1 row), the pipeline capstone (per-source), the
    # Wasserstein pair grid / RAKE top-k / curriculum phases (all
    # bounded), and the 21st replay (fixed slice count)
    "warc_ingest_extract",
    "warc_source_rollup",
    "warc_truncation_audit",
    "native_store_manifest_pruning",
    "pretrain_pipeline_e2e",
    "wasserstein_doclen_sources",
    "rake_keyword_topk",
    "curriculum_phase_audit",
    "stream_warc_ingest_replay",
    # r15 third wave: CCNet bucket grid (sources x 3) and the IVM
    # running-aggregate table (per-source)
    "ccnet_perplexity_buckets",
    "native_store_incremental_agg",
    "dedup_url_canonical",
    "sliced_wasserstein_embeddings",
    "stream_drift_monitor_replay",
]

# UNBOUNDED threshold-pair operators over embeddings have
# intrinsically SUPERLINEAR output on this data: at cosine 0.35 a few
# per-mille of RANDOM pairs qualify (~2.8σ of the N(0, 1/64) cosine
# tail), so k× corpus → ~k² cross-replica qualifying pairs, and ANY
# scheme with ≥0.9 recall at the threshold must emit ≥90% of that
# tail — recall and sub-quadratic output are mutually exclusive for
# the all-pairs semantics. The exact operator keeps those semantics
# deliberately (it is the oracle baseline); its elapsed is judged
# against k² shape, not k. The LSH variant was REDEFINED in r8 to the
# bounded production shape (per-vector top-K: output ≤ K·n, linear by
# construction) and is growth-MEASURED below instead of labeled here.
SUPERLINEAR_OUTPUT = {"embedding_near_dup"}

# superlinear WORK with constant output — distinct from the set above
# so the artifact field stays truthful. r8: empty — fuzzy_name_match
# (its former member) now drops blocks over _FUZZY_BLOCK_CAP=128 per
# side before the in-block join, so the k²-candidate blow-up its
# verbatim-name replicas used to trigger is bounded by the cap.
SUPERLINEAR_WORK: set = set()

# growth-MEASURED queries: run_stress counts output rows at both
# scales and derives output_growth empirically (constant / linear /
# superlinear against the k factor) instead of trusting a static
# label. The pair/candidate family lives here because its growth is
# exactly what the stress exists to check.
MEASURE_OUTPUT = {
    # balanced sample: output = #langs × min-lang count — linear in
    # the corpus; measured so the balance property stays observable
    "lang_rebalance_sample",
    # cluster table: grows with the near-dup population — measured so
    # the keep-best decision table's growth stays observable
    "dedup_keep_best_quality",
    "embedding_near_dup",
    "embedding_near_dup_lsh",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_containment",
    "fuzzy_name_match",
    # r12: one row per near-dup pair — rides the pair stage; measured
    "rouge_overlap_neardup",
    # r11: one row per doc-with-bigrams — linear; measured so the
    # selected-fraction stays observable under replication
    "dsir_importance_weights",
    # r11: one row per source×distinct-length — grows with value
    # cardinality (sublinear), exactly what the measurement shows
    "quantile_normalize_doclen",
}

# date-windowed queries: the replica time shift leaves only replica 0
# inside the fixed filter window, so output is CONSTANT and the scaled
# run measures scan+filter of k× history — i.e. how well the date
# predicate prunes. Elapsed ≪ k× is the pass signal here.
DATE_WINDOWED = {"q5_local_supplier_volume"}

# constant-size output by construction at any scale: bm25_topk's query
# terms exist only in replica 0 (the token-prefix bijection renames
# every other replica's vocabulary) and the top-k cut is fixed;
# domain_mix_sample emits one audit row per source and the source
# label set is scale-invariant; numeric_histogram emits one row per
# fixed-width bin. Their scaled run measures the full-corpus scan +
# reduction with a result that must NOT grow.
CONSTANT_OUTPUT = {
    # round-12: fixed grids (priorities/deciles/bins/sources/types/
    # nations/top-K cuts) — output must not grow with the corpus
    # (bh: 5-row fixed family; ratio-dm: 2 variants; binseg: 1 row;
    # assortativity: 1 row; dict audit: 4 fixed columns; jl audit:
    # <= 81 bins by construction of cosine in [-1, 1])
    "bh_fdr_correction",
    "ratio_metric_delta_method",
    "changepoint_binseg",
    "graph_assortativity",
    "dict_encoding_audit",
    "jl_projection_distortion_audit",
    # theil: 1 row; EB shrinkage: bounded nation grid; lorenz: 10
    # decile rows; mcnemar/murphy/kappa: 1-row reductions
    "theil_index_revenue",
    "empirical_bayes_shrinkage",
    "lorenz_curve_points",
    "mcnemar_weekday_weekend",
    "brier_murphy_decomposition",
    "cohens_kappa_langid",
    "g_test_independence",
    "runs_test_randomness",
    # round-12 wave 4: 1-row test reductions over fixed group/series
    # structures (priorities / the calendar-bounded daily series)
    "kruskal_wallis_h",
    "jarque_bera_normality",
    "mann_kendall_trend",
    "durbin_watson_ols",
    "levene_brown_forsythe",
    # wave-5: bounded source-pair grid / per-source rollup / 10 decile
    # rows / gap-bounded life tables
    "hellinger_tv_sources",
    "good_turing_mass",
    "heaps_law_fit",
    "nelson_aalen_hazard",
    "logrank_test_return_time",
    "individuals_control_chart",
    "cochran_q_dow",
    "cochran_armitage_trend",
    "somers_d_gamma_ordinal",
    "gumbel_return_level",
    "anova_oneway_f",
    "calibration_ece",
    "anderson_darling_two_sample",
    "periodogram_power",
    "readability_flesch",
    "ljung_box_test",
    "kendall_w_nation_years",
    "chao1_richness",
    "permutation_entropy_daily",
    "atkinson_index_2",
    "palma_ratio",
    "markov_entropy_rate",
    "jackknife_ratio_se",
    "page_hinkley_drift",
    "graph_modularity_by_source",
    "embedding_anisotropy_audit",
    "spiegelhalter_z_calibration",
    "fleiss_kappa_quality_raters",
    "silhouette_simplified_labels",
    "davies_bouldin_labels",
    "granger_causality_lag1",
    "embedding_effective_rank",
    "odds_ratio_weekend_purchase",
    "capture_recapture_users",
    "value_at_risk_daily",
    "hurst_rs_exponent",
    "breusch_pagan_test",
    "chow_test_midpoint",
    "cooks_distance_top_days",
    "pettitt_test",
    "wilcoxon_signed_rank",
    "mean_reversion_half_life",
    "diebold_mariano_forecasts",
    "cvm_kuiper_two_sample",
    "bartlett_test",
    "kpss_level_test",
    "moods_median_test",
    "jonckheere_terpstra",
    "negative_binomial_fit",
    "bimodality_coefficient",
    "hoover_index",
    "bowley_quartile_skew",
    "poisson_bootstrap_ci",
    "mann_whitney_u",
    "effect_size_cohens_d",
    "tokenizer_vocab_coverage",
    "event_count_overdispersion",
    "mode_per_group",
    "bigram_cond_entropy_by_source",
    "neyman_allocation",
    "trimmed_mean_robust",
    "herfindahl_concentration",
    "pr_auc_average_precision",
    "lift_gain_table",
    "isotonic_calibration_pava",
    "doclen_tail_hill",
    "bm25_topk",
    # fixed-size audits/readouts: 5 edges / 1 row / 2 layouts / 2 arms /
    # 5 event types regardless of data volume
    "join_cardinality_estimate_audit",
    "bitmap_index_intersect",
    "zorder_layout_audit",
    "cuped_adjusted_lift",
    "robust_mad_outliers",
    # fixed query set x fixed k / fixed fused list depth / bounded
    # category set
    "hard_negative_mining",
    "rrf_rank_fusion",
    "woe_iv_feature_screen",
    # one row per channel; the channel set is scale-invariant
    "markov_attribution_removal",
    # bounded source-pair matrix / arm set / fixed peel rounds
    "embedding_source_drift",
    "ucb_arm_ranking",
    "kcore_graph_trim",
    # 4 fixed config rows; candidate counts inside them are the measure
    "minhash_band_tuning_curve",
    # 2 fixed quantile rows / 3 fixed nprobe rows
    "equiwidth_hist_quantile_audit",
    "ann_nprobe_recall_curve",
    # 1-row audit; at 10x members the fixed-m bloom saturates and
    # pruned_ppm -> 0 — measuring that IS the audit's job
    "bloom_join_prune_audit",
    # per-source / per-lang rollups: scale-invariant key sets
    "dedup_shrinkage_report",
    "tokenizer_fertility_by_lang",
    # fixed 6-row upper triangle from a 1-row moment reduction
    "numeric_corr_matrix",
    "spearman_rank_corr",
    "cramers_v_priority_status",
    "kendall_tau_quantity_discount",
    "ks_test_click_view_value",
    "welch_t_click_view",
    "binary_quantize_recall",
    "daily_acf_curve",
    "cross_source_dup_matrix",
    "temperature_mix_weights",
    "domain_mix_sample",
    "numeric_histogram",
    # vocab: top-100 cut is fixed; centroids: labels × 64 dims
    "vocab_topk_ids",
    "embedding_label_centroids",
    # fixed-size outputs: top-50-vocab pair matrix, 1-row rollups,
    # quartile-band grid, 168-cell seasonality, 20-query kNN vote
    "cooccurrence_pmi",
    "pareto_customer_share",
    "rfm_segments",
    "session_duration_stats",
    "events_hourly_seasonality",
    "knn_classify_majority",
    # 1-row rollups, fixed top-k cuts, per-source/per-priority grids
    "ml_roc_auc",
    "weighted_median_price",
    "heavy_hitters_cms",
    "distinct_kmv_estimate",
    "sequence_gap_audit",
    "event_trigram_topk",
    "inverted_postings",
    "boilerplate_ngrams",
    "chi2_discriminative_terms",
    "source_token_entropy",
    "text_vocab_richness",
    "triangle_count_neardup",
    "link_prediction_jaccard",
    # the frontier grows ~log-slowly; replicas add few non-dominated rows
    "skyline_price_recency",
    "distinct_hll_manual",
    "bootstrap_ci_revenue",
    "daily_counts_autocorr",
    "session_entry_exit_paths",
    "zipf_slope_fit",
    "embedding_outlier_topk",
    "weekly_seasonality_strength",
    "k_anonymity_audit",
    "target_encode_segments",
    "hashed_feature_cross",
    "uplift_by_segment",
    "funnel_time_constrained",
    "revenue_share_hierarchy",
    "price_tier_assignment",
    "table_checksum_orders",
    "interpurchase_time_stats",
    "events_burstiness",
    "embedding_dim_quantiles",
    "embedding_principal_direction",
    "seasonality_dow_index",
    "revenue_movers_mom",
    "discount_elasticity",
    # 25-row nation allocation; 5-row priority forecast (trailing
    # window keeps only the latest replica's dates)
    "allocation_largest_remainder",
    "ses_forecast_daily",
    # 3-row coverage curve, 2-row channel rollup, 20-cell quantile
    # grid, 1-row recall audit
    "vocab_coverage_curve",
    "attribution_linear_batch",
    "percentile_disc_by_segment",
    "lsh_recall_report",
    # 5-rule report; 5-type winsorized rollup (histogram bounded by
    # the value range, not rows)
    "quality_gopher_rules",
    "events_value_winsorized",
    # 1-row sketch-merge audit
    "hll_union_sources",
    # bounded query set x top-k overlap; 5-type contract audit; 64
    # streaming registers
    "matryoshka_truncate_audit",
    "approx_percentile_contract",
    "stream_hll_registers_replay",
    # 1-row leakage/FPR audits, 16-bucket checksum grid, top-8 BPE cut
    "split_leakage_audit",
    "bloom_filter_fpr",
    "table_checksum_buckets",
    "bpe_merge_candidates",
    "bpe_trained_merges",
    # <=33-row Hamming histogram; 5-type PSI grid; 10-cohort pivot
    "simhash_hamming_histogram",
    "drift_psi_daily",
    "pivot_multi_agg",
    # 15-row epoch heads, 4-row label rollup, 3-row SRM grid
    "epoch_shuffle_order",
    "join_null_safe",
    "ab_srm_check",
    # trailing-365-day pair loop -> 1-row slope median; 10-pair type
    # matrix; 10-label MaxSim rollup
    "theil_sen_trend",
    "audience_overlap_matrix",
    "colbert_maxsim_labels",
    # 2-row recall curve; 10-cohort Wilson grid
    "ivf_recall_curve",
    "ctr_wilson_interval",
    "ols_daily_revenue_trend",
    # 20-row source plan; 1-row NDCG/MI rollups
    "token_budget_selection",
    "ivf_ndcg_audit",
    "price_qty_mutual_info",
    # r11: 4-channel Shapley grid, 5-priority coverage/MDE grids,
    # 3-flag sign screen, fixed top-50 sampling-table head, 1-row
    # fixed-sample blocking audit
    "shapley_attribution",
    "conformal_interval_coverage",
    "power_analysis_mde",
    "simpson_paradox_detector",
    "negative_sampling_table",
    "fuzzy_blocking_recall_audit",
    # r11 late: 1-row MRR rollup, 5-look sequential grid, 7-row
    # forecast horizon, 3-field EM parameter table
    "retrieval_mrr_audit",
    "obrien_fleming_sequential",
    "holt_winters_forecast",
    "record_linkage_em_weights",
    # fixed top-100 weighted sample
    "weighted_sample_gumbel",
    # r14 wave A: 1-row 2x2/cohort/scale/agreement stats, 3-row VIF,
    # O(sources)-row text mixes (source set is fixed), K-row merge
    # table and O(sources)-row fertility
    "phi_yule_binary_association",
    "relative_risk_cohort",
    "ansari_bradley_scale_test",
    "krippendorff_alpha_nominal",
    "vif_collinearity_audit",
    "char_class_mix_audit",
    "kl_divergence_sources",
    "bpe_trained_fertility",
    # r14 wave B bounded outputs: top-20 bursty terms, O(sources)
    # histogram grid (source set fixed)
    "word_burstiness_topk",
    "image_luma_histogram_by_source",
    # r14 wave C: bounded 125-class TV grid; 3-row quantile registers
    "t_closeness_audit",
    "stream_quantile_sketch_replay",
    # r15: per-source DOM/markdown rollups — source set is fixed;
    # 7-row maintenance verdict table — slice count is fixed
    "html_structure_stats",
    "stream_maintenance_pin_replay",
    "md_structure_by_source",
    "url_tld_rollup",
    "jsonl_corrupt_audit",
    "dp_histogram_release",
    "robots_compliance_screen",
    "jsonl_quarantine_loadflow",
    "stream_format_router_replay",
    "unigram_lm_em_vocab",
    "unigram_lm_fertility",
    "native_store_manifest_interop",
    "benford_first_digit_audit",
    "xml_xpath_structure",
    # K-row merge table / per-source fertility — both fixed-size
    "wordpiece_trained_merges",
    "wordpiece_trained_fertility",
    # r15 second wave: per-source WARC rollups (source set fixed),
    # 1-row prune accounting, per-source pipeline tally, sources²
    # Wasserstein grid, top-15 RAKE cut, 5 curriculum phases, 6-row
    # replay tally
    "warc_source_rollup",
    "warc_truncation_audit",
    "native_store_manifest_pruning",
    "pretrain_pipeline_e2e",
    "wasserstein_doclen_sources",
    "rake_keyword_topk",
    "curriculum_phase_audit",
    "stream_warc_ingest_replay",
    # r15 third wave: bounded (source x bucket) grid / per-source table
    "ccnet_perplexity_buckets",
    "native_store_incremental_agg",
    "dedup_url_canonical",
    "sliced_wasserstein_embeddings",
    "stream_drift_monitor_replay",
}


def classify_growth(base_r: int, scaled_r: int, k: int) -> str:
    """Empirical output-growth label vs the k replication factor
    (1.5 slack for boundary/banding noise). A zero base makes ratio
    checks meaningless (0·k == 0 would label ANY nonzero scaled count
    superlinear — ADVICE r8), so classify degenerate bases by
    absolute scaled rows instead."""
    if base_r == 0:
        if scaled_r == 0:
            return "output-constant (measured)"
        if scaled_r <= k * 1.5:
            return "linear (measured)"
        return "indeterminate (base empty)"
    if scaled_r <= base_r * 1.5:
        return "output-constant (measured)"
    if scaled_r <= base_r * k * 1.5:
        return "linear (measured)"
    return "superlinear (measured)"


def _replica_signs(i: int) -> list[float]:
    rng = np.random.RandomState(1000 + i)
    return [float(s) for s in rng.choice([-1.0, 1.0], size=EMB_DIM)]


def _replica(spark, table: str, df, i: int):
    from pyspark.sql import functions as F

    if i == 0:
        return df
    out = df
    for key in KEYS[table]:
        out = out.withColumn(key, F.col(key) + F.lit(i * KEY_OFFSET))
    for tcol in TIME_COLS.get(table, []):
        out = out.withColumn(
            tcol,
            F.expr(f"{tcol} + make_interval({i * YEAR_SHIFT}, 0, 0, 0, 0, 0, 0)"),
        )
    if table == "documents":
        out = out.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(F.lit(f"r{i}"), w),
                ),
                " ",
            ),
        )
    if table == "embeddings":
        signs = "array(" + ", ".join(f"{s}D" for s in _replica_signs(i)) + ")"
        out = out.withColumn(
            "embedding",
            F.expr(
                f"zip_with(embedding, {signs},"
                " (x, s) -> CAST(CAST(x AS DOUBLE) * s AS FLOAT))"
            ),
        )
    return out


def make_scaled(spark, src: str, dst: str, k: int) -> None:
    """Write a k× controlled-statistics replica of ``src`` to ``dst``
    (shared dims copied once; see module docstring for the rules)."""
    from rs_streamloader_spark.session import load_tables

    os.makedirs(dst, exist_ok=True)
    marker = os.path.join(dst, "_COMPLETE.json")
    if os.path.exists(marker):
        os.remove(marker)
    for table in KEYS:
        base = load_tables(spark, src, table)[table]
        if KEYS[table]:
            parts = [_replica(spark, table, base, i) for i in range(k)]
            scaled = parts[0]
            for p in parts[1:]:
                scaled = scaled.unionByName(p)
        else:
            scaled = base  # shared dimension
        scaled.write.mode("overwrite").parquet(os.path.join(dst, f"{table}.parquet"))
    # written LAST: its presence (with matching k/src) certifies a full
    # generation — a lineitem.parquet existence probe passes on a
    # generation interrupted mid-way (lineitem is written 7th of 10)
    with open(marker, "w") as fh:
        json.dump({"k": k, "src": src}, fh)
    # the table-plan memo may hold dst's PREVIOUS file listing if this
    # regenerated an existing replica dir within one session
    from rs_streamloader_spark.session import clear_table_cache

    clear_table_cache()


def scaled_dir_ready(dst: str, src: str, k: int) -> bool:
    """True iff ``dst`` holds a COMPLETE k× replica of ``src`` — i.e.
    make_scaled finished and was run with the same parameters (a
    leftover dir from a different k would silently mis-stamp every
    ratio in the artifact)."""
    try:
        with open(os.path.join(dst, "_COMPLETE.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return False
    return meta.get("k") == k and meta.get("src") == src


def run_stress(spark, base_sf: str, scaled_sf: str, k: int) -> dict:
    """Time the heavy tail at both scales (noop write — full plan, no
    driver collect), with plan-shape fingerprints at each scale."""
    from rs_streamloader_spark.operators import REGISTRY

    # warm the Python worker pool once: the first Arrow/pandas query
    # of a session pays worker spawn, which otherwise lands on
    # whichever replay runs first and distorts its base/scaled ratio
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "bigint")
    spark.range(100).select(_warm("id")).count()

    out: dict[str, dict] = {}
    for name in HEAVY_TAIL:
        # lookup inside the per-query guard below would be better, but
        # a rename must not abort a half-done sweep either way
        if name not in REGISTRY:
            out[name] = {"err": f"KeyError: {name!r} not in REGISTRY"}
            print(f"STRESS FAIL {name}: not in REGISTRY", file=sys.stderr)
            continue
        fn = REGISTRY[name].fn
        # replays run a real streaming job per call with per-session
        # cold costs (state-store dirs, checkpoint setup) — min-of-2
        # keeps the steady-state number; batch queries stay single-run
        # (their plans re-execute identically)
        runs = 2 if name.endswith("_replay") else 1
        row: dict = {}
        try:
            _stress_one(spark, name, fn, runs, base_sf, scaled_sf, k, row)
        except Exception as exc:  # record, keep sweeping the catalog
            row["err"] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"STRESS FAIL {name}: {row['err']}", file=sys.stderr)
        out[name] = row
        print(
            f"STRESS {name}: {json.dumps(row)[:220]}", file=sys.stderr, flush=True
        )
    return {"k": k, "queries": out}


def _stress_one(spark, name, fn, runs, base_sf, scaled_sf, k, row) -> None:
    """Fill one stress row in place (split out so run_stress can catch
    per-query failures without losing the rest of a catalog sweep)."""
    from rs_streamloader_spark.plans.inspect import (
        has_broadcast_join,
        shuffle_count,
    )
    from rs_streamloader_spark.session import clear_stage_cache

    for label, sf in (("base", base_sf), ("scaled", scaled_sf)):
        best = None
        for _ in range(runs):
            clear_stage_cache()
            # fn inside the timer: the *_replay wrappers run their
            # streaming job eagerly in fn (the returned DataFrame
            # is a read of the landed output) — timing only the
            # noop write would measure nothing for them. For lazy
            # batch queries fn() is plan construction, microseconds.
            t0 = time.perf_counter()
            df = fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
        row[f"{label}_sec"] = round(best, 3)
        row[f"{label}_shape"] = {
            "shuffles": shuffle_count(df),
            "broadcast": has_broadcast_join(df),
        }
        if name in MEASURE_OUTPUT:
            # outside the timer: count re-executes the plan
            row[f"{label}_rows"] = df.count()
    row["ratio"] = (
        round(row["scaled_sec"] / row["base_sec"], 2)
        if row["base_sec"] > 0
        else None
    )
    if name in MEASURE_OUTPUT:
        base_r, scaled_r = row["base_rows"], row["scaled_rows"]
        row["rows_ratio"] = round(scaled_r / base_r, 2) if base_r else None
        row["output_growth"] = classify_growth(base_r, scaled_r, k)
    elif name in SUPERLINEAR_OUTPUT:
        row["output_growth"] = "superlinear"
    elif name in SUPERLINEAR_WORK:
        row["output_growth"] = "superlinear-work"
    elif name in DATE_WINDOWED:
        row["output_growth"] = "window-constant"
    elif name in CONSTANT_OUTPUT:
        row["output_growth"] = "output-constant"
    else:
        row["output_growth"] = "linear"
    row["shape_stable"] = row["base_shape"] == row["scaled_shape"]


def main() -> None:
    from rs_streamloader_spark.session import env_int, get_session

    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    k = env_int("RS_SL_SCALE_K", 10, lo=1)
    base_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scaled_sf = os.environ.get("RS_SL_SCALED_DIR", "/tmp/rs_sl_sf1")
    spark = get_session(app_name="rs_sl_scale_stress")
    spark.sparkContext.setLogLevel("ERROR")
    if cmd == "gen":
        make_scaled(spark, base_sf, scaled_sf, k)
        print(json.dumps({"generated": scaled_sf, "k": k}))
        return
    result = run_stress(spark, base_sf, scaled_sf, k)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
