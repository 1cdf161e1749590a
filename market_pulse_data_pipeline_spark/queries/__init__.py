"""Driver-contract query registry.

Each entry pairs a Spark DataFrame implementation with an equivalent
ANSI-SQL oracle that DuckDB runs on the same parquet tables
(CORRECTNESS gate, see /root/repo/__spark_entry__.py). Column names and
types are aligned on both sides; float aggregates go through an exact
decimal sum so the value-hash is independent of partial-aggregation
order (see queries.common).
"""

from __future__ import annotations

from market_pulse_data_pipeline_spark.queries.common import QUERY_REGISTRY, QueryDef  # noqa: F401

# importing the modules registers their queries
from market_pulse_data_pipeline_spark.queries import reference  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import tpch  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import text  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import dedup  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import similarity  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import events  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import scale_paths  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import analytics  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import asof  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import streaming_evidence  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import corpus  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import quality  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import formats  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import ml  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import sqltext  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import incremental  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import relevance  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import layout  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import sketches  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import shuffle_ops  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import mining  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r7_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r8_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r9_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r10_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r11_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r12_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r13_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r14_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r15_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r16_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r17_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r18_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r19_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r20_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r21_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r22_staging  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import r23_staging  # noqa: F401, E402


# The driver's correctness harness snapshots exactly the FIRST 50
# entries of queries() in iteration order. The registry is in STEADY
# STATE (CORRECTNESS_r06 closed the ledger at 241/241): each round's
# window re-witnesses the STALEST rows — oldest witness round first,
# original window order within a round — with one exception: names
# that have NEVER had a driver row (the previous round's deferral
# list) go to the very head, so new operators get their first witness
# exactly one round after they register.
# all_queries() orders: (0) this round's rotation window, (1)
# never-witnessed registrations (`_R17_DEFER` — new operators land
# AFTER the window so they can never displace a verified slot; they
# head the NEXT round's window), (2) remaining driver-green rows,
# stalest first.
#
# Round-15 window (VERDICT.md round 14 "Next round" #2+#3): the 3
# round-15 registrations — the r23_staging batch flipping on its
# named round (registry 298 → 301) — taking their FIRST driver
# witness at the head (they landed BEFORE the window pin, so
# never-witnessed beats stale; CORRECTNESS_r14 was 50/50 green, so no
# red row outranks the rotation), then the 47 stalest green rows: the
# 47-row head of the 48-row CORRECTNESS_r09 ledger remainder
# (hourly_activity_bitmask … winnowing_cluster_dedup — after this
# round exactly ONE r9-witnessed row remains,
# boilerplate_sentence_removal, absorbed by round 17's tail).
# Round 16 (an optimization round) froze the rotation, so this same
# window ran twice: CORRECTNESS_r15 AND CORRECTNESS_r16, both 50/50
# green. Kept for the r16 ledger block below; the live window is
# _R17_WINDOW. Pinned literally so any registry or ledger edit that would
# shift the driver's snapshot fails tests/test_window_composition.py
# loudly.
_R15_WINDOW = [
    # first driver witness for the three round-15 registrations —
    # the r23_staging batch in registration order
    "t_closeness_check", "auc_quality_classifier",
    "unimax_epoch_cap_allocation",
    # then the 47 stalest r9 greens (CORRECTNESS_r09 remainder in
    # ledger-insertion order: the 42 r4-positioned re-witnesses
    # refreshed in r9, then 5 of the 6 rows that entered the ledger
    # at the r9 block — boilerplate_sentence_removal stays for r16)
    "hourly_activity_bitmask", "source_mixture_weights",
    "table_fingerprint_orders", "cdc_version_diff", "cdc_apply_changes",
    "streaming_cdc_apply", "kmv_distinct_partkeys", "countmin_user_freq",
    "weighted_sample_per_lang", "kmv_join_cardinality_estimate",
    "ewma_value_10tap", "rolling_drawdown", "range_frame_7day_revenue",
    "vwap_per_part", "bollinger_bands_20d", "twap_value_per_user",
    "rsi_14_daily_revenue", "max_drawdown_summary",
    "ohlc_multi_granularity", "autocorr_lag1_daily_revenue",
    "cusum_changepoint_by_supplier", "beta_vs_market_by_supplier",
    "quantile_normalize_value", "kwic_concordance",
    "dedup_survivor_policy", "dedup_prefix_filter_join",
    "matryoshka_truncation_quality", "contrastive_negative_sampling",
    "event_type_transition_matrix", "funnel_multi_step",
    "dow_hour_seasonality", "cohort_ltv_curve", "debounce_dedup_events",
    "rank_functions_suite", "grouping_sets_flags",
    "profile_columns_lineitem", "skew_heavy_hitters",
    "streaming_dedup_watermark", "streaming_interval_join_attribution",
    "streaming_stateful_user_stats", "streaming_static_enrich",
    "vocab_top_tokens",
    "ccnet_perplexity_buckets", "mixture_temperature_weights",
    "winnowing_fingerprint_pairs", "eval_decontaminate_exact_ngrams",
    "winnowing_cluster_dedup",
]

# the round-15/16 window head: names that took their FIRST driver row
# in those rounds (now in the ledger at round 16)
_R15_FIRST_WITNESS = _R15_WINDOW[:3]

# Round-17 window (VERDICT r16 "Next round" item 3): an optimization
# round rewrote ~19 query paths in rounds 16-17 while the rotation was
# frozen, so the cadence is overridden once — the window LEADS with
# the touched-but-unwitnessed benched queries (every r16/r17 rewrite
# plus one kmeans_snapped_fit consumer for the fused-fit family),
# then resumes stalest-first (the last r9 row, then the r10 ledger
# head). Only registered queries can take a window slot.
_R17_TOUCHED = [
    "semdedup_prune", "semdedup_scaled_prune", "basket_lift_pairs",
    "weekly_rollup", "rolling_avg_7rows", "weekly_ohlc",
    "tpch_q1_pricing_summary", "paragraph_simhash_near_dups",
    "incremental_sessionization", "bloom_decontaminate_portable",
    "exact_substring_trim", "incremental_near_dup_lsh",
    "eval_decontaminate_semantic", "containment_excerpt_dups",
    "minhash_lsh_near_dups", "eval_decontaminate_fuzzy_minhash",
    "gopher_repetition_filters", "embedding_kmeans_clusters",
    "tpch_q9_product_profit", "kmv_distinct_partkeys",
    "gazetteer_phrase_match",
]
_R17_WINDOW = _R17_TOUCHED + [
    # stalest greens, oldest witness round first, ledger-insertion
    # order within a round (computed from the post-r16 ledger,
    # skipping the touched head; pinned by
    # tests/test_window_composition.py)
    "boilerplate_sentence_removal",
    "cross_corpus_dedup_exact", "doc_chunking",
    "mixture_rebalanced_sample", "bernoulli_sample_hash",
    "corpus_pipeline_end_to_end", "corpus_quality_filter",
    "text_pii_redact", "char_class_profile", "sentence_dedup_profile",
    "scd2_user_event_type_history", "dedup_fuzzy_blocked",
    "k_anonymity_check", "benford_first_digit_audit",
    "chi2_independence_lang_source", "format_roundtrip_orc",
    "format_roundtrip_csv", "format_roundtrip_jsonl",
    "partitioned_write_readback", "schema_evolution_read",
    "pagerank_user_event_graph", "centroid_classifier_confusion",
    "embedding_mean_pool_by_label", "sql_text_shared_dialect",
    "sql_registered_udf", "sql_lateral_top2_orders",
    "udtf_split_sentences", "incremental_agg_maintenance",
    "calendar_gapfill_ffill",
]

# Round-16/17 registrations awaiting deferral per the round-4
# displacement rule (additions never displace a verified window).
# Empty: rounds 16-17 are optimization rounds, the registry is frozen
# at 301.
_R17_DEFER: list[str] = []

# name -> latest CORRECTNESS_r{N}.json round with a green driver row.
# Insertion order within a round is the original witness-window order;
# stalest_green() consumes (round, insertion order) to schedule the
# steady-state oldest-witness-first re-witness cadence.
_DRIVER_GREEN = {}
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r02.json — 49 green rows (embedding_int8_quantize
    # erred there; re-witnessed green in r03).
    "weekly_rollup", "json_path_extract", "explode_words",
    "dim_case_mapping", "left_join_enrich", "derived_metrics",
    "distinct_keys", "keyed_upsert", "dedup_keep_latest",
    "incremental_merge", "qc_not_null_violations", "qc_unique_violations",
    "map_explode_props", "variant_path_extract", "qc_anti_join_orphans",
    "qc_accepted_values_violations", "argmin_unit_price_supplier",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q4_order_priority", "tpch_q6_forecast_revenue",
    "tpch_q12_shipmode_priority", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue", "tpch_q5_local_supplier",
    "tpch_q13_customer_distribution", "tpch_q16_supplier_part_counts",
    "tpch_q22_dormant_rich_customers", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue", "text_token_count",
    "text_quality_score", "text_lang_stats", "lang_id_heuristic",
    "doc_fingerprint", "text_bpe_token_estimate", "multimodal_meta",
    "text_repetition_stats", "text_pii_scan",
    "contamination_ngram_overlap", "stratified_sample_per_lang",
    "token_budget_packing", "dedup_exact", "dedup_ngram_jaccard",
    "similarity_topk_cosine", "embedding_label_centroid_norm",
    "embedding_quantization_error",
], 2))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r03.json — 49 green rows.
    "event_hourly_windows", "event_sliding_windows",
    "dedup_cluster_assignment", "market_pulse_end_to_end",
    "minhash_lsh_portable", "asof_join_latest_anchor",
    "range_join_price_bands", "rolling_avg_7rows", "weekly_ohlc",
    "embedding_int8_quantize", "streaming_ingest_upsert",
    "streaming_windowed_agg", "pivot_lang_counts", "rollup_qty",
    "cube_counts", "top3_per_supplier", "semi_join_big_spenders",
    "set_ops_nations", "except_user_event_pairs", "lag_lead_weekly",
    "regr_slope_by_event_type", "value_histogram_by_event_type",
    "corr_quantity_price_by_flag", "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit", "tpch_q11_important_stock",
    "tpch_q15_top_supplier", "tpch_q17_small_quantity_revenue",
    "tpch_q20_excess_stock_suppliers", "tpch_q21_waiting_suppliers",
    "exact_substring_spans", "label_centroid_pairwise_cosine",
    "session_window_native", "retention_cohorts",
    "event_funnel_signup_purchase", "media_frame_sample",
    "numeric_functions_suite", "zscore_outliers", "bool_aggregates",
    "variance_by_event_type", "regex_extract_props",
    "percentiles_by_event_type", "approx_distinct_parts",
    "collect_sorted_event_types", "string_functions_suite",
    "date_functions_suite", "approx_percentiles_events",
    "full_outer_reconciliation", "array_functions_suite",
], 3))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r04.json — 50/50 green (the first fully green round).
    "sessionization", "running_distinct_event_types",
    "hourly_activity_bitmask", "source_mixture_weights",
    "table_fingerprint_orders", "cdc_version_diff", "cdc_apply_changes",
    "streaming_cdc_apply", "kmv_distinct_partkeys", "countmin_user_freq",
    "weighted_sample_per_lang", "kmv_join_cardinality_estimate",
    "ewma_value_10tap", "rolling_drawdown", "range_frame_7day_revenue",
    "vwap_per_part", "bollinger_bands_20d", "twap_value_per_user",
    "rsi_14_daily_revenue", "max_drawdown_summary",
    "ohlc_multi_granularity", "autocorr_lag1_daily_revenue",
    "cusum_changepoint_by_supplier", "beta_vs_market_by_supplier",
    "quantile_normalize_value", "kwic_concordance",
    "dedup_survivor_policy", "dedup_prefix_filter_join",
    "matryoshka_truncation_quality", "contrastive_negative_sampling",
    "event_type_transition_matrix", "funnel_multi_step",
    "dow_hour_seasonality", "cohort_ltv_curve", "debounce_dedup_events",
    "rank_functions_suite", "grouping_sets_flags",
    "profile_columns_lineitem", "skew_heavy_hitters",
    "streaming_dedup_watermark", "streaming_interval_join_attribution",
    "streaming_stateful_user_stats", "streaming_static_enrich",
    "vocab_top_tokens", "cross_corpus_dedup_exact", "doc_chunking",
    "mixture_rebalanced_sample", "bernoulli_sample_hash",
    "corpus_pipeline_end_to_end", "corpus_quality_filter",
], 4))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r05.json — 50/50 green (the round-5 window, verbatim
    # order; includes the four shuffle-discipline proof rows).
    "text_pii_redact", "char_class_profile", "sentence_dedup_profile",
    "scd2_user_event_type_history", "dedup_fuzzy_blocked",
    "k_anonymity_check", "benford_first_digit_audit",
    "chi2_independence_lang_source", "format_roundtrip_orc",
    "format_roundtrip_csv", "format_roundtrip_jsonl",
    "partitioned_write_readback", "schema_evolution_read",
    "pagerank_user_event_graph", "centroid_classifier_confusion",
    "embedding_mean_pool_by_label", "sql_text_shared_dialect",
    "sql_registered_udf", "sql_lateral_top2_orders",
    "udtf_split_sentences", "incremental_agg_maintenance",
    "calendar_gapfill_ffill", "pointer_swap_time_travel",
    "join_strategy_independence", "tfidf_top_terms", "bm25_score_query",
    "zorder_locality_boxes", "bigram_fluency_score", "media_audio_windows",
    "array_setops_user_events", "higher_order_array_suite",
    "sql_scalar_udf_params", "sql_table_function_orders",
    "salted_skew_aggregate", "bucketed_join_colocated",
    "bloom_filter_prejoin", "compaction_roundtrip", "basket_lift_pairs",
    "triangle_count_parts", "split_leakage_safe", "unpivot_nation_metrics",
    "sql_recursive_cte", "xml_parse_roundtrip", "hll_sketch_mergeability",
    "mad_robust_outliers", "cogroup_signup_purchase_counts",
    "event_sequence_pattern_match", "peak_concurrency_sweep",
    "streaming_session_window", "collation_case_insensitive_group",
], 5))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r06.json — 50/50 green (the ledger-zeroing window,
    # verbatim order: 43 backlog rows + the SURVEY-§2 reference-chain
    # re-witness). Every registered query now has a driver row.
    "bpe_learned_merges", "embedding_pca_project",
    "media_decode_features", "media_resize",
    "embedding_kmeans_clusters", "embedding_kmeans_sizes",
    "minhash_lsh_near_dups", "embedding_near_dups", "ann_lsh_topk",
    "ann_ivf_topk", "pq_encode_embeddings", "ann_pq_adc_topk",
    "try_functions_suite", "salted_replicate_join",
    "hashed_linear_quality_score", "mixture_epoch_expansion",
    "watermark_delay_estimate", "prefix_sum_two_phase",
    "simhash_portable", "ann_recall_at_10", "tick_rule_trade_signs",
    "label_propagation_communities", "scd2_point_in_time_join",
    "qc_profile_drift", "sql_pipe_syntax", "pandas_api_groupby",
    "python_datasource_stream", "m4_downsample",
    "calendar_interpolate_linear", "ab_test_proportions",
    "interval_merge_maximal", "ndcg_at_k", "vocab_unk_rate",
    "qc_join_multiplicity", "graph_bfs_k_hop",
    "streaming_outer_join_eviction", "linear_regression_gd",
    "skyline_pareto_parts", "quota_largest_remainder",
    "attribution_position_credit", "heavy_hitters_mg_verified",
    "vocab_top_p_coverage", "rrf_hybrid_fusion",
    "weekly_rollup", "dim_case_mapping", "derived_metrics",
    "keyed_upsert", "qc_not_null_violations", "qc_anti_join_orphans",
    "left_join_enrich",
], 6))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r07.json — 50/50 green (the first steady-state
    # re-witness window, verbatim order: the 42 r2 survivors then the
    # first 8 r3 rows). All 50 were already green from r2/r3; this
    # update refreshes their witness round to 7 — dict.update keeps
    # each name's original insertion position, which is exactly the
    # "original window order within a round" the cadence sorts on.
    "json_path_extract", "explode_words", "distinct_keys",
    "dedup_keep_latest", "incremental_merge", "qc_unique_violations",
    "map_explode_props", "variant_path_extract",
    "qc_accepted_values_violations", "argmin_unit_price_supplier",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q4_order_priority", "tpch_q6_forecast_revenue",
    "tpch_q12_shipmode_priority", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue", "tpch_q5_local_supplier",
    "tpch_q13_customer_distribution", "tpch_q16_supplier_part_counts",
    "tpch_q22_dormant_rich_customers", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue", "text_token_count",
    "text_quality_score", "text_lang_stats", "lang_id_heuristic",
    "doc_fingerprint", "text_bpe_token_estimate", "multimodal_meta",
    "text_repetition_stats", "text_pii_scan",
    "contamination_ngram_overlap", "stratified_sample_per_lang",
    "token_budget_packing", "dedup_exact", "dedup_ngram_jaccard",
    "similarity_topk_cosine", "embedding_label_centroid_norm",
    "embedding_quantization_error",
    "event_hourly_windows", "event_sliding_windows",
    "dedup_cluster_assignment", "market_pulse_end_to_end",
    "minhash_lsh_portable", "asof_join_latest_anchor",
    "range_join_price_bands", "rolling_avg_7rows",
], 7))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r08.json — 50/50 green (the round-8 window, verbatim
    # order: the 9 round-7 registrations taking their first driver
    # witness, then the 41 remaining r3 re-witnesses). dict.update
    # keeps the 41 re-witnesses at their original insertion positions
    # and appends the 9 first-witness names at the end — exactly the
    # shape round 8's r9_rotation() pre-computed.
    "semdedup_prune", "ngram_novelty_profile", "domain_frequency_cap",
    "kcenter_diversity_sample", "colbert_maxsim_topk",
    "incremental_near_dup_lsh", "bpe_encode_corpus",
    "quality_threshold_sweep", "bpe_fertility_by_lang",
    "weekly_ohlc", "embedding_int8_quantize", "streaming_ingest_upsert",
    "streaming_windowed_agg", "pivot_lang_counts", "rollup_qty",
    "cube_counts", "top3_per_supplier", "semi_join_big_spenders",
    "set_ops_nations", "except_user_event_pairs", "lag_lead_weekly",
    "regr_slope_by_event_type", "value_histogram_by_event_type",
    "corr_quantity_price_by_flag", "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit", "tpch_q11_important_stock",
    "tpch_q15_top_supplier", "tpch_q17_small_quantity_revenue",
    "tpch_q20_excess_stock_suppliers", "tpch_q21_waiting_suppliers",
    "exact_substring_spans", "label_centroid_pairwise_cosine",
    "session_window_native", "retention_cohorts",
    "event_funnel_signup_purchase", "media_frame_sample",
    "numeric_functions_suite", "zscore_outliers", "bool_aggregates",
    "variance_by_event_type", "regex_extract_props",
    "percentiles_by_event_type", "approx_distinct_parts",
    "collect_sorted_event_types", "string_functions_suite",
    "date_functions_suite", "approx_percentiles_events",
    "full_outer_reconciliation", "array_functions_suite",
], 8))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r09.json — 50/50 green (the round-9 window, verbatim
    # order: the 6 round-8 registrations taking their first driver
    # witness, then the 44 remaining r4 re-witnesses). dict.update
    # keeps the 44 re-witnesses at their original insertion positions
    # and appends the 6 first-witness names at the end — exactly the
    # shape round 9's r10_rotation() pre-computed.
    "ccnet_perplexity_buckets", "mixture_temperature_weights",
    "winnowing_fingerprint_pairs", "eval_decontaminate_exact_ngrams",
    "winnowing_cluster_dedup", "boilerplate_sentence_removal",
    "sessionization", "running_distinct_event_types",
    "hourly_activity_bitmask", "source_mixture_weights",
    "table_fingerprint_orders", "cdc_version_diff", "cdc_apply_changes",
    "streaming_cdc_apply", "kmv_distinct_partkeys", "countmin_user_freq",
    "weighted_sample_per_lang", "kmv_join_cardinality_estimate",
    "ewma_value_10tap", "rolling_drawdown", "range_frame_7day_revenue",
    "vwap_per_part", "bollinger_bands_20d", "twap_value_per_user",
    "rsi_14_daily_revenue", "max_drawdown_summary",
    "ohlc_multi_granularity", "autocorr_lag1_daily_revenue",
    "cusum_changepoint_by_supplier", "beta_vs_market_by_supplier",
    "quantile_normalize_value", "kwic_concordance",
    "dedup_survivor_policy", "dedup_prefix_filter_join",
    "matryoshka_truncation_quality", "contrastive_negative_sampling",
    "event_type_transition_matrix", "funnel_multi_step",
    "dow_hour_seasonality", "cohort_ltv_curve", "debounce_dedup_events",
    "rank_functions_suite", "grouping_sets_flags",
    "profile_columns_lineitem", "skew_heavy_hitters",
    "streaming_dedup_watermark", "streaming_interval_join_attribution",
    "streaming_stateful_user_stats", "streaming_static_enrich",
    "vocab_top_tokens",
], 9))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r10.json — 50/50 green (the round-10 window, verbatim
    # order: the 3 round-10 registrations taking their first driver
    # witness, then the 6 remaining r4 re-witnesses and the 41-row r5
    # ledger head). dict.update keeps the 47 re-witnesses at their
    # original insertion positions and appends the 3 first-witness
    # names at the end — exactly the shape round 10's r11_rotation()
    # pre-computed.
    "gopher_repetition_filters", "eval_decontaminate_fuzzy_minhash",
    "lang_id_rank_profile",
    "cross_corpus_dedup_exact", "doc_chunking",
    "mixture_rebalanced_sample", "bernoulli_sample_hash",
    "corpus_pipeline_end_to_end", "corpus_quality_filter",
    "text_pii_redact", "char_class_profile", "sentence_dedup_profile",
    "scd2_user_event_type_history", "dedup_fuzzy_blocked",
    "k_anonymity_check", "benford_first_digit_audit",
    "chi2_independence_lang_source", "format_roundtrip_orc",
    "format_roundtrip_csv", "format_roundtrip_jsonl",
    "partitioned_write_readback", "schema_evolution_read",
    "pagerank_user_event_graph", "centroid_classifier_confusion",
    "embedding_mean_pool_by_label", "sql_text_shared_dialect",
    "sql_registered_udf", "sql_lateral_top2_orders",
    "udtf_split_sentences", "incremental_agg_maintenance",
    "calendar_gapfill_ffill", "pointer_swap_time_travel",
    "join_strategy_independence", "tfidf_top_terms", "bm25_score_query",
    "zorder_locality_boxes", "bigram_fluency_score", "media_audio_windows",
    "array_setops_user_events", "higher_order_array_suite",
    "sql_scalar_udf_params", "sql_table_function_orders",
    "salted_skew_aggregate", "bucketed_join_colocated",
    "bloom_filter_prejoin", "compaction_roundtrip", "basket_lift_pairs",
    "triangle_count_parts", "split_leakage_safe", "unpivot_nation_metrics",
], 10))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r11.json — 50/50 green (the round-11 window, verbatim
    # order: the 6 round-11 registrations taking their first driver
    # witness, then the 9 remaining r5 re-witnesses and the 35-row r6
    # ledger head). dict.update keeps the 44 re-witnesses at their
    # original insertion positions and appends the 6 first-witness
    # names at the end — exactly the shape round 11's r12_rotation()
    # pre-computed.
    "exact_substring_trim", "perplexity_stratified_sample",
    "domain_dedup_quality_gate",
    "paragraph_simhash_near_dups", "doremi_excess_loss_reweight",
    "curriculum_pack_easy_first",
    "sql_recursive_cte", "xml_parse_roundtrip", "hll_sketch_mergeability",
    "mad_robust_outliers", "cogroup_signup_purchase_counts",
    "event_sequence_pattern_match", "peak_concurrency_sweep",
    "streaming_session_window", "collation_case_insensitive_group",
    "weekly_rollup", "dim_case_mapping", "left_join_enrich",
    "derived_metrics", "keyed_upsert", "qc_not_null_violations",
    "qc_anti_join_orphans",
    "bpe_learned_merges", "embedding_pca_project",
    "media_decode_features", "media_resize",
    "embedding_kmeans_clusters", "embedding_kmeans_sizes",
    "minhash_lsh_near_dups", "embedding_near_dups", "ann_lsh_topk",
    "ann_ivf_topk", "pq_encode_embeddings", "ann_pq_adc_topk",
    "try_functions_suite", "salted_replicate_join",
    "hashed_linear_quality_score", "mixture_epoch_expansion",
    "watermark_delay_estimate", "prefix_sum_two_phase",
    "simhash_portable", "ann_recall_at_10", "tick_rule_trade_signs",
    "label_propagation_communities", "scd2_point_in_time_join",
    "qc_profile_drift", "sql_pipe_syntax", "pandas_api_groupby",
    "python_datasource_stream", "m4_downsample",
], 11))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r12.json — 50/50 green (the round-12 window, verbatim
    # order: the 12 round-12 registrations taking their first driver
    # witness, then the 15 remaining r6 re-witnesses and the 23-row r7
    # ledger head). dict.update keeps the 38 re-witnesses at their
    # original insertion positions and appends the 12 first-witness
    # names at the end — exactly the shape round 12's r13_rotation()
    # pre-computed.
    "corpus_yield_funnel", "c4_line_filters",
    "hot_ngram_blocklist_coverage",
    "eval_decontaminate_semantic", "rendezvous_shard_assignment",
    "lsh_recall_curve",
    "dsir_importance_resample", "containment_excerpt_dups",
    "quality_calibration_ece",
    "softdedup_commonness_reweight", "url_canonicalize_dedup",
    "domain_suffix_optout_filter",
    "calendar_interpolate_linear", "ab_test_proportions",
    "interval_merge_maximal", "ndcg_at_k", "vocab_unk_rate",
    "qc_join_multiplicity", "graph_bfs_k_hop",
    "streaming_outer_join_eviction", "linear_regression_gd",
    "skyline_pareto_parts", "quota_largest_remainder",
    "attribution_position_credit", "heavy_hitters_mg_verified",
    "vocab_top_p_coverage", "rrf_hybrid_fusion",
    "json_path_extract", "explode_words", "distinct_keys",
    "dedup_keep_latest", "incremental_merge", "qc_unique_violations",
    "map_explode_props", "variant_path_extract",
    "qc_accepted_values_violations", "argmin_unit_price_supplier",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q4_order_priority", "tpch_q6_forecast_revenue",
    "tpch_q12_shipmode_priority", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue", "tpch_q5_local_supplier",
    "tpch_q13_customer_distribution", "tpch_q16_supplier_part_counts",
    "tpch_q22_dormant_rich_customers", "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
], 12))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r13.json — 50/50 green (the round-13 window,
    # verbatim order: the 12 round-13 registrations taking their
    # first driver witness — the r16_staging .. r19_staging
    # accelerated drain — then the 27-row r7 remainder and the 11-row
    # r8 ledger head re-witnessed). dict.update keeps the 38
    # re-witnesses at their original insertion positions and appends
    # the 12 first-witness names at the end — exactly the shape
    # round 13's r14_rotation() pre-computed.
    "bloom_decontaminate_portable", "html_tag_strip_extract",
    "delta_join_view_maintenance", "semdedup_scaled_prune",
    "tv_distance_source_drift", "l_diversity_check",
    "unicode_fold_normalize", "deletion_vector_scan",
    "dynamic_partition_pruning_join", "sentence_lang_mix_profile",
    "token_spans_offsets", "user_erasure_cascade",
    "tpch_q18_large_volume_customers", "tpch_q19_disjunctive_revenue",
    "text_token_count", "text_quality_score", "text_lang_stats",
    "lang_id_heuristic", "doc_fingerprint", "text_bpe_token_estimate",
    "multimodal_meta", "text_repetition_stats", "text_pii_scan",
    "contamination_ngram_overlap", "stratified_sample_per_lang",
    "token_budget_packing", "dedup_exact", "dedup_ngram_jaccard",
    "similarity_topk_cosine", "embedding_label_centroid_norm",
    "embedding_quantization_error", "event_hourly_windows",
    "event_sliding_windows", "dedup_cluster_assignment",
    "market_pulse_end_to_end", "minhash_lsh_portable",
    "asof_join_latest_anchor", "range_join_price_bands",
    "rolling_avg_7rows", "weekly_ohlc", "embedding_int8_quantize",
    "streaming_ingest_upsert", "streaming_windowed_agg",
    "pivot_lang_counts", "rollup_qty", "cube_counts",
    "top3_per_supplier", "semi_join_big_spenders", "set_ops_nations",
    "except_user_event_pairs",
], 13))
_DRIVER_GREEN.update(dict.fromkeys([
    # CORRECTNESS_r14.json — 50/50 green (the round-14 window,
    # verbatim order: the 9 round-14 registrations taking their first
    # driver witness — the r20_staging .. r22_staging full drain —
    # then the 39-row r8 remainder and the 2-row r9 ledger head
    # re-witnessed). dict.update keeps the 41 re-witnesses at their
    # original insertion positions and appends the 9 first-witness
    # names at the end — exactly the shape round 14's r15_rotation()
    # pre-computed.
    "trigram_substring_index", "equi_depth_histogram_stats",
    "incremental_sessionization",
    "decayed_event_frequency", "json_schema_infer",
    "categorical_dictionary_encode",
    "grid_radius_join", "seasonal_naive_backtest",
    "gazetteer_phrase_match",
    "lag_lead_weekly", "regr_slope_by_event_type",
    "value_histogram_by_event_type", "corr_quantity_price_by_flag",
    "tpch_q2_min_cost_supplier", "tpch_q9_product_profit",
    "tpch_q11_important_stock", "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue", "tpch_q20_excess_stock_suppliers",
    "tpch_q21_waiting_suppliers", "exact_substring_spans",
    "label_centroid_pairwise_cosine", "session_window_native",
    "retention_cohorts", "event_funnel_signup_purchase",
    "media_frame_sample", "numeric_functions_suite", "zscore_outliers",
    "bool_aggregates", "variance_by_event_type", "regex_extract_props",
    "percentiles_by_event_type", "approx_distinct_parts",
    "collect_sorted_event_types", "string_functions_suite",
    "date_functions_suite", "approx_percentiles_events",
    "full_outer_reconciliation", "array_functions_suite",
    "semdedup_prune", "ngram_novelty_profile", "domain_frequency_cap",
    "kcenter_diversity_sample", "colbert_maxsim_topk",
    "incremental_near_dup_lsh", "bpe_encode_corpus",
    "quality_threshold_sweep", "bpe_fertility_by_lang",
    "sessionization", "running_distinct_event_types",
], 14))
# CORRECTNESS_r16.json — 50/50 green: the round-15 window verbatim
# (the round-16 optimization round froze the rotation, so the same 50
# names re-witnessed; CORRECTNESS_r15 was also 50/50 on them).
# dict.update keeps the 47 re-witnesses at their original insertion
# positions and appends the 3 r15 first-witness names at the end.
_DRIVER_GREEN.update(dict.fromkeys(_R15_WINDOW, 16))


def all_queries():
    """Registry ordered for the driver's 50-row correctness window.

    Tiers: (0) this round's rotation window, (1) never-driver-witnessed
    registrations (``_R17_DEFER`` order — after the window, so new
    operators never displace a verified slot), (2) remaining
    driver-green rows, stalest witness first.
    """
    window_rank = {n: i for i, n in enumerate(_R17_WINDOW)}
    green_rank = {n: i for i, n in enumerate(_DRIVER_GREEN)}
    defer_rank = {n: i for i, n in enumerate(_R17_DEFER)}

    def tier(n: str) -> tuple:
        if n in window_rank:
            return (0, window_rank[n], 0)
        if n in _DRIVER_GREEN:
            return (2, _DRIVER_GREEN[n], green_rank[n])
        return (1, defer_rank.get(n, len(defer_rank)), 0)


    names = sorted(QUERY_REGISTRY, key=lambda n: (tier(n),))
    # sorted() is stable -> registration order preserved within tier 1
    return {n: QUERY_REGISTRY[n] for n in names}


def stalest_green(window: int = 50) -> list[str]:
    """The stalest driver-green rows — oldest witness round first,
    ledger-insertion order within a round. ``_R17_WINDOW``'s tail is
    this round's pinned snapshot of exactly the stalest greens minus
    the touched head (a regression test keeps them in lockstep)."""
    order = {n: i for i, n in enumerate(_DRIVER_GREEN)}
    stale = sorted(_DRIVER_GREEN, key=lambda n: (_DRIVER_GREEN[n], order[n]))
    return stale[:window]


def r18_rotation(window: int = 50) -> list[str]:
    """The proposed round-18 window under the steady-state cadence:
    never-witnessed registrations at the head (``_R17_DEFER``, empty
    while the registry is frozen at 301), then the stalest greens
    assuming this round's window lands green (its 50 names move to
    round 17 in the ledger): the r10 ledger remainder continues the
    rotation. Any r17 RED row outranks all of this and goes to the very
    front instead (red beats rotation)."""
    never = [n for n in _R17_DEFER if n in QUERY_REGISTRY]
    after_r17 = dict(_DRIVER_GREEN)
    # update() keeps existing positions for re-witnesses — the same
    # shape next round's literal ledger edit will produce
    after_r17.update(dict.fromkeys(_R17_WINDOW, 17))
    order = {n: i for i, n in enumerate(after_r17)}
    stale = sorted(after_r17, key=lambda n: (after_r17[n], order[n]))
    return (never + stale)[:window]
