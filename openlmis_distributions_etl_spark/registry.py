"""Query registry: name → callable(spark, sf_dir) -> DataFrame.

The single source of truth for SURVEY.md §2 coverage; __spark_entry__
re-exports it for the driver, tests replay it against the DuckDB
oracles in oracles.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .functions.cache import release_retained
from .operators import (analytics, asof, dedup, multimodal, relational,
                        similarity, stores, suffix, text, windows)
from .plans import curation, expectations, star
from .sources import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]

_OPERATORS = {
    # §2.A relational core
    "q1_pricing_summary": relational.q1_pricing_summary,
    "sql_pricing_summary": relational.sql_pricing_summary,
    "q3_shipping_priority": relational.q3_shipping_priority,
    "q4_order_priority": relational.q4_order_priority,
    "q5_regional_volume": relational.q5_regional_volume,
    "q6_forecast_revenue": relational.q6_forecast_revenue,
    "q7_nation_trade_volume": relational.q7_nation_trade_volume,
    "q8_market_share": relational.q8_market_share,
    "q9_profit_by_nation_year": relational.q9_profit_by_nation_year,
    "q10_returned_items": relational.q10_returned_items,
    "q14_promo_revenue_share": relational.q14_promo_revenue_share,
    "anti_join_inactive_customers": relational.anti_join_inactive_customers,
    "grouped_having_big_orders": relational.grouped_having_big_orders,
    "rollup_priority_status": relational.rollup_priority_status,
    "pivot_event_counts": relational.pivot_event_counts,
    "percentile_order_value": relational.percentile_order_value,
    "json_extract_props": relational.json_extract_props,
    "q13_customer_order_counts": relational.q13_customer_order_counts,
    "q15_top_supplier": relational.q15_top_supplier,
    "q17_small_quantity_revenue": relational.q17_small_quantity_revenue,
    "q18_large_volume_customers": relational.q18_large_volume_customers,
    "q19_disjunctive_revenue": relational.q19_disjunctive_revenue,
    "q22_dormant_high_balance": relational.q22_dormant_high_balance,
    "q2_min_cost_supplier": relational.q2_min_cost_supplier,
    "q11_important_parts": relational.q11_important_parts,
    "q12_late_shipment_priority": relational.q12_late_shipment_priority,
    "q16_supplier_variety": relational.q16_supplier_variety,
    "q20_excess_supply_suppliers": relational.q20_excess_supply_suppliers,
    "q21_sole_late_supplier": relational.q21_sole_late_supplier,
    # §2.E/F/G round-2 wave: curation ops
    "doc_repetition_ratio": text.doc_repetition_ratio,
    "bigram_lm_top_successor": text.bigram_lm_top_successor,
    "contamination_overlap": text.contamination_overlap,
    "stratified_sample": text.stratified_sample,
    "simhash_hamming_pairs": dedup.simhash_hamming_pairs,
    "minhash_jaccard_estimate": dedup.minhash_jaccard_estimate,
    "hyperplane_lsh_buckets": similarity.hyperplane_lsh_buckets,
    "knn_lsh": similarity.knn_lsh,
    "ivf_cluster_stats": similarity.ivf_cluster_stats,
    "knn_lsh_recall": similarity.knn_lsh_recall,
    "near_dup_recall": similarity.near_dup_recall,
    "embedding_dim_stats": similarity.embedding_dim_stats,
    "incremental_dedup": dedup.incremental_dedup,
    # §2.A second wave
    "distinct_counts": analytics.distinct_counts,
    "fk_integrity_audit": analytics.fk_integrity_audit,
    "numeric_profile": analytics.numeric_profile,
    "set_ops_customers": analytics.set_ops_customers,
    "correlated_subquery_max_order": analytics.correlated_subquery_max_order,
    "cube_status_priority": analytics.cube_status_priority,
    "window_range_frame": analytics.window_range_frame,
    "first_last_order_value": analytics.first_last_order_value,
    "scd2_user_state": analytics.scd2_user_state,
    "conditional_agg_returns": analytics.conditional_agg_returns,
    "string_functions_report": analytics.string_functions_report,
    "date_arithmetic_report": analytics.date_arithmetic_report,
    "stats_correlation": analytics.stats_correlation,
    "approx_distinct_events": analytics.approx_distinct_events,
    "salted_event_type_stats": analytics.salted_event_type_stats,
    "approx_value_percentiles": analytics.approx_value_percentiles,
    "unpivot_priority_metrics": analytics.unpivot_priority_metrics,
    "token_positions": analytics.token_positions,
    "user_value_histogram": multimodal.user_value_histogram,
    "user_value_histogram_pandas": multimodal.user_value_histogram_pandas,
    # §2.B ETL plans
    "star_denormalize": star.star_denormalize,
    "curation_pipeline": curation.curation_pipeline,
    "doc_dup_rate_by_source": dedup.doc_dup_rate_by_source,
    "semantic_dedup_pairs": dedup.semantic_dedup_pairs,
    "semantic_dedup_components": dedup.semantic_dedup_components,
    "monthly_sales_rollup": star.monthly_sales_rollup,
    # §2.C windows
    "topk_customers_per_nation": windows.topk_customers_per_nation,
    "latest_event_per_user": windows.latest_event_per_user,
    "running_total_per_user": windows.running_total_per_user,
    "sessionize_events": windows.sessionize_events,
    "session_stats": windows.session_stats,
    "session_window_stats": windows.session_window_stats,
    "funnel_signup_purchase": windows.funnel_signup_purchase,
    "funnel_three_step": windows.funnel_three_step,
    "event_value_outliers": windows.event_value_outliers,
    "asof_purchase_attribution": asof.asof_purchase_attribution,
    "asof_time_to_purchase": asof.asof_time_to_purchase,
    "cohort_retention": windows.cohort_retention,
    "event_transitions": windows.event_transitions,
    "daily_active_users": windows.daily_active_users,
    "range_join_value_buckets": analytics.range_join_value_buckets,
    # §2.D streaming batch twin
    "windowed_event_counts": windows.windowed_event_counts,
    # §2.E dedup suite
    "exact_dedup": dedup.exact_dedup,
    "exact_dedup_stats": dedup.exact_dedup_stats,
    "minhash_signatures": dedup.minhash_signatures,
    "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
    "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
    "simhash64": dedup.simhash64,
    "dedup_components": dedup.dedup_components,
    "dedup_ngram_coverage": dedup.dedup_ngram_coverage,
    "embedding_near_dup_pairs": similarity.embedding_near_dup_pairs,
    # §2.F similarity search
    "knn_bruteforce": similarity.knn_bruteforce,
    "knn_ivf": similarity.knn_ivf,
    "knn_batch": similarity.knn_batch,
    "embedding_norms": similarity.embedding_norms,
    "label_centroids": similarity.label_centroids,
    "kmeans_centroids": similarity.kmeans_centroids,
    "pq_codes": similarity.pq_codes,
    "knn_pq_adc": similarity.knn_pq_adc,
    "knn_ivf_trained": similarity.knn_ivf_trained,
    "embedding_quantize_int8": similarity.embedding_quantize_int8,
    # §2.G text analysis
    "doc_token_count": text.doc_token_count,
    "doc_quality_score": text.doc_quality_score,
    "doc_langid": text.doc_langid,
    "doc_fingerprint": text.doc_fingerprint,
    "doc_bpe_token_count": text.doc_bpe_token_count,
    "doc_rolling_hash": text.doc_rolling_hash,
    "winnowing_fingerprints": text.winnowing_fingerprints,
    "token_countmin_topk": text.token_countmin_topk,
    "language_mixture_weights": text.language_mixture_weights,
    "hybrid_search_rrf": text.hybrid_search_rrf,
    "bm25_scores": text.bm25_scores,
    "token_freq_topk": text.token_freq_topk,
    "doc_tfidf_top_terms": text.doc_tfidf_top_terms,
    "deterministic_sample": text.deterministic_sample,
    "doc_quality_filters": text.doc_quality_filters,
    # §2.H multimodal plumbing
    "multimodal_features": multimodal.multimodal_features,
    "multimodal_frame_sample": multimodal.multimodal_frame_sample,
    "multimodal_shard_plan": multimodal.multimodal_shard_plan,
    "multimodal_byte_stats_arrow": multimodal.multimodal_byte_stats_arrow,
    # §2.G/§2.C round-3 wave: curation + sliding windows
    "pii_redaction": text.pii_redaction,
    "doc_oov_rate": text.doc_oov_rate,
    "sequence_packing": text.sequence_packing,
    "hashed_classifier_score": text.hashed_classifier_score,
    "sliding_window_event_counts": windows.sliding_window_event_counts,
    # §2.G round-4 wave: training-order shuffle + per-source quotas
    "deterministic_shuffle": text.deterministic_shuffle,
    "source_quota_sample": text.source_quota_sample,
    "bloom_prefilter_dedup": dedup.bloom_prefilter_dedup,
    "doc_bigram_lm_score": text.doc_bigram_lm_score,
    "daily_value_ffill": windows.daily_value_ffill,
    "dedup_keep_best": dedup.dedup_keep_best,
    "knn_pq_refine": similarity.knn_pq_refine,
    "knn_ivf_pq": similarity.knn_ivf_pq,
    "pq_codebook_trained": similarity.pq_codebook_trained,
    "pq_codes_trained": similarity.pq_codes_trained,
    "rq_codes": similarity.rq_codes,
    "rfm_segments": analytics.rfm_segments,
    "monthly_revenue_growth": analytics.monthly_revenue_growth,
    "knn_filtered": similarity.knn_filtered,
    "window_rank_report": analytics.window_rank_report,
    "date_dim": analytics.date_dim,
    "event_value_zscores": analytics.event_value_zscores,
    "shingle_overlap_pairs": dedup.shingle_overlap_pairs,
    "asof_nearest_click": asof.asof_nearest_click,
    "langid_confusion": text.langid_confusion,
    "hll_partitioned_union": analytics.hll_partitioned_union,
    "supplier_scorecard": relational.supplier_scorecard,
    "demand_yoy_by_type": relational.demand_yoy_by_type,
    # §2 round-4 wave 4: grouping sets, shipment cadence, Simpson
    # diversity, OPQ-lite balanced-permutation PQ
    "grouping_sets_report": analytics.grouping_sets_report,
    "supplier_lead_time_gaps": relational.supplier_lead_time_gaps,
    "doc_simpson_diversity": text.doc_simpson_diversity,
    "pq_balanced_perm": similarity.pq_balanced_perm,
    "matryoshka_prefix_eval": similarity.matryoshka_prefix_eval,
    "semantic_dup_lang_matrix": dedup.semantic_dup_lang_matrix,
    "join_key_skew_audit": analytics.join_key_skew_audit,
    "orders_backlog_aging": relational.orders_backlog_aging,
    "return_rate_by_brand": relational.return_rate_by_brand,
    "abc_classification": analytics.abc_classification,
    "minhash_pair_precision": dedup.minhash_pair_precision,
    # §2 round-4 wave: drift stats, tokenizer training, RAG chunking
    "ks_drift_value": analytics.ks_drift_value,
    "chi2_event_segments": analytics.chi2_event_segments,
    "bpe_merge_pairs": text.bpe_merge_pairs,
    "bpe_vocab_32": text.bpe_vocab_32,
    "bpe_apply_doc_tokens": text.bpe_apply_doc_tokens,
    "doc_chunks": text.doc_chunks,
    "dup_span_stats": dedup.dup_span_stats,
    "psi_value_drift": analytics.psi_value_drift,
    "doc_novelty_rate": dedup.doc_novelty_rate,
    "pagerank_dup_graph": dedup.pagerank_dup_graph,
    "edit_distance_pairs": dedup.edit_distance_pairs,
    "dup_span_removal": dedup.dup_span_removal,
    "psi_windowed": analytics.psi_windowed,
    "ks_windowed": analytics.ks_windowed,
    "ks_by_source": analytics.ks_by_source,
    "exact_median_value": analytics.exact_median_value,
    "exact_quantiles_value": analytics.exact_quantiles_value,
    "exact_median_by_type": analytics.exact_median_by_type,
    "embedding_covariance": analytics.embedding_covariance,
    "dup_cluster_stats": dedup.dup_cluster_stats,
    "ann_range_search": similarity.ann_range_search,
    "pca_project8": similarity.pca_project8,
    "knn_ivf_recall": similarity.knn_ivf_recall,
    "rendezvous_shards": text.rendezvous_shards,
    "doc_length_histogram": text.doc_length_histogram,
    "user_activity_gini": analytics.user_activity_gini,
    "phrase_search": text.phrase_search,
    "global_row_index": analytics.global_row_index,
    "triangle_counts": dedup.triangle_counts,
    # §2 round-5 wave 3: demand shape, SLA percentiles, corpus growth,
    # time-weighted value
    "weekday_revenue_seasonality": relational.weekday_revenue_seasonality,
    "order_ship_delay_quantiles": relational.order_ship_delay_quantiles,
    "cumulative_distinct_users": windows.cumulative_distinct_users,
    "twap_user_value": windows.twap_user_value,
    "tfidf_cosine_pairs": dedup.tfidf_cosine_pairs,
    "doc_token_entropy": text.doc_token_entropy,
    "knn_graph": similarity.knn_graph,
    "value_deciles_by_type": analytics.value_deciles_by_type,
    "token_pmi_pairs": text.token_pmi_pairs,
    "bottomk_hash_sample": text.bottomk_hash_sample,
    "daily_value_trend": windows.daily_value_trend,
    "source_lang_kl": text.source_lang_kl,
    "part_affinity_pairs": relational.part_affinity_pairs,
    "customer_revenue_lorenz": analytics.customer_revenue_lorenz,
    "session_top_paths": windows.session_top_paths,
    "source_temperature_weights": text.source_temperature_weights,
    "vocab_growth_curve": text.vocab_growth_curve,
    "doc_ttr_profile": text.doc_ttr_profile,
    "zipf_slope_topk": text.zipf_slope_topk,
    "peak_hour_by_type": windows.peak_hour_by_type,
    "event_type_share_trend": windows.event_type_share_trend,
    "customer_band_migration": relational.customer_band_migration,
    "centroid_drift": similarity.centroid_drift,
    "label_knn_purity": similarity.label_knn_purity,
    "cross_source_dup_matrix": dedup.cross_source_dup_matrix,
    "user_retention_curve": windows.user_retention_curve,
    "nation_trade_balance": relational.nation_trade_balance,
    "revenue_cohorts": windows.revenue_cohorts,
    "part_supplier_redundancy": relational.part_supplier_redundancy,
    "benford_first_digit": analytics.benford_first_digit,
    "daily_revenue_autocorr": analytics.daily_revenue_autocorr,
    "event_value_mad_outliers": analytics.event_value_mad_outliers,
    "winsorized_value_stats": analytics.winsorized_value_stats,
    "user_interarrival_stats": windows.user_interarrival_stats,
    "boolean_and_search": text.boolean_and_search,
    "simhash_idf": dedup.simhash_idf,
    "random_pair_cos_histogram": similarity.random_pair_cos_histogram,
    "decayed_user_value": windows.decayed_user_value,
    "dup_graph_clustering_coef": dedup.dup_graph_clustering_coef,
    "knn_lsh_ndcg": similarity.knn_lsh_ndcg,
    "session_bounce_rate": windows.session_bounce_rate,
    "daily_revenue_control_chart": analytics.daily_revenue_control_chart,
    "label_centroid_silhouette": similarity.label_centroid_silhouette,
    "session_type_affinity": windows.session_type_affinity,
    "classifier_score_calibration": text.classifier_score_calibration,
    "dup_rate_by_length": text.dup_rate_by_length,
    "decontaminated_corpus_stats": text.decontaminated_corpus_stats,
    "value_qq_table": analytics.value_qq_table,
    "peak_concurrent_sessions": windows.peak_concurrent_sessions,
    "funnel_convert_time_quantiles": windows.funnel_convert_time_quantiles,
    "ivf_probe_sweep": similarity.ivf_probe_sweep,
    "opq_rotation_mse": similarity.opq_rotation_mse,
    "multimodal_content_dedup": multimodal.multimodal_content_dedup,
    "revenue_changepoint": analytics.revenue_changepoint,
    "payload_simhash": multimodal.payload_simhash,
    "user_behavior_entropy": windows.user_behavior_entropy,
    "supplier_ontime_wilson": relational.supplier_ontime_wilson,
    "orders_expectations": expectations.orders_expectations,
    "benford_chi2_by_priority": analytics.benford_chi2_by_priority,
    "mom_delta_by_segment": relational.mom_delta_by_segment,
    "event_rate_spikes": windows.event_rate_spikes,
    "centroid_distance_matrix": similarity.centroid_distance_matrix,
    # §2.E/F round-5 sixth wave: graph density, mergeable KMV sketch,
    # positional co-occurrence, decayed trend, seasonal residuals
    "kcore_dup_graph": dedup.kcore_dup_graph,
    # §2.A/C/E round-5 seventh wave: rank-trimmed robust mean,
    # multi-touch attribution, 3-itemset affinity, sliding distinct
    "trimmed_mean_by_type": analytics.trimmed_mean_by_type,
    "linear_touch_attribution": windows.linear_touch_attribution,
    "part_triple_affinity": relational.part_triple_affinity,
    "rolling_7d_active_users": windows.rolling_7d_active_users,
    # §2.A/G round-5 eighth wave: concentration stats (Gini, HHI) on
    # the distributed rank machinery, context-length truncation
    # report, vocabulary coverage curve
    "customer_spend_gini": analytics.customer_spend_gini,
    "nation_supplier_hhi": relational.nation_supplier_hhi,
    "doc_truncation_loss": text.doc_truncation_loss,
    "vocab_coverage_curve": text.vocab_coverage_curve,
    # §2.A round-5 ninth wave: repeat-purchase cadence (grouped
    # rank-exact median over lag gaps)
    "order_gap_median_by_segment": relational.order_gap_median_by_segment,
    "discount_quantity_corr_by_brand":
        relational.discount_quantity_corr_by_brand,
    # §2.F round-5 eleventh wave: embedding-space spectral audit
    # (rows-only: driver-side eigensolver on the d x d covariance)
    "pca_explained_variance": similarity.pca_explained_variance,
    "knn_int8_rerank": similarity.knn_int8_rerank,
    # §2.E/G round-5 twelfth wave: template-span report, cross-source
    # dup-flow matrix, log-free Zipf audit
    "top_repeated_spans": dedup.top_repeated_spans,
    "source_cross_dup_matrix": dedup.source_cross_dup_matrix,
    "token_zipf_table": text.token_zipf_table,
    # §2.C/G round-5 thirteenth wave: traffic heatmap, ctx packing
    # planner, lang-ID confidence histogram
    "events_hourly_heatmap": windows.events_hourly_heatmap,
    "packing_efficiency_by_ctx": text.packing_efficiency_by_ctx,
    "langid_margin_hist": text.langid_margin_hist,
    # §2.E round-5 fourteenth wave: leakage-safe splitting
    "leakage_safe_split": dedup.leakage_safe_split,
    "split_leakage_audit": dedup.split_leakage_audit,
    # §2.A/E round-5 fifteenth wave: sketch-algebra overlap, semantic
    # canonical selection
    "hll_event_overlap": analytics.hll_event_overlap,
    "semantic_dedup_keep_best": dedup.semantic_dedup_keep_best,
    "knn_int8_recall": similarity.knn_int8_recall,
    "lsh_band_sweep": dedup.lsh_band_sweep,
    "doc_sentence_stats": text.doc_sentence_stats,
    "payload_simhash_pairs": multimodal.payload_simhash_pairs,
    "ivf_cluster_purity": similarity.ivf_cluster_purity,
    "training_corpus_plan": curation.training_corpus_plan,
    "cohort_ltv_curve": windows.cohort_ltv_curve,
    "dup_graph_degree_hist": dedup.dup_graph_degree_hist,
    "token_budget_sample": text.token_budget_sample,
    "kmv_distinct_users": analytics.kmv_distinct_users,
    "skipgram_pairs": text.skipgram_pairs,
    "ewma_daily_revenue": windows.ewma_daily_revenue,
    "seasonal_residual_outliers": relational.seasonal_residual_outliers,
    # §2.G round-6 twentieth wave: exact suffix-rank LRS (the real
    # ExactSubstr — arbitrary-length exact repeats, not 16-token
    # windows)
    "longest_repeated_substring": suffix.longest_repeated_substring,
    # §2.F round-6: graph-index ANN (HNSW-style navigable beam
    # search — index build, search, recall harness)
    "beam_graph_edges": similarity.beam_graph_edges,
    "knn_beam": similarity.knn_beam,
    "knn_beam_recall": similarity.knn_beam_recall,
    # §2.A round-6: skyline + rank statistics
    "orders_skyline_2d": relational.orders_skyline_2d,
    "mann_whitney_value_drift": analytics.mann_whitney_value_drift,
    "spearman_daily_rank_corr": analytics.spearman_daily_rank_corr,
    # §2.C round-6: lifecycle census + purchase cadence depth
    "user_lifecycle_stages": windows.user_lifecycle_stages,
    "time_to_third_purchase": windows.time_to_third_purchase,
    # §2.E/F/G/H round-6: tokenizer fairness, winnowing blocking,
    # rank-aware beam eval, magic-byte census
    "tokenizer_fertility_by_lang": text.tokenizer_fertility_by_lang,
    "winnowing_pair_candidates": text.winnowing_pair_candidates,
    "knn_beam_ndcg": similarity.knn_beam_ndcg,
    "payload_magic_types": multimodal.payload_magic_types,
    # §2.A/F/G round-6 wave 23: char/script curation signals,
    # priority sequences, embedding outlier gate, template prefixes
    "doc_char_entropy": text.doc_char_entropy,
    "doc_script_mix": text.doc_script_mix,
    "template_prefix_groups": text.template_prefix_groups,
    "priority_transition_matrix": relational.priority_transition_matrix,
    "embedding_outliers_diag": similarity.embedding_outliers_diag,
    # §2.A/C round-6 wave 24: fulfilment drill-down, procurement
    # spread, seasonality-aware anomaly days
    "late_delivery_root_cause": relational.late_delivery_root_cause,
    "supplier_part_price_spread": relational.supplier_part_price_spread,
    "events_anomaly_days": windows.events_anomaly_days,
    # §2.A/C round-6 wave 25: streaks, value deciles
    "user_active_day_streaks": windows.user_active_day_streaks,
    "customer_spend_decile_profile":
        analytics.customer_spend_decile_profile,
    # §2.A/F round-6 wave 26: PQ health, calibration probes,
    # status-mix trend
    "pq_code_utilization": similarity.pq_code_utilization,
    "cume_dist_value_probes": analytics.cume_dist_value_probes,
    "monthly_status_mix": relational.monthly_status_mix,
    # §2.A round-6 wave 27: bitmap-index audience overlap
    "audience_bitmap_intersection":
        analytics.audience_bitmap_intersection,
    # §2.H round-6 wave 27: content-defined-chunking dedup audit
    "payload_cdc_dedup_stats": multimodal.payload_cdc_dedup_stats,
    # §2.F round-7: batch beam search (the graph tier's serving
    # shape - all queries walk the index simultaneously) + its
    # per-query recall harness
    "knn_beam_batch": similarity.knn_beam_batch,
    "knn_beam_batch_recall": similarity.knn_beam_batch_recall,
    # §2.G round-7 wave 1: corpus-LM quality scoring + the Gopher
    # repetition / quality rule battery (arXiv:2112.11446 §A1.1)
    "unigram_logprob_quality": text.unigram_logprob_quality,
    "gopher_ngram_fractions": text.gopher_ngram_fractions,
    "gopher_quality_rules": text.gopher_quality_rules,
    "hapax_share_by_source": text.hapax_share_by_source,
    # §2.A/C round-7 wave 1: robust trend tests on the daily
    # revenue series (Theil-Sen slope, Mann-Kendall S/tau/z)
    "theil_sen_daily_trend": analytics.theil_sen_daily_trend,
    "mann_kendall_trend": analytics.mann_kendall_trend,
    # §2.F round-7 wave 1: single-pass intra/inter label cohesion
    # via the ||sum of unit vectors||^2 identity (no pairwise join)
    "intra_inter_cosine_gap": similarity.intra_inter_cosine_gap,
    # §2.F round-7 wave 2: diversified serving (MMR greedy rerank)
    "mmr_diversified_topk": similarity.mmr_diversified_topk,
    # §2.A round-7 wave 2: map-reduce-native uncertainty (Poisson
    # bootstrap CI for the mean event value)
    "poisson_bootstrap_ci": analytics.poisson_bootstrap_ci,
    # §2.G round-7 wave 2: DSIR hashed-bigram importance weights
    "dsir_importance_weights": text.dsir_importance_weights,
    # §2.A round-7 wave 3: parametric A/B test + KM survival curve
    "welch_ttest_values": analytics.welch_ttest_values,
    "purchase_gap_survival": analytics.purchase_gap_survival,
    # §2.G round-7 wave 3: Efraimidis-Spirakis weighted sampling
    "weighted_sample_docs": text.weighted_sample_docs,
    # §2.H round-7 wave 4: CDC chunk-overlap near-dup pairs
    "payload_chunk_overlap_pairs":
        multimodal.payload_chunk_overlap_pairs,
    # §2.A round-7 wave 4: approximate-FD (g3) schema profiling
    "functional_dependency_audit":
        analytics.functional_dependency_audit,
    # §2.C round-7 wave 5: position-based (40-20-40) attribution
    "ushape_attribution": windows.ushape_attribution,
    # §2.A round-7 wave 5: split-conformal prediction intervals
    "conformal_value_intervals":
        analytics.conformal_value_intervals,
    # §2.A round-7 wave 6: k-sample rank ANOVA, BH-FDR control over
    # per-segment mean-shift screens, categorical-association audit
    "kruskal_wallis_values": analytics.kruskal_wallis_values,
    "segment_pvalues_fdr": analytics.segment_pvalues_fdr,
    "cramers_v_audit": analytics.cramers_v_audit,
    # §2.F round-7 wave 7: 1-bit binary quantization tier (sign bits
    # vs per-dim mean, two packed words, Hamming + rerank + recall)
    "knn_bq_hamming": similarity.knn_bq_hamming,
    "knn_bq_rerank": similarity.knn_bq_rerank,
    "knn_bq_recall": similarity.knn_bq_recall,
    # §2.G round-7 wave 8: CCNet tertile partitioning + JS token drift
    "ccnet_perplexity_buckets": text.ccnet_perplexity_buckets,
    "token_js_drift": text.token_js_drift,
    # §2.A round-7 wave 8: quantity-weighted median price
    "weighted_price_median_by_flag":
        analytics.weighted_price_median_by_flag,
    # §2.A/C round-7 wave 9: OLS trend + harmonic seasonality scan
    "ols_daily_trend": analytics.ols_daily_trend,
    "daily_revenue_periodogram": analytics.daily_revenue_periodogram,
    # §2.F round-7 wave 11: JL projection distortion audit
    "jl_projection_distortion": similarity.jl_projection_distortion,
    # §2.A round-7 wave 11: optimizer join-size estimate audit
    "join_cardinality_estimate": analytics.join_cardinality_estimate,
    # §2.H round-7 wave 12: binary-lane storage-dedup clusters
    "payload_dedup_components": multimodal.payload_dedup_components,
    # §2.A round-7 wave 13: parametric omnibus + variance homogeneity
    "anova_f_values": analytics.anova_f_values,
    "brown_forsythe_variance_test":
        analytics.brown_forsythe_variance_test,
    # §2.G round-7 wave 13: held-out LM perplexity (overfit audit)
    "lm_heldout_perplexity": text.lm_heldout_perplexity,
    # §2.E round-7 wave 14: b-bit minhash compression audit
    "bbit_minhash_estimate": dedup.bbit_minhash_estimate,
    # §2.F round-7 wave 16: per-dimension embedding drift PSI
    "embedding_dim_psi": similarity.embedding_dim_psi,
    # §2.G round-7 wave 17: Heaps-law exponent fit
    "heaps_law_fit": text.heaps_law_fit,
    # §2.C round-7 wave 18: time-decay multi-touch attribution
    "time_decay_attribution": windows.time_decay_attribution,
    # §2.G round-7 wave 19: the CCNet curation decision table
    "ccnet_sampling_plan": text.ccnet_sampling_plan,
    # §2.F round-8: BQ cascade candidate-depth tuning curve
    "bq_cand_sweep": similarity.bq_cand_sweep,
    # §2.D round-8: composed store maintenance+serving under the
    # driver gate (rebased merge commits -> serving read; twins
    # compute the same result straight from the tables)
    "store_value_quantiles": stores.store_value_quantiles,
    "store_token_topk": stores.store_token_topk,
    "store_audience_overlap": stores.store_audience_overlap,
    "store_heavy_hitters": stores.store_heavy_hitters,
    "store_skyline": stores.store_skyline,
    "store_lifecycle": stores.store_lifecycle,
    # §2.C round-8 wave 1: classical seasonal forecasting
    "holt_winters_daily_forecast": analytics.holt_winters_daily_forecast,
    "page_hinkley_drift": analytics.page_hinkley_drift,
    "hill_tail_index": analytics.hill_tail_index,
    "seasonal_decompose_daily": analytics.seasonal_decompose_daily,
    "ewma_control_chart": analytics.ewma_control_chart,
    # §2.F round-8: score-aware PQ loss decomposition (ScaNN)
    "anisotropic_pq_loss": similarity.anisotropic_pq_loss,
    # §2.C round-9 wave 1: classical SPC / normality / autocorrelation
    "cusum_daily_revenue": analytics.cusum_daily_revenue,
    "runs_test_daily": analytics.runs_test_daily,
    "grubbs_daily_outlier": analytics.grubbs_daily_outlier,
    "ljung_box_daily": analytics.ljung_box_daily,
    "jarque_bera_value": analytics.jarque_bera_value,
    "bartlett_variance_test": analytics.bartlett_variance_test,
    # §2.A/C round-9 wave 2: robust location, intermittent demand,
    # sampling design, information audit
    "huber_mean_value": analytics.huber_mean_value,
    "croston_part_demand": analytics.croston_part_demand,
    "neyman_allocation_plan": analytics.neyman_allocation_plan,
    "type_hour_mutual_info": analytics.type_hour_mutual_info,
    # §2.G/F round-9 wave 3: readability, LM retrieval, coreset
    "doc_readability": text.doc_readability,
    "lm_dirichlet_scores": text.lm_dirichlet_scores,
    "kcenter_greedy_coreset": similarity.kcenter_greedy_coreset,
    "isotonic_calibration": text.isotonic_calibration,
    # §2.C round-9 wave 4: PACF, rank changepoint, turning points
    "pacf_daily_revenue": analytics.pacf_daily_revenue,
    "pettitt_changepoint": analytics.pettitt_changepoint,
    "turning_point_test": analytics.turning_point_test,
    # §2.G round-9 wave 5: classifier evaluation metrics
    "classifier_auc": text.classifier_auc,
    "classifier_pr_table": text.classifier_pr_table,
    "langid_kappa": text.langid_kappa,
    # §2.A/C round-9 wave 6: A/B proportions, log-rank survival,
    # confusion metrics, EVT block maxima
    "ab_conversion_ztest": analytics.ab_conversion_ztest,
    "logrank_purchase_gap": analytics.logrank_purchase_gap,
    "classifier_mcc": text.classifier_mcc,
    "gumbel_block_maxima": analytics.gumbel_block_maxima,
}


def _wrap(fn) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # queries run sequentially: by the time this query is being
        # built, the previous query's action is done and its retained
        # caches are dead — release them so they don't accumulate
        # across the driver's full replay
        release_retained()
        return fn(load_tables(spark, sf_dir))
    run.__name__ = fn.__name__
    return run


def queries() -> dict[str, QueryFn]:
    return {name: _wrap(fn) for name, fn in _OPERATORS.items()}


def oracle_sql() -> dict[str, str]:
    from .oracles import ORACLES
    return dict(ORACLES)
