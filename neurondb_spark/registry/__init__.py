"""Query registry: every implemented operator from SURVEY §2 declares a
(spark_fn, oracle_sql) pair here; __spark_entry__ aggregates them for the
driver's correctness gate.

Each submodule exposes ``QUERIES: dict[str, tuple[callable, str | None]]``
where callable(spark, sf_dir) -> DataFrame and the str is DuckDB SQL
(None → non-SQL-expressible op, rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Per-round driver-check history (which queries got a CORRECTNESS_r{N}
# row — green OR rows-only). The driver caps per-round oracle checks at 50
# and walks the registry in order, so ``collect`` sorts queries
# least-recently-checked first: never-checked, then oldest-round-checked.
# This rotates coverage deterministically — every query is re-verified on
# a bounded cadence, and a rewrite never ships stale-green for long.
CHECKED_BY_ROUND: dict[int, frozenset[str]] = {
    1: frozenset({
        "knn_l2", "knn_cosine", "knn_ip", "knn_l1", "knn_chebyshev",
        "knn_squared_l2", "knn_hamming", "vector_norms", "vector_avg_by_label",
        "tpch_q1", "top_revenue_customers", "orders_topk_per_segment",
        "faceted_vector_search", "multi_vector_search", "vec_window_rank",
        "hybrid_search", "bm25_topk", "rrf_fusion", "vec_join_threshold",
        "text_stats", "lang_detect_counts", "fingerprint_dedup",
        "minhash_signatures", "simhash_signatures", "ngram_jaccard_pairs",
        "embedding_neardup_pairs", "chunk_documents", "events_hourly",
        "events_topk_users", "events_time_decay", "events_sessionize",
        "ivf_knn_full_probe", "ivf_knn_probe", "linreg_closed_form",
        "zscore_outliers", "centroid_drift", "knn_classify_vote",
        "label_recall_at_k", "ml_logreg_predictions", "ml_kmeans_clusters",
        "hash_embed", "rag_query", "rerank_lexical", "ltr_rerank",
        "sparse_search_tf", "mmr_rerank", "int8_quantize_analysis",
        "binary_hamming_knn", "graph_pagerank", "graph_bfs",
    }),
    2: frozenset({
        "simhash_neardup_pairs", "quantize_int4_fp8", "ts_seasonal_decompose",
        "ts_moving_stats", "ts_rolling_anomalies", "ts_ar1_forecast",
        "ts_arima_forecast", "rollup_lineitem", "semi_anti_join",
        "set_ops_users", "vector_arith_ops", "sparse_vector_dot",
        "knn_canberra", "knn_braycurtis", "knn_minkowski3",
        "knn_jaccard_sign", "knn_dice_sign", "binary_metrics4",
        "vec_route_counts", "ann_batch_topk", "detokenize_roundtrip",
        "fp16_roundtrip_err", "stream_job_queue", "graph_knn",
        "rerank_ensemble_weighted", "rerank_ensemble_borda", "vector_casts",
        "knn_mahalanobis", "davies_bouldin", "similarity_histogram",
        "recommend_content_based", "community_label_propagation", "knn_l2",
        "knn_cosine", "knn_ip", "knn_l1", "knn_chebyshev", "knn_squared_l2",
        "knn_hamming", "vector_norms", "vector_avg_by_label", "tpch_q1",
        "top_revenue_customers", "orders_topk_per_segment",
        "faceted_vector_search", "multi_vector_search", "vec_window_rank",
        "hybrid_search", "bm25_topk", "rrf_fusion",
    }),
    # the 50 rows in CORRECTNESS_r03.json (49 green/rows-only +
    # stream_job_queue ERROR — the latter stays in FORCE_RECHECK below).
    3: frozenset({
        "centroid_drift", "chunk_documents", "community_label_propagation",
        "distribution_divergence", "embedding_neardup_pairs", "events_hourly",
        "events_sessionize", "events_time_decay", "events_topk_users",
        "fingerprint_dedup", "graph_bfs", "graph_knn", "graph_pagerank",
        "hash_embed", "int8_quantize_analysis", "isolation_forest_outliers",
        "ivf_knn_full_probe", "ivf_knn_probe", "js_divergence_hist",
        "knn_classify_vote", "label_f1_at_k", "label_recall_at_k",
        "lang_detect_counts", "linreg_closed_form", "lof_outliers",
        "ltr_rerank", "minhash_signatures", "ml_kmeans_clusters",
        "ml_knn_predictions", "ml_logreg_predictions", "mmr_rerank",
        "ngram_jaccard_pairs", "ocsvm_outliers", "opq_rotated_variance",
        "quantize_int4_fp8", "rag_query", "rerank_lexical",
        "simhash_neardup_pairs", "simhash_signatures", "sparse_metrics_knn",
        "sparse_search_tf", "stream_job_queue", "temporal_knn_decay",
        "tenant_knn_search", "text_stats", "ts_arima_forecast",
        "tsne_label_centroids", "vec_join_threshold", "vector_masked_ops",
        "zscore_outliers",
    }),
    # the 50 rows in CORRECTNESS_r04.json (45 hash-green + 3 rows-only +
    # stream_job_queue / pq_adc_topk ERROR — both stay in FORCE_RECHECK).
    4: frozenset({
        "binary_hamming_knn", "consistent_snapshot_knn", "cross_modal_search",
        "dbscan_clusters", "drift_timeseries", "embed_cached", "events_hourly",
        "events_sessionize", "events_time_decay", "events_topk_users",
        "faceted_vector_search", "feature_store_pit",
        "graph_connected_components", "graph_dfs_order", "hnsw_knn_full_ef",
        "hybrid_dense_sparse", "hybrid_index_search",
        "isolation_forest_outliers", "ivfpq_knn_exact_limit", "knn_chebyshev",
        "knn_cosine", "knn_hamming", "knn_ip", "knn_l1", "knn_l2",
        "knn_squared_l2", "ml_knn_predictions", "multi_vector_search",
        "nlp_sentiment_classify", "ocsvm_outliers", "orders_topk_per_segment",
        "pq_adc_topk", "quantize_int4_fp8", "quantize_uint8_ternary",
        "recommend_hybrid", "rerank_candidates", "semantic_keyword_search",
        "snapshot_time_travel", "stream_job_queue", "stream_monitor_window",
        "stream_sessionize", "temporal_knn_decay", "text_similarity_semantic",
        "top_revenue_customers", "tpch_q1", "user_similarity",
        "vec_window_rank", "vector_avg_by_label", "vector_math_ops",
        "vector_norms",
    }),
    # the 50 rows in CORRECTNESS_r05.json (46 hash-green + 3 rows-only +
    # stream_job_queue ERROR — the latter stays in FORCE_RECHECK below).
    5: frozenset({
        "als_recommend_topk", "answer_question", "automl_deploy_ab",
        "bernoulli_nb_lang", "compact_roundtrip",
        "corpus_curation_pipeline", "decision_stump_gini",
        "drift_timeseries", "feature_importance_linreg",
        "fill_mask_text2text", "fp16_roundtrip_err",
        "gmm_cluster_sizes", "graph_dfs_order", "halfvec_knn",
        "hnsw_insert_delete_knn", "hybrid_search",
        "index_tuning_report", "ivf_insert_delete_probe",
        "kmeans_fixed_lloyd", "kmeans_silhouette", "knn_regress_label",
        "linreg_eval_metrics", "logreg_gd_predictions",
        "media_meta_stats", "minhash_lsh_pairs", "nb_eval_metrics",
        "ngram_containment_pairs", "pca_top_component",
        "pq_adc_exact_codebook", "pq_adc_topk",
        "quantize_compare_distances", "repetition_quality_filters",
        "ridge_closed_form", "ridge_cv_rmse", "ridge_grid_search",
        "rls_quota_usage", "stream_exact_dedup", "stream_job_queue",
        "stream_monitor_window", "stream_sessionize",
        "tier_cold_report", "tpch_q3_shipping", "tpch_q6_forecast",
        "vector_cross_product3", "vector_parse_roundtrip",
        "vector_preprocess_ops", "vector_sum_minmax_by_label",
        "vector_variance_stddev", "video_frame_pixels",
        "zero_shot_classify",
    }),
    # the 50 rows in CORRECTNESS_r06.json — all 50 hash-green (first
    # perfect round; includes the stream_job_queue fix and both
    # rows-only graduations ivf_knn_probe / pq_adc_topk).
    6: frozenset({
        "ann_batch_topk", "benchmark_decontaminate", "binary_metrics4",
        "bm25_topk", "chunk_documents", "corpus_mix_sample",
        "davies_bouldin", "detokenize_roundtrip", "embedding_neardup_pairs",
        "fingerprint_dedup", "ivf_knn_full_probe", "ivf_knn_probe",
        "ivf_rebalance_probe", "knn_braycurtis", "knn_canberra",
        "knn_dice_sign", "knn_jaccard_sign", "knn_mahalanobis",
        "knn_minkowski3", "lang_detect_counts", "linreg_closed_form",
        "minhash_signatures", "ngram_jaccard_pairs", "pii_redaction_stats",
        "pq_adc_topk", "recommend_content_based", "rerank_ensemble_borda",
        "rerank_ensemble_weighted", "rollup_lineitem", "rrf_fusion",
        "semi_anti_join", "set_ops_users", "similarity_histogram",
        "simhash_neardup_pairs", "simhash_signatures", "sparse_vector_dot",
        "stream_job_queue", "stream_lsh_neardup", "tenant_knn_search",
        "text_stats", "trigram_lm_quality", "ts_ar1_forecast",
        "ts_moving_stats", "ts_rolling_anomalies", "ts_seasonal_decompose",
        "vec_join_threshold", "vec_route_counts", "vector_arith_ops",
        "vector_casts", "zscore_outliers",
    }),
    # the 50 rows in CORRECTNESS_r07.json — 46 hash-green + 4 rows-only by
    # design (ml_logreg/ml_kmeans MLlib, tsne, opq). Round 8 shipped no code
    # and the driver re-checked the identical set (CORRECTNESS_r08.json ==
    # r07's name set), so the same frozenset is recorded under both keys.
    7: frozenset({
        "als_fixed_alternations", "centroid_drift",
        "community_label_propagation", "corpus_curation_pipeline",
        "distribution_divergence", "graph_bfs", "graph_knn",
        "graph_pagerank", "hash_embed", "hnsw_batch_knn",
        "hnsw_insert_delete_knn", "int8_quantize_analysis", "ivf_batch_knn",
        "ivf_rebalance_probe", "js_divergence_hist", "knn_chebyshev",
        "knn_classify_vote", "knn_cosine", "knn_hamming", "knn_ip", "knn_l1",
        "knn_l2", "knn_squared_l2", "label_f1_at_k", "label_recall_at_k",
        "lof_outliers", "ltr_rerank", "ml_kmeans_clusters",
        "ml_logreg_predictions", "mmr_rerank", "neardup_resolve_survivors",
        "opq_rotated_variance", "quality_classifier_scores", "rag_query",
        "repetition_quality_filters", "rerank_lexical", "sparse_metrics_knn",
        "sparse_search_tf", "stream_exact_dedup", "stream_lsh_neardup",
        "stream_sessionize", "substring_dup_pairs", "substring_dup_stats",
        "token_budget_mix", "tpch_q1", "ts_arima_forecast",
        "tsne_label_centroids", "vector_avg_by_label", "vector_masked_ops",
        "vector_norms",
    }),
}
# Round 8 = identical driver check of the round-7 set (zero-commit round).
CHECKED_BY_ROUND[8] = CHECKED_BY_ROUND[7]
# the 50 rows in CORRECTNESS_r09.json — 47 hash-green + 3 rows-only by
# design (the two recall reports, which ARE the measurement and raise
# below their floors, and the MLlib isolation forest whose exact twin
# isolation_depth_exact is hash-green in the same file).
CHECKED_BY_ROUND[9] = frozenset({
    "tpch_q4_priority", "tpch_q5_local_supplier", "tpch_q12_priority_classes",
    "tpch_q19_disjunctive", "ivf_rebalance_probe", "hnsw_batch_knn",
    "hnsw_knn_full_ef", "hnsw_insert_delete_knn", "ivfpq_knn_exact_limit",
    "lsh_knn_full_radius", "lsh_batch_knn", "lsh_insert_delete_knn",
    "ann_recall_report", "lsh_recall_report", "gbt_fixed_stumps",
    "gbt_shap_attributions", "rf_fixed_stumps", "gmm_fixed_em",
    "isolation_depth_exact", "tsne_fixed_grad", "stream_ivf_cdc_knn",
    "stream_monitor_window", "top_revenue_customers",
    "orders_topk_per_segment", "faceted_vector_search", "multi_vector_search",
    "vec_window_rank", "semantic_keyword_search", "hybrid_dense_sparse",
    "nlp_sentiment_classify", "events_hourly", "feature_store_pit",
    "events_topk_users", "events_time_decay", "events_sessionize",
    "temporal_knn_decay", "hybrid_index_search", "consistent_snapshot_knn",
    "rerank_candidates", "dbscan_clusters", "ocsvm_outliers",
    "isolation_forest_outliers", "ml_knn_predictions",
    "text_similarity_semantic", "embed_cached", "quantize_int4_fp8",
    "quantize_uint8_ternary", "binary_hamming_knn",
    "graph_connected_components", "vector_math_ops",
})

# the 50 rows in CORRECTNESS_r10.json — 49 hash-green + 1 rows-only by
# design (lsh_recall_clustered IS the planted-cluster recall measurement
# and raises below its 0.8 floor). All five round-10 FORCE_RECHECK
# entries re-verified green and were pruned.
CHECKED_BY_ROUND[10] = frozenset({
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q10_returned_items", "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect", "tpch_q15_top_supplier", "tpch_q17_small_qty",
    "tpch_q18_large_volume", "tpch_q22_sales_opportunity",
    "ivf_insert_delete_probe", "ivf_knn_probe", "hnsw_insert_delete_knn",
    "lsh_insert_delete_knn", "lsh_recall_clustered", "stream_ivf_cdc_knn",
    "snapshot_time_travel", "cross_modal_search", "user_similarity",
    "recommend_hybrid", "tpch_q3_shipping", "tpch_q6_forecast",
    "hybrid_search", "minhash_lsh_pairs", "ngram_containment_pairs",
    "zero_shot_classify", "answer_question", "fill_mask_text2text",
    "drift_timeseries", "pq_adc_exact_codebook", "ridge_closed_form",
    "bernoulli_nb_lang", "linreg_eval_metrics", "ridge_grid_search",
    "ridge_cv_rmse", "feature_importance_linreg", "decision_stump_gini",
    "nb_eval_metrics", "knn_regress_label", "automl_deploy_ab",
    "kmeans_fixed_lloyd", "kmeans_silhouette", "logreg_gd_predictions",
    "index_tuning_report", "quantize_compare_distances", "graph_dfs_order",
    "vector_parse_roundtrip", "vector_variance_stddev",
    "vector_preprocess_ops", "vector_sum_minmax_by_label",
    "vector_cross_product3",
})

# the 50 rows in CORRECTNESS_r11.json — 47 hash-green + 3 rows-only by
# design (lsh_recall_clustered IS the recall measurement with its 0.8
# raise-floor; gmm_cluster_sizes/als_recommend_topk are the seed-unstable
# MLlib production twins whose exact fixed-iteration counterparts
# gmm_fixed_em/als_fixed_alternations ARE hash-gated). All five round-11
# FORCE_RECHECK entries re-verified green and were pruned.
CHECKED_BY_ROUND[11] = frozenset({
    "als_recommend_topk", "benchmark_decontaminate", "bm25_topk",
    "chunk_documents", "compact_roundtrip", "corpus_datacard",
    "corpus_mix_sample", "corpus_split_counts", "embedding_neardup_pairs",
    "fingerprint_dedup", "fp16_roundtrip_err", "gmm_cluster_sizes",
    "halfvec_knn", "hnsw_insert_delete_knn", "ivf_knn_full_probe",
    "ivf_knn_probe", "lang_detect_counts", "lsh_recall_clustered",
    "matryoshka_overlap", "media_meta_stats", "minhash_signatures",
    "neardup_resolve_quality", "neardup_resolve_survivors",
    "ngram_jaccard_pairs", "pack_sequences_spans", "pack_sequences_stats",
    "pca_top_component", "pii_redaction_stats", "rag_ingest_e2e",
    "rls_quota_usage", "rrf_fusion", "simhash_neardup_pairs",
    "simhash_signatures", "stream_ivf_cdc_knn", "stream_pack_spans",
    "temperature_mix_sample", "tenant_knn_search", "text_stats",
    "tier_cold_report", "token_length_quantiles",
    "tpch_q2_lite_min_price", "tpch_q9_lite_nation_profit",
    "tpch_q11_lite_important_parts", "tpch_q16_lite_supplier_counts",
    "tpch_q20_lite_hot_parts", "tpch_q21_lite_waiting_orders",
    "trigram_lm_quality", "vec_join_threshold", "video_frame_pixels",
    "vocab_top_tokens",
})

# the 50 rows in CORRECTNESS_r12.json — all 50 hash-green (second perfect
# round). The five round-12 FORCE_RECHECK entries (pack/stream-pack/
# temperature-mix/quantile rewrites) re-verified green and were pruned;
# the 8 brand-new round-12 rows (bpe_*, epoch_shuffle, zorder, ppl,
# quality-weighted sample, merge tables) all hash-matched first try.
CHECKED_BY_ROUND[12] = frozenset({
    "pack_sequences_spans", "pack_sequences_stats", "stream_pack_spans",
    "temperature_mix_sample", "token_length_quantiles", "ppl_bucket_counts",
    "quality_weighted_sample", "zorder_cells", "merge_upsert_rows",
    "stream_merge_upsert", "bpe_merges_topk", "bpe_tokenize_counts",
    "epoch_shuffle_order", "pq_adc_topk", "linreg_closed_form",
    "zscore_outliers", "ts_seasonal_decompose", "ts_moving_stats",
    "ts_rolling_anomalies", "ts_ar1_forecast", "rollup_lineitem",
    "semi_anti_join", "set_ops_users", "vector_arith_ops",
    "sparse_vector_dot", "knn_canberra", "knn_braycurtis",
    "knn_minkowski3", "knn_jaccard_sign", "knn_dice_sign",
    "binary_metrics4", "vec_route_counts", "ann_batch_topk",
    "detokenize_roundtrip", "stream_job_queue", "rerank_ensemble_weighted",
    "rerank_ensemble_borda", "vector_casts", "knn_mahalanobis",
    "davies_bouldin", "similarity_histogram", "recommend_content_based",
    "knn_l2", "knn_cosine", "knn_ip", "knn_l1", "knn_chebyshev",
    "knn_squared_l2", "knn_hamming", "vector_norms",
})

# the 50 rows in CORRECTNESS_r13.json — 45 hash-green + 5 no-oracle by
# design (the four seed-unstable MLlib production twins, each with a
# hash-gated exact fixed-iteration counterpart, plus bpe_hybrid_train_k2000
# whose K=2000 chained-CTE oracle DuckDB cannot plan — the identical
# construction IS validated at K=10 twice). The three round-13
# FORCE_RECHECK entries re-verified green and were pruned.
CHECKED_BY_ROUND[13] = frozenset({
    "als_fixed_alternations", "bpe_hybrid_merges", "bpe_hybrid_train_k2000",
    "bpe_saved_tokenize_counts", "centroid_drift",
    "community_label_propagation", "corpus_curation_pipeline",
    "distribution_divergence", "epoch_pack_spans", "graph_bfs", "graph_knn",
    "graph_pagerank", "hash_embed", "int8_quantize_analysis",
    "ivf_batch_knn", "js_divergence_hist", "knn_classify_vote",
    "label_f1_at_k", "label_recall_at_k", "lof_outliers", "ltr_rerank",
    "merge_on_read_rows", "merge_upsert_rows", "ml_kmeans_clusters",
    "ml_logreg_predictions", "mmr_rerank", "opq_rotated_variance",
    "ppl_bucket_counts", "quality_classifier_scores", "rag_query",
    "repetition_quality_filters", "rerank_lexical", "sparse_metrics_knn",
    "sparse_search_tf", "stream_exact_dedup", "stream_lsh_neardup",
    "stream_merge_upsert", "stream_sessionize", "substring_dup_pairs",
    "substring_dup_stats", "token_budget_mix", "tpch_q1",
    "tpch_q12_priority_classes", "tpch_q19_disjunctive", "tpch_q4_priority",
    "tpch_q5_local_supplier", "ts_arima_forecast", "tsne_label_centroids",
    "vector_avg_by_label", "vector_masked_ops",
})

# CORRECTNESS_r14.json: all 50 checked rows green (47 hash-match, 3
# no-oracle recall/seed-twin reports rows-only by design). The five
# round-14 FORCE_RECHECK entries (merge-table manifest rewrite + BPE
# guard/auto-route) re-verified green and were pruned.
CHECKED_BY_ROUND[14] = frozenset({
    "ann_recall_report", "binary_hamming_knn", "bpe_saved_tokenize_counts",
    "bpe_tokenize_counts", "consistent_snapshot_knn", "dbscan_clusters",
    "embed_cached", "events_hourly", "events_sessionize",
    "events_time_decay", "events_topk_users", "faceted_vector_search",
    "feature_store_pit", "gbt_fixed_stumps", "gbt_shap_attributions",
    "gmm_fixed_em", "graph_connected_components", "hnsw_batch_knn",
    "hnsw_knn_full_ef", "hybrid_dense_sparse", "hybrid_index_search",
    "isolation_depth_exact", "isolation_forest_outliers",
    "ivf_rebalance_probe", "ivfpq_knn_exact_limit", "lsh_batch_knn",
    "lsh_knn_full_radius", "lsh_recall_report", "merge_multi_lookup",
    "merge_on_read_rows", "merge_point_lookup", "merge_time_travel",
    "merge_upsert_rows", "ml_knn_predictions", "multi_vector_search",
    "nlp_sentiment_classify", "ocsvm_outliers", "orders_topk_per_segment",
    "quantize_int4_fp8", "quantize_uint8_ternary", "rerank_candidates",
    "rf_fixed_stumps", "semantic_keyword_search", "stream_merge_upsert",
    "temporal_knn_decay", "text_similarity_semantic",
    "top_revenue_customers", "tsne_fixed_grad", "vec_window_rank",
    "vector_math_ops",
})

# CORRECTNESS_r15.json: all 50 checked rows green (rows + schema + hash).
# The six round-15 FORCE_RECHECK entries (merge-table manifest rewrite)
# re-verified green and were pruned. Note automl_deploy_ab,
# kmeans_silhouette, minhash_lsh_pairs and ngram_containment_pairs were
# sampled here AFTER their r15 optimization rewrites, so they carry
# post-rewrite driver evidence already.
CHECKED_BY_ROUND[15] = frozenset({
    "answer_question", "automl_deploy_ab", "bernoulli_nb_lang",
    "bpe_facade_tokenize_counts", "bpe_hf_import_counts",
    "decision_stump_gini", "drift_timeseries", "feature_importance_linreg",
    "fill_mask_text2text", "graph_dfs_order", "hybrid_search",
    "index_tuning_report", "ivf_insert_delete_probe", "kmeans_fixed_lloyd",
    "kmeans_silhouette", "knn_regress_label", "linreg_eval_metrics",
    "logreg_gd_predictions", "lsh_insert_delete_knn", "merge_multi_lookup",
    "merge_on_read_rows", "merge_point_lookup", "merge_rebalance_rows",
    "merge_time_travel", "merge_upsert_rows", "merge_vacuum_rows",
    "minhash_lsh_pairs", "nb_eval_metrics", "ngram_containment_pairs",
    "pq_adc_exact_codebook", "quantize_compare_distances",
    "ridge_closed_form", "ridge_cv_rmse", "ridge_grid_search",
    "stream_merge_upsert", "stream_monitor_window",
    "tpch_q10_returned_items", "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect", "tpch_q15_top_supplier", "tpch_q17_small_qty",
    "tpch_q18_large_volume", "tpch_q22_sales_opportunity",
    "tpch_q3_shipping", "tpch_q6_forecast", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "vector_parse_roundtrip",
    "vector_variance_stddev", "zero_shot_classify",
})

# Queries whose implementation changed since their last driver check —
# treated as never-checked so the next round's first-50 re-verifies them.
# Maintain this alongside any rewrite of a previously-checked query.
FORCE_RECHECK = frozenset({
    # (All six round-15 merge entries got their green re-check in
    # CORRECTNESS_r15.json and were pruned. Add a query here whenever its
    # implementation — or an index/stream path it consumes — is rewritten
    # after its latest driver check.)
    #
    # Round 15 optimization rewrites whose only post-rewrite oracle
    # evidence is the local driver-sim (VERDICT r15 item 1): new numeric
    # kernels, checkpoint/lazy-materialization restructures, and the
    # double-step CC. The four r15-rewritten rows the driver DID sample
    # post-rewrite (automl_deploy_ab, kmeans_silhouette, minhash_lsh_pairs,
    # ngram_containment_pairs) are ledgered under CHECKED_BY_ROUND[15].
    "ocsvm_outliers", "dbscan_clusters", "tsne_fixed_grad",
    "isolation_forest_outliers", "lof_outliers", "graph_bfs", "graph_knn",
    "graph_pagerank", "graph_connected_components",
    "community_label_propagation", "neardup_resolve_survivors",
    "neardup_resolve_quality", "simhash_neardup_pairs",
    "embedding_neardup_pairs", "ngram_jaccard_pairs",
    "substring_dup_stats", "substring_dup_pairs", "bpe_merges_topk",
    "bpe_tokenize_counts", "trigram_lm_quality", "ppl_bucket_counts",
    "corpus_curation_pipeline", "lsh_recall_report", "ann_recall_report",
    #
    # Round 16 optimization rewrites (this round's local driver-sim is
    # green for every one; the driver should still re-verify): the fused
    # ngram pair-size attach (ngram_containment_pairs was r15-checked but
    # rewritten AGAIN in r16), the LSH bucket→file manifest probes, the
    # kmeans_lloyd_exact lineage/broadcast restructure and its lloyd-IVF
    # layout consumers, the pagerank self-loop iteration shape
    # (graph_pagerank already listed above), the hybrid-BPE trainer's
    # incremental-statistics changes, and the pinned co-partitioned edge
    # frames in pagerank / connected_components / label propagation
    # (graph_pagerank, graph_connected_components,
    # community_label_propagation, dbscan_clusters, neardup_resolve_* —
    # all already listed above).
    "ngram_containment_pairs", "lsh_batch_knn", "lsh_recall_clustered",
    "lsh_knn_full_radius", "lsh_insert_delete_knn", "kmeans_fixed_lloyd",
    "kmeans_silhouette", "ml_kmeans_clusters", "ivf_knn_probe",
    "ivf_knn_full_probe", "ivf_rebalance_probe", "bpe_hybrid_merges",
    "bpe_hybrid_train_k2000", "automl_deploy_ab",
    #
    # Fixture-layer rewrite (registry/fixtures.py): rows whose artifact
    # now round-trips through disk on every call (PQ codebook json, GBT
    # model json, ratings matrix and classifier scores as parquet), the
    # CDC drain that moved into its fixture build, and the rebalance
    # scenario restructured as one build.
    "pq_adc_topk", "gbt_fixed_stumps", "gbt_shap_attributions",
    "recommend_content_based", "recommend_hybrid",
    "quality_classifier_scores", "stream_ivf_cdc_knn",
    "merge_rebalance_rows",
    #
    # connected_components rewritten again (one input scan with
    # self-loops, merge-hinted step join, changed-label count observed on
    # the round's checkpoint job) and DBSCAN's isolated-core path folded
    # into it: graph_connected_components, dbscan_clusters,
    # neardup_resolve_survivors, neardup_resolve_quality — all already
    # listed above.
    #
    # Distance kernels, centroid routes and LSH signatures rendered as one
    # SQL expression each; rows whose own distance call site changed (a
    # Python vector or a projected column name in place of a Column
    # operand). lsh_recall_report, recommend_content_based and
    # recommend_hybrid are already listed above.
    "knn_canberra", "knn_braycurtis", "knn_minkowski3", "knn_jaccard_sign",
    "knn_dice_sign", "binary_metrics4", "quantize_compare_distances",
    "graph_knn", "rerank_ensemble_weighted", "rerank_ensemble_borda",
    "knn_mahalanobis", "hnsw_knn_full_ef", "hnsw_insert_delete_knn",
    "davies_bouldin", "similarity_histogram", "rrf_fusion",
    "vec_route_counts", "text_similarity_semantic",
})


def _last_checked(name: str) -> int:
    """0 = never checked (or force-recheck) — sorts first."""
    if name in FORCE_RECHECK:
        return 0
    rounds = [r for r, names in CHECKED_BY_ROUND.items() if name in names]
    return max(rounds) if rounds else 0


def collect() -> dict[str, tuple[QueryFn, str | None]]:
    from neurondb_spark.registry import (
        composite_queries,
        core,
        embed_rerank,
        events,
        index_queries,
        metrics_extra,
        misc_queries,
        ml_queries,
        ops_queries,
        quality_queries,
        quant_graph,
        search,
        text_pipeline,
        timeseries_rel,
        tokenizer_queries,
        vector_ops_queries,
    )

    out: dict[str, tuple[QueryFn, str | None]] = {}
    for mod in (
        core, search, text_pipeline, events, index_queries, ml_queries,
        embed_rerank, quant_graph, timeseries_rel, vector_ops_queries,
        metrics_extra, misc_queries, composite_queries, quality_queries,
        ops_queries, tokenizer_queries,
    ):
        for name, pair in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = pair
    # Least-recently-checked first (driver checks the first 50); ties keep
    # registry declaration order (Python sort is stable).
    names = sorted(out, key=_last_checked)
    return {name: out[name] for name in names}
