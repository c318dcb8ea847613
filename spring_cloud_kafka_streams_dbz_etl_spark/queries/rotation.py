"""Driver-verification rotation (VERDICT r01 'Next round' item 1).

The external correctness harness evaluates only the first 50 entries of
``__spark_entry__.queries()`` per round, in registration order. Round 1
therefore left 31 queries (all 13 ``s_*`` streaming, the text family incl.
the flagship ``q_curation_pipeline``, similarity, sourcefmt, and
``q_scalar_funcs``) without a driver CORRECTNESS row even though they are
locally pytest-green.

Fix: order the registry so the queries with the FEWEST driver-green rounds
come first. ``CHECKED_BY_ROUND`` records, per completed round, the set of
query names the driver actually evaluated (the keys of
``CORRECTNESS_r{N}.json``); append a new entry after each round. New or
never-checked queries sort to the front automatically, so every query
accumulates a green row across rounds.
"""

from __future__ import annotations

# Keys of CORRECTNESS_r01.json (the 50 queries the driver checked in
# round 1, 49 hash-green + q_approx_stats rows-only by design).
_ROUND_1 = frozenset(
    {
        "q_asof_join", "q_sessionize", "q_pivot", "q_cube", "q_salted_agg",
        "q_approx_stats", "q_bitmap_distinct", "q_sequence_gaps",
        "q_percentiles", "q_stats_moments", "q_conditional_agg",
        "q_explode_array", "q_range_join", "q_histogram", "q_unpivot",
        "q_grouping_sets", "q_outer_join", "q_scalar_subquery",
        "q_window_ranks", "q_string_funcs", "q_date_funcs",
        "q_nullsafe_join", "q_multiset_ops", "q_time_rollup",
        "q_cdc_envelope_parse", "q_udf_scalar", "q_cdc_apply", "q_scd2",
        "q_stratified_sample", "q_pack_sequences", "q_doc_chunks",
        "q_dedup_exact", "q_minhash_near_dup", "q_dup_clusters",
        "q_simhash", "q_ngram_jaccard", "q_dedup_docs",
        "q_multimodal_schema", "q_filter_predicate", "q_project_rename",
        "q_enrich_join", "q_join_inner_multi", "q_semi_anti_join",
        "q_agg_group", "q_agg_distinct", "q_rollup_cube", "q_window_rank",
        "q_window_analytic", "q_sort_limit_topk", "q_set_ops",
    }
)

# Keys of CORRECTNESS_r02.json whose row was GREEN (hash_match, or
# rows-only by design for q_approx_stats). Policy: a RED row does NOT
# count as checked — q_vector_quantize failed r02 on the driver's
# canonicalizer (unhashable array column), so it re-fronts in round 3
# alongside new queries until it earns a green row.
_ROUND_2 = frozenset(
    {
        "q_containment", "q_media_decode", "q_scalar_funcs",
        "q_cosine_topk", "q_ann_ivf", "q_embedding_cosine_dup",
        "q_lsh_cosine", "q_json_source", "q_csv_source",
        "q_avro_roundtrip", "q_udtf_tokens", "q_hash_split",
        "s_cdc_pipeline", "s_cdc_pipeline_orders", "s_dlq_split",
        "s_dlq_reprocess", "s_window_agg", "s_late_data",
        "s_stateful_count", "s_session_window", "s_dedup_stream",
        "s_dedup_within_watermark", "s_stream_stream_join",
        "s_offset_reset", "s_idempotent_sink", "q_text_stats",
        "q_token_count", "q_lang_id", "q_quality_score", "q_fingerprint",
        "q_top_terms", "q_tfidf", "q_bm25", "q_char_entropy",
        "q_repetition", "q_pmi_bigrams", "q_winnow_fingerprint",
        "q_curation_pipeline", "q_asof_join", "q_sessionize", "q_pivot",
        "q_cube", "q_salted_agg", "q_approx_stats", "q_bitmap_distinct",
        "q_sequence_gaps", "q_percentiles", "q_stats_moments",
        "q_conditional_agg",
        # excluded: q_vector_quantize (red row; see CORRECTNESS_r02.json)
    }
)

# Keys of CORRECTNESS_r03.json whose row was GREEN (50/50) — the full
# round-3 window: the 39 r01-only re-verifications plus the round's new /
# changed queries, zero red rows.
_ROUND_3 = frozenset(
    {
        "q_agg_distinct", "q_agg_group", "q_avro_registry_dlq",
        "q_bpe_tokens", "q_cdc_apply", "q_cdc_envelope_parse",
        "q_containment", "q_date_funcs", "q_decontaminate", "q_dedup_docs",
        "q_dedup_exact", "q_doc_chunks", "q_dup_clusters", "q_enrich_join",
        "q_explode_array", "q_filter_predicate", "q_grouping_sets",
        "q_histogram", "q_join_inner_multi", "q_lsh_cosine", "q_media_decode",
        "q_minhash_near_dup", "q_multimodal_schema", "q_multiset_ops",
        "q_ngram_jaccard", "q_nullsafe_join", "q_outer_join",
        "q_pack_sequences", "q_project_rename", "q_range_join",
        "q_repetition", "q_rollup_cube", "q_scalar_subquery", "q_scd2",
        "q_semantic_clusters", "q_semi_anti_join", "q_set_ops", "q_simhash",
        "q_sort_limit_topk", "q_stratified_sample", "q_string_funcs",
        "q_time_rollup", "q_udf_scalar", "q_unigram_nll", "q_unpivot",
        "q_vector_quantize", "q_window_analytic", "q_window_rank",
        "q_window_ranks", "s_dim_upsert",
    }
)

# Keys of CORRECTNESS_r04.json whose row was GREEN (50/50) — the round-4
# window: the 18 NTZ-migration re-verifications (all green), the round's
# new queries, and the first driver rows for TPC-H q3/q5/q10, PQ family,
# k-means, media features/resize, schema evolution, txn sink. Zero red.
_ROUND_4 = frozenset(
    {
        "q_ann_ivf", "q_ann_ivfpq", "q_avro_registry_dlq",
        "q_avro_roundtrip", "q_bucketed_join", "q_cosine_topk",
        "q_csv_source", "q_decontaminate", "q_dim_time_travel",
        "q_dq_audit", "q_dup_clusters", "q_embedding_cosine_dup",
        "q_hash_split", "q_json_source", "q_kmeans_cells",
        "q_media_features", "q_media_resize", "q_mixture_weights",
        "q_pii_redact", "q_pq_adc_topk", "q_pq_encode", "q_scalar_funcs",
        "q_schema_evolution", "q_semantic_clusters", "q_sessionize",
        "q_tpch_q10", "q_tpch_q3", "q_tpch_q5", "q_udaf_grouped",
        "q_udtf_tokens", "q_vector_quantize", "q_zorder_layout",
        "s_cdc_pipeline", "s_cdc_pipeline_orders", "s_curation_incremental",
        "s_dedup_stream", "s_dedup_within_watermark", "s_dlq_reprocess",
        "s_dlq_split", "s_idempotent_sink", "s_kafka_replay",
        "s_kafka_sink_replay", "s_kafka_txn_sink", "s_late_data",
        "s_offset_reset", "s_schema_drift", "s_session_window",
        "s_stateful_count", "s_stream_stream_join", "s_window_agg",
    }
)

# Keys of CORRECTNESS_r05.json — 50/50 GREEN (rows+schema+hash, zero
# errors): the full TPC-H completion (q1/q2/q4/q6-q9/q11-q22), the rebuilt
# q_simhash_near_dup / q_ngram_jaccard, q_approx_stats with exact companion
# columns, the layout family, the PQ family re-verification, and the five
# round-5 streaming rows (s_dim_delete, s_minhash_incremental,
# s_backfill_then_tail, s_stream_outer_join, s_session_window re-check).
_ROUND_5 = frozenset(
    {
        "q_ann_ivfpq", "q_approx_stats", "q_bigram_nll", "q_bucketed_join",
        "q_compaction_plan", "q_dim_time_travel", "q_dup_hubs", "q_funnel",
        "q_fuzzy_match", "q_gopher_rules", "q_kmeans_cells",
        "q_mixture_weights", "q_ngram_jaccard", "q_orc_source", "q_pagerank",
        "q_pq_adc_topk", "q_pq_encode", "q_retention_cohorts",
        "q_salted_join", "q_simhash_near_dup", "q_substring_runs",
        "q_text_log_source", "q_tpch_q1", "q_tpch_q11", "q_tpch_q12",
        "q_tpch_q13", "q_tpch_q14", "q_tpch_q15", "q_tpch_q16", "q_tpch_q17",
        "q_tpch_q18", "q_tpch_q19", "q_tpch_q2", "q_tpch_q20", "q_tpch_q21",
        "q_tpch_q22", "q_tpch_q4", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8",
        "q_tpch_q9", "q_triangle_count", "q_udaf_grouped", "q_zone_map_skip",
        "q_zorder_layout", "s_backfill_then_tail", "s_dim_delete",
        "s_minhash_incremental", "s_session_window", "s_stream_outer_join",
    }
)

# Keys of CORRECTNESS_r06.json — 50/50 GREEN (rows+schema+hash, zero
# errors): the 38 round-5 deferrals' first rows, the s_offset_reset
# control-plane re-front, and the six Arrow-swap re-fronts (PQ trio,
# blocked-cosine pair consumers, k-means), plus 5 fewest-checked
# re-checks. 193/193 cumulative after this round.
_ROUND_6 = frozenset(
    {
        'q_ann_ivfpq', 'q_ann_recall', 'q_anomaly_zscore',
        'q_binary_source', 'q_boilerplate_phrases', 'q_cooccurrence',
        'q_curation_near_dup', 'q_dataset_card', 'q_dq_quarantine',
        'q_dup_hubs', 'q_embedding_cosine_dup', 'q_ewma',
        'q_feature_hash', 'q_funnel', 'q_gap_fill', 'q_hop_distance',
        'q_incremental_agg', 'q_kmeans_cells', 'q_knn_graph',
        'q_media_frame_dedup', 'q_pagerank', 'q_pareto_frontier',
        'q_perplexity_filter', 'q_pop_growth', 'q_pq_adc_topk',
        'q_pq_encode', 'q_quantile_bins', 'q_range_bounds', 'q_rerank',
        'q_reservoir_sample', 'q_retention_cohorts', 'q_rolling_window',
        'q_running_distinct', 'q_salted_join', 'q_scd2_enrich',
        'q_semantic_clusters', 'q_semantic_decontaminate',
        'q_skew_diagnose', 'q_snapshot_diff', 'q_temperature_sample',
        'q_term_drift', 'q_xml_source', 's_available_now',
        's_cdc_multiplex', 's_chained_agg', 's_offset_reset',
        's_python_sink', 's_python_source', 's_scd2_stream',
        's_window_topk',
    }
)

# Keys of CORRECTNESS_r07.json — 50/50 GREEN (rows+schema+hash, zero
# errors): the 8 round-6-built queries' first rows, all 6
# CHANGED_SINCE_CHECK re-fronts (the five advisory-fix consumers plus
# the rebuilt s_window_topk), and 36 fewest-checked re-checks.
# 201/201 cumulative after this round — every registered query has a
# green driver row.
_ROUND_7 = frozenset(
    {
        'q_anomaly_zscore', 'q_compaction_plan', 'q_cooccurrence',
        'q_corpus_shuffle', 'q_dataset_card', 'q_dup_source_matrix',
        'q_embedding_cosine_dup', 'q_event_pattern', 'q_ewma',
        'q_gap_fill', 'q_hop_distance', 'q_incremental_agg',
        'q_interval_join', 'q_leakage_split', 'q_media_features',
        'q_media_frame_dedup', 'q_media_resize', 'q_minhash_est_audit',
        'q_pareto_frontier', 'q_perplexity_filter', 'q_pop_growth',
        'q_quantile_bins', 'q_range_bounds', 'q_reservoir_sample',
        'q_rolling_window', 'q_running_distinct', 'q_scd2_enrich',
        'q_semantic_clusters', 'q_simhash_near_dup', 'q_skew_diagnose',
        'q_snapshot_diff', 'q_substring_runs', 'q_temperature_sample',
        'q_tpch_q1', 'q_tpch_q10', 'q_tpch_q14', 'q_tpch_q18',
        'q_tpch_q19', 'q_tpch_q2', 'q_tpch_q3', 'q_tpch_q4', 'q_tpch_q5',
        'q_tpch_q6', 'q_tpch_q7', 'q_tpch_q8', 'q_ts_similarity',
        'q_variant_json', 'q_zone_map_skip', 's_offset_reset',
        's_window_topk',
    }
)

# Keys of CORRECTNESS_r08.json — 50/50 GREEN (rows+schema+hash, zero
# errors): all 17 round-8 CHANGED_SINCE_CHECK re-fronts (safe_div sweep,
# Arrow SimHash swap, variant-envelope shred, NaN-embedding guard,
# rebuilt s_window_topk), the round's new q_ann_pq_recall, the Kafka
# transcript trio, and fewest-checked re-checks. Artifact mtime
# (06:18) postdates the last round-8 code commit (02:08), so every
# re-front was verified AT HEAD. 202/203 cumulative after this round
# (q_hard_negatives deferred to r9).
_ROUND_8 = frozenset(
    {
        "q_ann_ivf", "q_ann_pq_recall", "q_ann_recall", "q_binary_source",
        "q_char_entropy", "q_corpus_shuffle", "q_cosine_topk", "q_dq_audit",
        "q_dq_quarantine", "q_dup_source_matrix", "q_embedding_cosine_dup",
        "q_event_pattern", "q_fuzzy_match", "q_interval_join", "q_knn_graph",
        "q_leakage_split", "q_lsh_cosine", "q_minhash_est_audit",
        "q_orc_source", "q_perplexity_filter", "q_pii_redact", "q_rerank",
        "q_schema_evolution", "q_semantic_clusters",
        "q_semantic_decontaminate", "q_simhash_near_dup", "q_stats_moments",
        "q_text_log_source", "q_text_stats", "q_token_count", "q_tpch_q11",
        "q_tpch_q12", "q_tpch_q13", "q_tpch_q15", "q_tpch_q16", "q_tpch_q17",
        "q_tpch_q20", "q_tpch_q21", "q_tpch_q22", "q_tpch_q9",
        "q_triangle_count", "q_ts_similarity", "q_variant_json",
        "q_vector_quantize", "q_xml_source", "s_kafka_replay",
        "s_kafka_sink_replay", "s_kafka_txn_sink", "s_schema_drift",
        "s_window_topk",
    }
)

# Keys of CORRECTNESS_r09.json — 50/50 GREEN (rows+schema+hash, zero
# errors): the fronted q_hard_negatives (the last never-checked query —
# 203/203 cumulative after this round), the round-9 new s_python_source /
# s_python_sink driver rows, and the r1/r2-era fewest-checked tail
# re-checks (q_asof_join, q_pivot, q_cube, q_percentiles, the text
# family, the streaming tail).
_ROUND_9 = frozenset(
    {
        "q_ann_pq_recall", "q_asof_join", "q_bigram_nll",
        "q_bitmap_distinct", "q_bm25", "q_boilerplate_phrases",
        "q_bpe_tokens", "q_conditional_agg", "q_cube",
        "q_curation_near_dup", "q_curation_pipeline", "q_explode_array",
        "q_feature_hash", "q_fingerprint", "q_gopher_rules",
        "q_hard_negatives", "q_histogram", "q_hop_distance",
        "q_interval_join", "q_lang_id", "q_pagerank", "q_percentiles",
        "q_pivot", "q_pmi_bigrams", "q_quality_score", "q_range_bounds",
        "q_range_join", "q_salted_agg", "q_salted_join",
        "q_sequence_gaps", "q_skew_diagnose", "q_term_drift", "q_tfidf",
        "q_top_terms", "q_ts_similarity", "q_unigram_nll", "q_unpivot",
        "q_winnow_fingerprint", "s_available_now", "s_backfill_then_tail",
        "s_cdc_multiplex", "s_chained_agg", "s_curation_incremental",
        "s_dim_delete", "s_dim_upsert", "s_minhash_incremental",
        "s_python_sink", "s_python_source", "s_scd2_stream",
        "s_stream_outer_join",
    }
)

# Keys of CORRECTNESS_r10.json — 50/50 GREEN (rows+schema+hash, zero
# errors): the round-10 trained-index family's first driver rows
# (q_ann_pq_recall_trained[_cb], q_pq_train_encode, q_embedding_drift,
# q_ann_nprobe_curve, q_hard_negatives_served, s_ann_index_maintain),
# the q_kmeans_cells re-front after the train/serve refactor, and the
# fewest-checked tail re-checks.
_ROUND_10 = frozenset(
    {
        "q_ann_nprobe_curve", "q_ann_pq_recall_trained",
        "q_ann_pq_recall_trained_cb", "q_anomaly_zscore", "q_cdc_apply",
        "q_cdc_envelope_parse", "q_cooccurrence", "q_corpus_shuffle",
        "q_dataset_card", "q_date_funcs", "q_decontaminate", "q_dedup_exact",
        "q_dim_time_travel", "q_doc_chunks", "q_embedding_drift",
        "q_event_pattern", "q_ewma", "q_funnel", "q_gap_fill",
        "q_grouping_sets", "q_hard_negatives", "q_hard_negatives_served",
        "q_incremental_agg", "q_kmeans_cells", "q_minhash_near_dup",
        "q_mixture_weights", "q_multiset_ops", "q_nullsafe_join",
        "q_outer_join", "q_pack_sequences", "q_pareto_frontier",
        "q_pop_growth", "q_pq_train_encode", "q_quantile_bins",
        "q_reservoir_sample", "q_retention_cohorts", "q_rolling_window",
        "q_running_distinct", "q_scalar_subquery", "q_scd2", "q_scd2_enrich",
        "q_snapshot_diff", "q_stratified_sample", "q_string_funcs",
        "q_temperature_sample", "q_time_rollup", "q_udaf_grouped",
        "q_udf_scalar", "q_window_ranks", "s_ann_index_maintain",
    }
)

# Keys of CORRECTNESS_r11.json — 50/50 GREEN (rows+schema+hash, zero
# errors): the 9 CHANGED_SINCE_CHECK re-fronts after the
# ivf_cells_for/hash-seeding rewrite (q_ts_similarity + the trained-index
# family), s_ann_index_rebuild's first row, q_label_propagate's first row
# (it was registered in time to make the window after all), the dedup
# family re-checks, the full TPC-H sweep, layout, and multimodal.
_ROUND_11 = frozenset(
    {
        "q_ts_similarity", "q_kmeans_cells", "q_ann_pq_recall_trained",
        "q_hard_negatives_served", "q_pq_train_encode",
        "q_ann_pq_recall_trained_cb", "q_embedding_drift",
        "q_ann_nprobe_curve", "s_ann_index_maintain", "s_ann_index_rebuild",
        "q_simhash", "q_dedup_docs", "q_containment", "q_dup_hubs",
        "q_substring_runs", "q_leakage_split", "q_minhash_est_audit",
        "q_dup_source_matrix", "q_label_propagate", "q_zorder_layout",
        "q_compaction_plan", "q_zone_map_skip", "q_multimodal_schema",
        "q_media_decode", "q_media_resize", "q_media_features",
        "q_media_frame_dedup", "q_tpch_q3", "q_tpch_q5", "q_tpch_q10",
        "q_tpch_q6", "q_tpch_q18", "q_tpch_q7", "q_tpch_q8", "q_tpch_q14",
        "q_tpch_q19", "q_tpch_q4", "q_tpch_q1", "q_tpch_q2", "q_tpch_q9",
        "q_tpch_q11", "q_tpch_q12", "q_tpch_q13", "q_tpch_q15",
        "q_tpch_q16", "q_tpch_q17", "q_tpch_q20", "q_tpch_q21",
        "q_tpch_q22", "q_pii_redact",
    }
)

# Keys of CORRECTNESS_r12.json (all 50 green — rows+schema+hash, zero
# errors): the 8 r11-deferred queries (BPE pair, ANN serving/cell/filter
# family, linear-probe pair), the 7 CHANGED_SINCE_CHECK re-fronts after
# the nprobe width doubling + q_rerank's rounding-mirror swap, and the
# fewest-checked tail.
_ROUND_12 = frozenset(
    {
        "q_agg_distinct", "q_agg_group", "q_ann_cell_stats",
        "q_ann_filtered", "q_ann_nprobe_curve", "q_ann_pq_recall",
        "q_ann_pq_recall_trained", "q_ann_pq_recall_trained_cb",
        "q_ann_recall", "q_bm25", "q_bpe_segment", "q_bpe_train",
        "q_bucketed_join", "q_char_entropy", "q_dq_audit",
        "q_dq_quarantine", "q_embedding_drift", "q_embedding_pca",
        "q_enrich_join", "q_filter_predicate", "q_fingerprint",
        "q_fuzzy_match", "q_hard_negatives", "q_hard_negatives_served",
        "q_join_inner_multi", "q_knn_graph", "q_label_propagate",
        "q_lang_id", "q_linear_probe", "q_pq_train_encode",
        "q_project_rename", "q_quality_score", "q_rerank",
        "q_rollup_cube", "q_scalar_funcs", "q_semantic_decontaminate",
        "q_semi_anti_join", "q_set_ops", "q_sort_limit_topk",
        "q_text_stats", "q_tfidf", "q_token_count", "q_top_terms",
        "q_triangle_count", "q_window_analytic", "q_window_rank",
        "s_ann_index_maintain", "s_ann_index_rebuild", "s_ann_serve",
        "s_linear_probe_online",
    }
)

# Keys of CORRECTNESS_r13.json (all 50 green — rows+schema+hash, zero
# errors): the 14 r12 deferrals' first rows (detectors, dedup planning,
# text/source quality, kNN-classify pair, index health), the 6 r13
# reserve-slot additions, the q_tpch_q14 re-front after the decimal
# rounding fix, the 6 stream_tune stateful re-fronts, and the
# fewest-checked tail. Cumulative 240/240 after this round.
_ROUND_13 = frozenset(
    {
        "q_mean_shift_detect", "q_seasonal_decompose",
        "q_embedding_coverage", "q_dedup_threshold_sweep",
        "q_lsh_band_plan", "q_dup_cluster_stats", "q_tpch_q14",
        "q_pii_risk_report", "q_embedding_dq", "q_ann_coverage_curve",
        "q_embedding_spectrum", "q_knob_plan", "q_vocab_growth",
        "q_bpe_capacity", "q_bpe_fertility", "q_source_quality_matrix",
        "q_linear_probe_pca", "q_index_health", "q_knn_classify",
        "q_knn_classify_served", "s_window_agg", "s_late_data",
        "s_stateful_count", "s_session_window", "s_chained_agg",
        "s_window_topk", "s_mean_shift_alert", "q_ann_cell_stats",
        "q_ann_filtered", "q_embedding_pca", "q_bpe_train",
        "q_bpe_segment", "q_linear_probe", "s_ann_serve",
        "s_linear_probe_online", "q_label_propagate", "q_repetition",
        "q_pmi_bigrams", "q_winnow_fingerprint", "q_curation_pipeline",
        "q_unigram_nll", "q_bpe_tokens", "q_gopher_rules", "q_bigram_nll",
        "q_boilerplate_phrases", "q_curation_near_dup", "q_term_drift",
        "q_feature_hash", "q_json_source", "q_csv_source",
    }
)

# Keys of CORRECTNESS_r14.json (all 50 green — rows+schema+hash, zero
# errors): the 4 r13 deferrals' first rows (q_dedup_survivors,
# q_context_length_plan, s_state_inspect, s_state_changefeed), the 6 r14
# reserve-slot additions (q_mad_outliers, q_temporal_split_embargo,
# q_shard_plan, q_bloom_skip, q_quality_calibration, s_shard_assign),
# and the least-recently-checked tail (everything last checked <= r8).
# Cumulative 250/250 after this round. Note: s_stateful_count's green
# row here predates the GroupState.get fix — it stays in
# CHANGED_SINCE_CHECK and re-fronts in r15.
_ROUND_14 = frozenset(
    {
        "q_ann_ivf", "q_ann_ivfpq", "q_approx_stats",
        "q_avro_registry_dlq", "q_avro_roundtrip", "q_binary_source",
        "q_bloom_skip", "q_context_length_plan", "q_cosine_topk",
        "q_dedup_survivors", "q_dup_clusters", "q_embedding_cosine_dup",
        "q_hash_split", "q_lsh_cosine", "q_mad_outliers",
        "q_ngram_jaccard", "q_orc_source", "q_perplexity_filter",
        "q_pq_adc_topk", "q_pq_encode", "q_quality_calibration",
        "q_schema_evolution", "q_semantic_clusters", "q_sessionize",
        "q_shard_plan", "q_simhash_near_dup", "q_stats_moments",
        "q_temporal_split_embargo", "q_text_log_source", "q_udtf_tokens",
        "q_variant_json", "q_vector_quantize", "q_xml_source",
        "s_cdc_pipeline", "s_cdc_pipeline_orders", "s_dedup_stream",
        "s_dedup_within_watermark", "s_dlq_reprocess", "s_dlq_split",
        "s_idempotent_sink", "s_kafka_replay", "s_kafka_sink_replay",
        "s_kafka_txn_sink", "s_offset_reset", "s_schema_drift",
        "s_shard_assign", "s_state_changefeed", "s_state_inspect",
        "s_stateful_count", "s_stream_stream_join",
    }
)

# Keys of CORRECTNESS_r15.json (all 50 green — rows+schema+hash, zero
# errors): the 3 r14 deferrals' first rows (q_epoch_plan, q_freq_spectrum,
# q_ngram_novelty), the s_stateful_count re-front at head after the
# GroupState.get fix (clears its CHANGED_SINCE_CHECK entry), the 6 r15
# reserve-slot additions (q_shard_write_audit, q_langid_confusion,
# q_curation_funnel, s_curation_funnel, q_shard_read_plan,
# q_source_mix_drift), and the least-recently-checked tail (drains the
# r9-checked tier). Cumulative 259/260 after this round — only
# q_vocab_coverage (registered after the r15 window was budgeted)
# awaits its first row.
_ROUND_15 = frozenset(
    {
        "q_asof_join", "q_bitmap_distinct", "q_conditional_agg",
        "q_cube", "q_curation_funnel", "q_date_funcs", "q_epoch_plan",
        "q_explode_array", "q_freq_spectrum", "q_funnel",
        "q_grouping_sets", "q_histogram", "q_hop_distance",
        "q_interval_join", "q_langid_confusion", "q_multiset_ops",
        "q_ngram_novelty", "q_nullsafe_join", "q_outer_join",
        "q_pagerank", "q_percentiles", "q_pivot", "q_range_bounds",
        "q_range_join", "q_retention_cohorts", "q_salted_agg",
        "q_salted_join", "q_scalar_subquery", "q_sequence_gaps",
        "q_shard_read_plan", "q_shard_write_audit", "q_skew_diagnose",
        "q_source_mix_drift", "q_string_funcs", "q_time_rollup",
        "q_unpivot", "q_window_ranks", "s_available_now",
        "s_backfill_then_tail", "s_cdc_multiplex", "s_curation_funnel",
        "s_curation_incremental", "s_dim_delete", "s_dim_upsert",
        "s_minhash_incremental", "s_python_sink", "s_python_source",
        "s_scd2_stream", "s_stateful_count", "s_stream_outer_join",
    }
)

# Keys of CORRECTNESS_r16.json (all 50 green — rows+schema+hash, zero
# errors): the r15 carry q_vocab_coverage's first row, the rebuilt
# q_shard_read_plan (two-pass assign_shards data path) plus the other
# four CHANGED_SINCE_CHECK re-fronts (q_bloom_skip, q_shard_write_audit,
# q_source_mix_drift, s_curation_funnel) all re-green at head, the 6 r16
# reserve-slot additions (q_eval_gram_coverage, q_chunk_langid_mix,
# q_quality_length_corr, s_source_mix_drift, q_knn_hubness,
# q_dup_timeline), and the least-recently-checked tail (drains the
# r10-checked tier). Cumulative 266/271 after this round — only the five
# DEFERRED_NEW registrations (budgeted out of the r16 window) await
# their first rows and front r17.
_ROUND_16 = frozenset(
    {
        "q_anomaly_zscore", "q_bloom_skip", "q_cdc_apply",
        "q_cdc_envelope_parse", "q_chunk_langid_mix", "q_containment",
        "q_cooccurrence", "q_corpus_shuffle", "q_dataset_card",
        "q_decontaminate", "q_dedup_docs", "q_dedup_exact",
        "q_dim_time_travel", "q_doc_chunks", "q_dup_hubs",
        "q_dup_source_matrix", "q_dup_timeline", "q_eval_gram_coverage",
        "q_event_pattern", "q_ewma", "q_gap_fill", "q_incremental_agg",
        "q_knn_hubness", "q_leakage_split", "q_minhash_est_audit",
        "q_minhash_near_dup", "q_mixture_weights", "q_pack_sequences",
        "q_pareto_frontier", "q_pop_growth", "q_quality_length_corr",
        "q_quantile_bins", "q_reservoir_sample", "q_rolling_window",
        "q_running_distinct", "q_scd2", "q_scd2_enrich",
        "q_shard_read_plan", "q_shard_write_audit", "q_simhash",
        "q_snapshot_diff", "q_source_mix_drift", "q_stratified_sample",
        "q_substring_runs", "q_temperature_sample", "q_udaf_grouped",
        "q_udf_scalar", "q_vocab_coverage", "s_curation_funnel",
        "s_source_mix_drift",
    }
)

# Keys of CORRECTNESS_r17.json whose row was GREEN (50/50) — the full
# round-17 window: the 39 optimization-round re-fronts, the 5 r16
# deferrals and the 6 r17 registrations, zero red rows. Cumulative after
# r17: 277/277 registered queries driver-green at their latest check.
_ROUND_17 = frozenset({
    "q_ann_cell_stats", "q_ann_coverage_curve", "q_ann_filtered",
    "q_ann_ivf", "q_ann_ivfpq", "q_ann_nprobe_curve", "q_ann_pq_recall",
    "q_ann_pq_recall_trained", "q_ann_pq_recall_trained_cb",
    "q_bigram_nll", "q_budget_prune", "q_cosine_topk", "q_decontaminate",
    "q_embedding_cosine_dup", "q_embedding_drift", "q_embedding_pca",
    "q_gate_interaction", "q_hard_negatives", "q_hard_negatives_served",
    "q_hybrid_retrieval", "q_importance_select", "q_kmeans_cells",
    "q_knn_classify", "q_knn_classify_served", "q_knn_graph",
    "q_knn_graph_ivf", "q_knn_hubness", "q_knn_mutual",
    "q_langid_gate_sweep", "q_lsh_cosine", "q_perplexity_filter",
    "q_pq_adc_topk", "q_pq_encode", "q_pq_train_encode",
    "q_quality_gate_sweep", "q_rerank", "q_semantic_decontaminate",
    "q_tfidf", "q_triangle_count", "q_unigram_nll", "s_ann_index_rebuild",
    "s_curation_funnel", "s_curation_incremental", "s_decontaminate",
    "s_dup_timeline", "s_importance_select", "s_kafka_sink_replay",
    "s_kafka_txn_sink", "s_python_sink", "s_source_mix_drift"
})

# Keys of CORRECTNESS_r18.json, every row GREEN (50/50 hash, row and
# schema matches): the 45 round-18 CHANGED_SINCE_CHECK re-fronts plus 5
# least-recently-checked fills.
_ROUND_18 = frozenset({
    "q_ann_coverage_curve", "q_ann_nprobe_curve", "q_ann_recall",
    "q_bm25", "q_bpe_capacity", "q_bpe_train", "q_cdc_envelope_parse",
    "q_compaction_plan", "q_dedup_survivors", "q_dedup_threshold_sweep",
    "q_dim_time_travel", "q_dup_cluster_stats", "q_dup_clusters",
    "q_embedding_spectrum", "q_index_health", "q_knn_graph",
    "q_knn_graph_ivf", "q_knn_hubness", "q_knn_mutual", "q_knob_plan",
    "q_leakage_split", "q_linear_probe", "q_linear_probe_pca",
    "q_media_decode", "q_multimodal_schema", "q_range_join",
    "q_semantic_clusters", "q_simhash_near_dup", "q_triangle_count",
    "q_vocab_growth", "q_zone_map_skip", "q_zorder_layout",
    "s_ann_index_maintain", "s_ann_serve", "s_backfill_then_tail",
    "s_cdc_multiplex", "s_cdc_pipeline", "s_cdc_pipeline_orders",
    "s_chained_agg", "s_dim_delete", "s_dim_upsert", "s_dlq_reprocess",
    "s_dlq_split", "s_idempotent_sink", "s_linear_probe_online",
    "s_minhash_incremental", "s_offset_reset", "s_session_window",
    "s_stream_outer_join", "s_window_topk"
})

CHECKED_BY_ROUND: dict[int, frozenset[str]] = {
    1: _ROUND_1,
    2: _ROUND_2,
    3: _ROUND_3,
    4: _ROUND_4,
    5: _ROUND_5,
    6: _ROUND_6,
    7: _ROUND_7,
    8: _ROUND_8,
    9: _ROUND_9,
    10: _ROUND_10,
    11: _ROUND_11,
    12: _ROUND_12,
    13: _ROUND_13,
    14: _ROUND_14,
    15: _ROUND_15,
    16: _ROUND_16,
    17: _ROUND_17,
    18: _ROUND_18,
}

# Queries whose IMPLEMENTATION changed materially since their last green
# driver row. A green row for the old plan says nothing about the new one,
# so these re-front exactly like never-checked queries until re-verified.
# Round 5's 8 entries (q_ngram_jaccard, q_kmeans_cells, q_bucketed_join,
# q_approx_stats, s_session_window, PQ family) all re-verified green in
# r05 and are cleared. Round 6 entries: plans rewritten this round per
# VERDICT r05 after their last green row (none yet — q_quantile_bins and
# q_rerank never had a green row, so they re-front as never-checked via
# the cleared DEFERRED_NEW, not here).
# Round 6's 7 entries (s_offset_reset + the six Arrow-swap consumers)
# all re-verified green in r06 and are cleared. Round-7 entries: the
# ADVICE-r6 / VERDICT-r6 fixes that touched plans with green r06 rows.
# Round 7's 6 entries (s_window_topk + the five advisory-fix consumers)
# all re-verified green in r07 and are cleared. Round 8's 17 entries
# (s_window_topk rebuild, variant-envelope shred, Arrow SimHash swap,
# perplexity persist, the 12 safe_div/NaN-guard consumers) all
# re-verified green AT HEAD in r08 (artifact mtime 06:18 vs last code
# commit 02:08) and are cleared per ADVICE r8 — in the same change that
# records CHECKED_BY_ROUND[8], not deferred. Round-10 entries: the
# kmeans train/serve refactor — kmeans_cells' Arrow assignment now
# routes through the shared _argmin_cells kernel via _assign_arrow
# (pinned bit-identical in test_kmeans_fit_plus_ivf_assign_equals_
# kmeans_cells, but q_kmeans_cells' green r4 row predates the rewrite,
# so it re-fronts for a fresh driver row at HEAD).
# Round 10's q_kmeans_cells re-verified green in r10 and is cleared.
# Round-11 entries: (a) q_ts_similarity — its plan changed in r10
# (operator extraction for the property fuzz) AFTER the r10 window was
# budgeted, so its green r9 row predates the rewrite (VERDICT r10
# "what's wrong" #3); (b) the entire trained-index family — r11
# replaced the fixed KMEANS_K=8 with ivf_cells_for(n)/nprobe_for(k)
# AND moved Lloyd seeding (cells + PQ codebooks) to deterministic
# hash order, changing every plan that trains or serves through the
# model, plus both oracle CTE chains. All earlier green rows for these
# predate the rewrite.
# Round 11's 9 entries (q_ts_similarity + the trained-index family after
# the ivf_cells_for/hash-seeding rewrite) all re-verified green AT HEAD
# in r11 and are cleared in the same change that records
# CHECKED_BY_ROUND[11] (ADVICE r8's process rule). Round-12 entries:
# the nprobe_for width doubling (VERDICT r11 ask #3: max(4, 2·ceil(√k))
# replaces max(2, ceil(√k)); SQL twin in the knobs CTE updated to
# match) changes every serving plan AND oracle that probes at the
# default width — the five below have green r11 rows under the OLD
# width and re-front for fresh rows at HEAD. s_ann_index_rebuild also
# carries the r12 ADVICE guard fixes. Queries whose oracle merely
# CONTAINS the knobs CTE but never reads np (q_kmeans_cells,
# q_pq_train_encode, q_embedding_drift) produce byte-identical results
# and do not re-front; the r12 parity sweep re-confirmed them green.
# q_rerank re-fronts too: its executor-inlined rounding helper moved to
# the scaled-double DuckDB mirror in r12 (same values on every fixture
# row — parity re-verified green at both SFs — but the policy is a
# fresh driver row after any material plan change).
# Round 12's 7 entries (the nprobe-width consumers + q_rerank) all
# re-verified green AT HEAD in r12 and are cleared in the same change
# that records CHECKED_BY_ROUND[12] (ADVICE r8's process rule).
# Round-13 entries: plans with green rows rewritten this round land
# here as they happen. q_tpch_q14: the ×100 moved from a double
# multiply to the exact decimal sum (two roundings -> one), fixing the
# 16th-digit divergence the r13 sf0.001 full parity sweep found — its
# r5 green row predates the fix, so it re-fronts for a fresh row.
# The six small-state stateful streams moved from tune() to
# stream_tune() (state-store instances sized to the state key space,
# not core count — isolated repeat medians s_chained_agg 4.10->2.15 s,
# s_window_topk 55->16 s, measured by tools/measure_state.py; the
# in-bench interleaved rows moved 6.42->4.95 s and similar — both
# contexts labelled per ADVICE r13): the stateful exchange partitioning
# changed, so their green rows under the 32-instance plans predate the
# change and they re-front (results re-verified oracle-identical at
# sf0.01 + sf0.1 in-session).
# Round 13's 7 entries (q_tpch_q14 after the decimal rounding fix + the
# six stream_tune stateful re-fronts) all re-verified green AT HEAD in
# r13 and are cleared in the same change that records
# CHECKED_BY_ROUND[13]. Round-14 entries: the s_state_changefeed
# atomic-append fix (ADVICE r13 medium — bucket appends now
# coalesce(1) so each commits as a single file rename and cannot split
# across micro-batches) changes that stream's ingestion plan; it has no
# green driver row yet (it is a DEFERRED_NEW fronting this window), so
# no re-front entry is needed — listed here for the audit trail only.
# s_stateful_count re-fronts: the GroupState.get property fix
# (streaming/stateful.py — `state.get()` called the returned tuple and
# crashed any key whose state spanned micro-batches; latent because the
# single-file fixture source yields one batch) changes
# running_user_counters' closure. Fixture results are value-identical
# (re-verified at sf0.01/sf0.1 in-session) and the cross-batch path is
# now pinned by tests/test_rocksdb_state.py::
# test_stateful_counters_accumulate_across_micro_batches.
# s_stateful_count DID earn a green r14 row, but the GroupState fix
# landed after that row was recorded (VERDICT r14 "what's wrong" #2), so
# the green row certifies the OLD closure; it stays here and re-fronts
# in r15 for a row at head. Cleared when CHECKED_BY_ROUND[15] records
# its fresh green row.
# Round 15's s_stateful_count re-verified green AT HEAD in r15 and is
# cleared in the same change that records CHECKED_BY_ROUND[15].
# Round-16 entries: q_shard_read_plan — VERDICT r15 "what's wrong" #1:
# its data path rebuilt shard masses with the naive per-source
# cumulative window (the single-reducer shape measure_shard_assign
# proved 6x slower at 20.5M rows/source); r16 rebuilds the shard
# relation via operators/layout.py::assign_shards' two-pass distributed
# prefix scan + groupBy. The property fuzz (tests/test_properties.py)
# already proves the two-pass assignment identical to the naive window,
# so the oracle stands unchanged — but the registered plan changed
# materially after its green r15 row, so it re-fronts for a fresh row.
# The r16 restamp (--diff fresh-vs-fresh deterministic; stamps diffed
# against the committed r15 set) adjudicated the rest of the round's
# edits: CLOSURE-ONLY flags on q_bloom_skip + q_shard_write_audit
# (scratch trees now query-scoped via scratch_dir — runtime cleanup
# behavior, plan hash identical), q_source_mix_drift (share/drift tail
# extracted to mix_drift_shares for the streaming twin — pure refactor,
# plan hash identical), and s_curation_funnel (funnel_partials'
# first-batch guard narrowed to path-not-found + explicit digest-store
# schema — a REAL kernel behavior change) — all four have green r15
# rows under the old closures and re-front for rows at head. SRC-ONLY
# flags on q_curation_pipeline / q_curation_near_dup / q_curation_funnel
# (gate literals replaced by the hoisted LANG_GATE_RATIO/QUALITY_GATE
# constants): plan hashes AND closure digests identical, oracle text
# byte-identical — non-material, no re-front (the constants fold to the
# same literals).
# Late-r16 restamp adjudications: (a) q_nullsafe_join's stamp HASH moved
# when the r16 _common_expr_N renumbering landed in the normalizer — the
# session-global common-subexpression counter had given the SAME raw
# plan two stable hashes (isolated process vs full sweep); the raw plan
# is unchanged (texts verified convergent), so like the r15 bare-hex
# change this is hashing-scheme-only: non-material, no re-front.
# (b) q_dup_timeline's closure digest refreshed after the
# dup_timeline_rollup extraction — it is a zero-row query already
# fronting this window, so it earns its first driver row at head with
# no CHANGED_SINCE_CHECK entry needed.
# Round 16's 5 entries (q_shard_read_plan two-pass rebuild plus the four
# closure-flagged advisory-fix consumers) all re-verified green AT HEAD
# in r16 (CORRECTNESS_r16.json 50/50) and are cleared in the same change
# that records CHECKED_BY_ROUND[16] (ADVICE r8's process rule).
# Round-17 adjudication: the scratch-dir swap (queries/streaming.py::_tmp,
# sourcefmt.py::_tmpdir, cdc.py dimtt, relational.py bucketed_join,
# sourcefmt.py q_binary_source — zero bare mkdtemp left in queries/)
# flips closure digests on every builder that reaches those helpers
# (~50 queries), but the delta is confined to the scratch-ALLOCATION
# helper: same mkdtemp prefix, added query-scoped rmtree lifetime —
# driver-side tree cleanup only, no kernel or plan bytes (spot stamps:
# plan hashes SAME on all seven representatives). VERDICT r16 ask #3
# explicitly rules this class non-material ("queries whose plans don't
# change ... need no re-front"), so unlike r16's two-query layout
# precedent (affordable then, 50-wide now) these closure-only flags do
# NOT re-front. Any OTHER r17 stamp CHANGED/closure-only name lands
# here as usual.
# Round-17 entries: s_source_mix_drift — ADVICE r16 #1: its partials
# kernel now attributes cells to the slice_id DATA column instead of
# casting the micro-batch counter (mix_partials groupBy key changed,
# the stream carries slice_id) — a real kernel/plan change after its
# green r16 row, so it re-fronts. The same fix to dup_timeline_partials
# re-lands via s_dup_timeline's first row (zero-row, already fronting),
# and s_decontaminate's explicit-schema read likewise rides its first
# row. s_curation_funnel / s_curation_incremental — ADVICE r16 #5: the
# first-batch guard now classifies by AnalysisException error class
# first (_is_path_missing), message substring only as the classless
# fallback; same guard-narrowing class that re-fronted s_curation_funnel
# in r16, so both re-front again.
# r17 full-restamp adjudication (fresh sweep diffed against
# `git show HEAD:PLAN_STAMPS.json`): 4 plan-hash changes —
# s_source_mix_drift + s_dup_timeline are the expected slice_id-kernel
# rewrites (first is listed here; second is zero-row and fronts);
# q_decontaminate + q_dataset_card are RewriteDistinctAggregates
# gid-order JVM variance, newly evidence-backed into
# tools/plan_stamps.py::PROCESS_VARIANT (A/B dumps show only the gid
# swap; the r16-code worktree reproduces the r17 hash in isolation) —
# no re-front. 45 closure-only flags: the adjudicated scratch-helper
# class above plus the three _is_path_missing guard consumers already
# re-fronting. 1 src-only (q_gate_interaction — oracle now built from
# the shared _QSCORE_SQL; plan+closures identical, zero-row, fronts).
# r17 OPTIMIZATION-round restamp adjudication (277 stamps rewritten at
# head after the performance work; diffed against the committed set in a
# fresh process). The optimization round changed plans/kernels WITHOUT
# changing any query's results (every change below was verified
# result-identical in-session — bit-level where doubles are involved —
# and oracle-parity green), but per the process rule a green-row query
# whose registered plan or kernel changed materially re-fronts for a
# fresh row:
# - trained-ANN restructure + cosine_pre norm hoisting (commits e780e6d,
#   447ad56): the similarity/ANN family's plans changed (fused
#   assignment kernels, shared cached int base, size-derived
#   partitioning, norms computed once per vector and carried through
#   joins) — q_ann_*, q_cosine_topk, q_pq_*, q_kmeans_cells, q_knn_*,
#   q_embedding_*, q_hard_negatives*, q_lsh_cosine, q_rerank,
#   q_semantic_clusters, q_semantic_decontaminate, q_triangle_count,
#   q_index_health, q_linear_probe_pca, s_ann_*.
# - Kafka transcript codec vectorization (68a61b3): MapInPandas ->
#   MapInArrow in s_kafka_txn_sink, s_kafka_sink_replay, s_python_sink.
# - NLL micros sums (359097c): q_unigram_nll, q_bigram_nll,
#   q_perplexity_filter aggregate long micros instead of DECIMAL(18,6)
#   (verified bit-identical; §8 of OPTIMIZATION_r17.md).
# - simhash Arrow kernel memo+reduceat rewrite (closure-only, row-level
#   parity pinned): q_simhash_near_dup.
# - q_decontaminate: fan_out on the gram explode (plan change; also the
#   known RewriteDistinctAggregates gid variant).
# - single-slice sentinel/flush local relations (closure-only, result
#   rows identical): s_chained_agg, s_session_window,
#   s_stream_outer_join.
# r17-new registrations (q_hybrid_retrieval, q_knn_mutual,
# q_knn_graph_ivf, q_importance_select, s_importance_select,
# q_budget_prune) carry zero rows and front automatically — not listed.
# WINDOW-BUDGET TIERING: the 11 never-checked queries (5 r16 deferrals +
# 6 r17 registrations) plus re-fronts must fit the 50-slot window
# (tests/test_rotation.py pins both invariants), leaving 39 re-front
# slots. The 36 PLAN-level changes above re-front (plus the 3 standing
# entries = 39; zero tier = exactly 50). The 10 CLOSURE-ONLY kernel
# changes (q_simhash_near_dup, q_semantic_clusters, q_index_health,
# q_linear_probe_pca, q_embedding_spectrum, s_ann_index_maintain,
# s_ann_serve, s_chained_agg, s_session_window, s_stream_outer_join) do
# NOT re-front this round: each is result-identical by an in-repo
# row-level parity/fuzz pin (simhash kernel vs JVM twin;
# sentinel-prep rows unchanged; ANN helpers under the 49-test
# similarity parity sweep), their plan hashes are unchanged, and an
# optimization-round driver sweep re-oracles the full surface anyway.
# They queue for the r18 least-recently-checked fill.
# Round 17's 39 entries all re-verified green AT HEAD in r17
# (CORRECTNESS_r17.json 50/50) and are cleared in the same change that
# records CHECKED_BY_ROUND[17] (ADVICE r8's process rule).
# Round-18 entries (the second optimization round; enumerated by the
# tools/plan_stamps.py --diff restamp at head plus the r17 stale tier):
# - The 10 r17 CLOSURE-ONLY tier queries + q_ann_recall (VERDICT r17
#   what's-wrong #1 / next-round #1): changed in r17 without a fresh
#   driver row, re-fronted here regardless of whether r18 touched them
#   again.
# - local_rows sweep (VERDICT r17 #6): the 14 control-plane
#   createDataFrame(list) relations now build via catalog.local_rows —
#   plan/src changes on q_dedup_threshold_sweep, q_range_join,
#   q_vocab_growth, q_bpe_capacity, q_bpe_train, q_linear_probe,
#   q_dim_time_travel, q_ann_nprobe_curve, q_ann_coverage_curve,
#   q_embedding_spectrum, q_knob_plan, q_linear_probe_pca,
#   s_window_topk, s_linear_probe_online.
# - connected_components restructure (size-aware loop confs, persist
#   edge cache, probe labelling): q_dup_clusters, q_leakage_split,
#   q_dup_cluster_stats, q_dedup_survivors, q_semantic_clusters,
#   s_minhash_incremental.
# - pair_dots_arrow kernel (the blocked self-join's per-pair HOF fold
#   moved into one Arrow pass per cell): q_triangle_count, q_knn_graph,
#   q_knn_hubness, q_knn_mutual, q_knn_graph_ivf.
# - CDC parse single-eval (eval_once on from_json) + parsed-batch
#   cache: q_cdc_envelope_parse, s_cdc_pipeline, s_cdc_pipeline_orders,
#   s_idempotent_sink, s_dlq_split, s_dlq_reprocess, s_offset_reset,
#   s_backfill_then_tail, s_cdc_multiplex, s_dim_upsert, s_dim_delete.
# - q_bm25 tf-cache drop (the q_tfidf A/B twin, deferred from r17) and
#   q_simhash_near_dup's bounded md5 memo (VERDICT r17 #3).
# r18 restamp adjudication: q_decontaminate diffed as the KNOWN
# RewriteDistinctAggregates gid-order process variant (src unchanged,
# tools/plan_stamps.py::PROCESS_VARIANT) — no re-front.
# Zero tier = these 45 (no never-checked queries remain) <= 50; the
# least-recently-checked tail fills the window to 50.
# Round 18's 45 entries all re-verified green in r18 (CORRECTNESS_r18.json
# 50/50) and are cleared in the same change that records
# CHECKED_BY_ROUND[18] — except the r17 stale tier, which
# tests/test_rotation.py pins by name and which stays until that test's
# round constants advance (four of them are re-touched below anyway).
# Entries after the ANN/PQ one-implementation change (enumerated by the
# tools/plan_stamps.py --diff restamp; every value was checked unchanged
# against the prior operators on the fixture and on tie-heavy grid
# vectors, so these are re-fronts for fresh driver rows, not known
# breaks):
# - plan moved: the encode / ADC / k-means / IVF-routing kernels now
#   run one shared argmin fold (mapInPandas inputs and outputs changed:
#   the encode pass reads one __v column, ivf_assign no longer carries
#   iv, kmeans_cells is kmeans_fit + ivf_assign): q_pq_encode,
#   q_pq_adc_topk, q_ann_ivfpq, q_ann_pq_recall, q_kmeans_cells,
#   q_ann_cell_stats, q_embedding_drift, q_ann_filtered,
#   q_ann_coverage_curve, q_ann_nprobe_curve, q_ann_pq_recall_trained,
#   q_hard_negatives_served, q_knn_classify_served, q_pq_train_encode.
# - plan moved: pair_dots_arrow drops NULL-id / NULL-cell rows before
#   its shuffle: q_triangle_count, q_knn_graph, q_knn_hubness,
#   q_knn_mutual, q_knn_graph_ivf.
# - src/closure only (same plan, shared kernel bodies moved):
#   q_ann_pq_recall_trained_cb, q_lsh_cosine, s_ann_index_rebuild,
#   q_index_health, s_ann_index_maintain, s_ann_serve,
#   q_simhash_near_dup (docstring; the JVM simhash twin is deleted).
# Restamp adjudication: q_dataset_card and q_tpch_q21 diffed as the
# known PROCESS_VARIANT gid-order flips (src unchanged) — no re-front.
# Zero tier = these 33 <= 50.
# Entries after the one-pass CDC epoch change (tools/plan_stamps.py
# restamp; outputs checked unchanged by oracle parity at sf0.001,
# sf0.01 and sf0.1, so these re-front for fresh checked rows):
# - plan moved: q_cdc_envelope_parse (the synthesized payload is now
#   eval_once-guarded: one to_json per row instead of two).
# - closure only (the s_* stamps hash the sink read-back, whose plan is
#   unchanged; the epoch body behind it changed): the foreachBatch body
#   is one tagged persist with both sinks as filters of it, the
#   pre-codec repartition is gone, the dimension resolves once per
#   committed version (sources/sinks.py::dimension_reader), and the
#   entity pipeline runs the same body — s_cdc_pipeline,
#   s_cdc_pipeline_orders, s_dlq_split, s_dlq_reprocess, s_offset_reset,
#   s_idempotent_sink, s_dim_upsert, s_dim_delete, s_backfill_then_tail,
#   s_cdc_multiplex; and the version listing (_list_versions now reads
#   one listStatus) behind q_dim_time_travel (s_ann_index_rebuild and
#   q_index_health, which reach the same helper, are already listed).
# Restamp adjudication: q_dataset_card and q_tpch_q21 again diffed as
# the PROCESS_VARIANT flips — kept at their committed stamps.
# Zero tier = these 45 <= 50.
# After the driver-commit CDC epoch (one collect per small epoch, both
# sinks committed from the driver), the tools/plan_stamps.py restamp
# diffed closure-only on 23 queries and moved no plan or src:
# - the CDC epoch body and the dimension reader/version listing:
#   s_cdc_pipeline, s_cdc_pipeline_orders, s_dlq_split, s_dlq_reprocess,
#   s_offset_reset, s_idempotent_sink, s_dim_upsert, s_dim_delete,
#   s_backfill_then_tail, q_dim_time_travel, q_index_health,
#   s_ann_index_rebuild, s_ann_index_maintain, s_ann_serve,
#   q_semantic_clusters — all already listed below, so no set change;
# - not re-fronted, as output-identical: q_dup_clusters,
#   q_dup_cluster_stats, q_dedup_survivors, q_leakage_split and
#   s_minhash_incremental reach connected_components, whose loop-conf
#   gate moved into catalog.driver_sized_bytes with the same decision
#   for every numeric threshold (the pin shapes jobs, never rows);
#   s_curation_incremental, s_linear_probe_online and s_mean_shift_alert
#   (and s_minhash_incremental) reach StreamRegistry.metrics only
#   through the class, and no query reads its new durationMsP50 key.
# q_dataset_card and q_tpch_q21 flipped as the PROCESS_VARIANT again and
# were kept. Zero tier stays these 45 <= 50.
# After connected_components moved small graphs to a driver union-find
# (labels join back as a local relation), the restamp moved plan on
# q_dup_clusters, q_dup_cluster_stats, q_dedup_survivors,
# q_leakage_split and q_semantic_clusters (already listed), and closure
# only on s_minhash_incremental (graph.py and the epoch body's pin
# region). The four new plan moves and s_minhash_incremental are added;
# q_dataset_card and q_tpch_q21 flipped as the PROCESS_VARIANT and were
# kept. Zero tier = these 50 <= 50.
CHANGED_SINCE_CHECK: frozenset[str] = frozenset(
    {
        # r17 stale tier (pinned by name in tests/test_rotation.py)
        "q_simhash_near_dup", "q_semantic_clusters", "q_index_health",
        "q_linear_probe_pca", "q_embedding_spectrum",
        "s_ann_index_maintain", "s_ann_serve", "s_chained_agg",
        "s_session_window", "s_stream_outer_join", "q_ann_recall",
        # ANN/PQ shared kernels: plan moved
        "q_pq_encode", "q_pq_adc_topk", "q_ann_ivfpq", "q_ann_pq_recall",
        "q_kmeans_cells", "q_ann_cell_stats", "q_embedding_drift",
        "q_ann_filtered", "q_ann_coverage_curve", "q_ann_nprobe_curve",
        "q_ann_pq_recall_trained", "q_hard_negatives_served",
        "q_knn_classify_served", "q_pq_train_encode",
        # pair_dots_arrow NULL-key filter: plan moved
        "q_triangle_count", "q_knn_graph", "q_knn_hubness",
        "q_knn_mutual", "q_knn_graph_ivf",
        # src/closure only
        "q_ann_pq_recall_trained_cb", "q_lsh_cosine", "s_ann_index_rebuild",
        # one-pass CDC epoch: plan moved
        "q_cdc_envelope_parse",
        # one-pass CDC epoch: closure only
        "s_cdc_pipeline", "s_cdc_pipeline_orders", "s_dlq_split",
        "s_dlq_reprocess", "s_offset_reset", "s_idempotent_sink",
        "s_dim_upsert", "s_dim_delete", "s_backfill_then_tail",
        "s_cdc_multiplex", "q_dim_time_travel",
        # driver union-find for small connected components: plan moved
        "q_dup_clusters", "q_dup_cluster_stats", "q_dedup_survivors",
        "q_leakage_split",
        # ... closure only
        "s_minhash_incremental",
    }
)

# Queries added AFTER the current round's 50-query window was budgeted.
# Round 9's window verified as budgeted (50/50 green, zero deferrals).
# The round-10 window, budgeted here in the same change that records
# CHECKED_BY_ROUND[9] (ADVICE r8's process note): this round's new
# queries (q_ann_pq_recall_trained, q_hard_negatives_served, the
# trained-codebook pair q_pq_train_encode / q_ann_pq_recall_trained_cb,
# s_ann_index_maintain, q_embedding_drift, and q_ann_nprobe_curve —
# zero CHECKED_BY_ROUND rows, front automatically), any CHANGED_SINCE_CHECK
# re-fronts from round-10 plan edits, then fewest-checked re-checks
# (the remaining two-green tail: r1/r2-era queries with exactly two
# green rounds — q_agg_distinct, q_sessionize, q_salted_agg,
# q_approx_stats, q_stats_moments, the sourcefmt family, ...) to fill
# 50. Queries registered after this budgeting land here and front
# round 11.
# Round 10's window verified as budgeted (50/50 green, zero deferrals).
# The round-11 window, budgeted in the same change that records
# CHECKED_BY_ROUND[10]: s_ann_index_rebuild (new, zero rows — fronts
# automatically), the 9 CHANGED_SINCE_CHECK re-fronts (q_ts_similarity
# plus the trained-index family after the ivf_cells_for/hash-seeding
# rewrite), then the fewest-checked tail (two-green r1/r2-era queries)
# fills to 50. Queries registered after this budgeting land here and
# front round 12.
# q_bpe_train registered after the round-11 window was budgeted; it
# defers to keep the window stable (ADVICE r8's process rule) and
# fronts in round 12.
# Round 11's window verified (50/50 green). All 9 entries cleared in
# the same change that records CHECKED_BY_ROUND[11]:
# q_label_propagate turned out to have MADE the r11 window (green row
# in CORRECTNESS_r11.json — the stale entry was under-prioritizing a
# one-green-row query via the synthetic times_checked()==2, VERDICT
# r11 "what's wrong" #2); the 8 genuinely-deferred queries
# (q_bpe_train, q_bpe_segment, s_ann_serve, q_ann_cell_stats,
# q_ann_filtered, q_linear_probe, q_embedding_pca,
# s_linear_probe_online) now carry their real zero-row count and front
# the round-12 window automatically, followed by the
# CHANGED_SINCE_CHECK re-fronts, then the fewest-checked tail fills to
# 50. Queries registered after this budgeting land here and front
# round 13.
# Round 12's window verified (50/50 green, cumulative 220/220). All 14
# r12 deferrals cleared in the same change that records
# CHECKED_BY_ROUND[12]: they carry their real zero-row count and front
# the round-13 window automatically (VERDICT r12 ask #1 — green rows
# for all 14 makes cumulative 234/234, every registered query
# driver-verified).
#
# Round-13 window budget (VERDICT r12 ask #2 — stop the deferral queue
# growing by reserving slots for in-round additions): 14 zero-count
# deferrals front, then up to 6 RESERVE slots for queries registered
# during round 13 (a brand-new registration carries zero checks and
# sorts ahead of the tail automatically — the first 6 new queries this
# round are therefore left OUT of DEFERRED_NEW and make this window),
# then the fewest-checked tail (two-green r1/r2-era queries) fills to
# 50. Only additions BEYOND the 6-slot reserve land in DEFERRED_NEW.
# Reserve slots used so far in r13 (registered early, oracle-green at
# both SFs before registration counted): 1. q_bpe_capacity,
# 2. q_ann_coverage_curve, 3. q_vocab_growth, 4. q_embedding_dq,
# 5. q_embedding_spectrum, 6. q_knob_plan (whose equivalence fuzz made
# lsh_bits_for integer-exact — values identical at every fixture SF,
# so the inlined-literal consumers q_lsh_cosine/q_simhash_near_dup are
# plan-identical and do NOT re-front; parity re-verified) (plus a
# value-identical _pca_model
# extraction — parity re-verified for both PCA consumers at both SFs,
# and both get fresh driver rows this window anyway).
# The reserve is exhausted; additions beyond it defer per the process
# rule (VERDICT r12 ask #2 allows <=5 deferred at round end):
# q_dedup_survivors (quality-policy survivor selection + drop manifest,
# the keep-list step after q_dup_clusters) and q_context_length_plan
# (per-context-length truncation/padding capacity table). Both are
# oracle-green at sf0.001/0.01/0.1; they front the round-14 window.
# s_state_inspect (offline checkpoint state-store introspection via the
# Spark 4 statestore/state-metadata sources) and s_state_changefeed
# (state CDC: per-batch key-update history via readChangeFeed) join
# them — also oracle-green at all three SFs before registration
# counted. 4 deferred total, inside VERDICT r12 ask #2's <=5 budget.
# Round 13's window verified (50/50 green, cumulative 240/240). All 4
# r13 deferrals cleared in the same change that records
# CHECKED_BY_ROUND[13]: they carry their real zero-row count and front
# the round-14 window automatically (VERDICT r13 ask #1 — green rows
# for all 4 makes cumulative 244/244, every registered query
# driver-verified).
#
# Round-14 window budget: the 4 zero-count r13 deferrals front, then up
# to 6 RESERVE slots for queries registered during round 14 (same rule
# as r13 — the first 6 in-round registrations are left OUT of
# DEFERRED_NEW and make this window), then the LEAST-RECENTLY-CHECKED
# tail fills to 50 (rotation_order switched from fewest-checked-first
# to least-recently-first this round — see rotation_order's docstring;
# fewest-checked-first could not bound staleness). Staleness after this
# budgeting (VERDICT r13 ask #6): the r14 window drains everything
# last-checked <= r8, so max staleness across all registered queries
# is 5 rounds (r14 - r9) — inside the <=6 bar. Steady-state bound:
# ceil(N/50) rounds; r14's additions took N past 250, so the bound is
# now 6 — AT the bar (the next 50 registrations are free before the
# window must grow). Verified mechanically by
# tests/test_rotation.py::test_max_staleness_bounded and
# test_steady_state_staleness_bound_holds.
# Reserve slots used in r14 (registered early, oracle-green at
# sf0.001/0.01/0.1 before registration counted): 1. q_mad_outliers,
# 2. q_temporal_split_embargo, 3. q_shard_plan, 4. q_bloom_skip,
# 5. q_quality_calibration, 6. s_shard_assign — whose multi-batch run
# exposed the GroupState.get property bug in streaming/stateful.py
# (state.get is a property; calling it called the returned tuple). The
# fix also touches running_user_counters' closure, so s_stateful_count
# re-fronts via CHANGED_SINCE_CHECK below despite its green r13 row
# (fixture values identical — single-file source = one micro-batch, so
# the fixed branch never runs there — but the policy is a fresh driver
# row after any material operator change).
# The reserve is exhausted; additions beyond it defer per the process
# rule (<=5 deferred at round end): q_epoch_plan (per-source
# epoch/repeat + tail-keep-ppm loader manifest under a fixed token
# budget — the upsampling half q_temperature_sample leaves to the
# loader), q_freq_spectrum (Zipf/Heaps octave spectrum of the word
# histogram, libm-safe integer binning), and q_ngram_novelty (marginal
# new-phrase rate of the newest crawl half vs everything before it —
# the continued-pretraining planning number). All oracle-green at
# sf0.001/0.01/0.1; they front the round-15 window. 3 deferred, inside
# the <=5 budget.
# Round 14's window verified (50/50 green, cumulative 250/250). All 3
# r14 deferrals cleared in the same change that records
# CHECKED_BY_ROUND[14]: they carry their real zero-row count and front
# the round-15 window automatically (VERDICT r14 ask #1 — green rows
# for all 3 plus the s_stateful_count re-front makes every registered
# query driver-verified at head).
#
# Round-15 window budget: the 3 zero-count r14 deferrals front, then
# the s_stateful_count CHANGED_SINCE_CHECK re-front, then up to 6
# RESERVE slots for queries registered during round 15 (same rule as
# r13/r14 — the first 6 in-round registrations are left OUT of
# DEFERRED_NEW and make this window), then the LEAST-RECENTLY-CHECKED
# tail fills to 50 (drains the r9-checked tier). Additions beyond the
# reserve land in DEFERRED_NEW per the <=5 budget.
# Reserve slots used in r15 (registered early, oracle-green at
# sf0.001/0.01/0.1 before registration counted): 1. q_shard_write_audit
# (VERDICT r14 ask #3 — write_shards executed + realized-layout audit),
# 2. q_langid_confusion (language-gate confusion matrix vs ground-truth
# lang), 3. q_curation_funnel (stage-by-stage loss accounting for the
# flagship pipeline, shared gate fragments), 4. s_curation_funnel (the
# funnel maintained incrementally — per-batch partials + sink-as-state
# dedup, equal to the batch funnel under the shared oracle),
# 5. q_shard_read_plan (loader-side serpentine LPT read assignment —
# closes plan -> assign -> write -> READ), 6. q_source_mix_drift
# (crawl-slice source-mixture drift monitor). The reserve is exhausted;
# additions beyond it defer per the process rule (<=5 deferred at round
# end).
# Plan-stamp note (r15): the ADVICE-r14 hex-normalizer tightening
# (pure-digit runs are no longer swallowed as <HEX>) moved 13 committed
# stamp HASHES (q_minhash_near_dup and friends — their plans embed
# >=8-digit hash moduli / micros / scaled-double literals that now
# survive normalization). The underlying optimized plans are untouched
# this round and fresh-vs-fresh process determinism re-verified, so the
# change is the hashing scheme, not any plan: non-material, no
# re-fronts. PLAN_STAMPS.json regenerated in the same change.
# The r15 reserve is exhausted; additions beyond it defer per the
# process rule (<=5 deferred at round end): q_vocab_coverage
# (per-source OOV rate under a fixed top-V vocabulary budget — the
# which-feed-does-a-fixed-vocab-underserve table next to
# q_bpe_capacity / q_bpe_fertility). Oracle-green at sf0.001/0.01/0.1;
# it fronts the round-16 window. 1 deferred, inside the <=5 budget.
# Round 15's window verified (50/50 green, cumulative 259/260). The r15
# deferral q_vocab_coverage is cleared in the same change that records
# CHECKED_BY_ROUND[15]: it carries its real zero-row count and fronts
# the round-16 window automatically (VERDICT r15 ask #1 — its green row
# makes every registered query driver-verified at head).
#
# Round-16 window budget: q_vocab_coverage (zero rows) fronts, then the
# q_shard_read_plan CHANGED_SINCE_CHECK re-front (two-pass data path,
# VERDICT r15 ask #2), then up to 6 RESERVE slots for queries
# registered during round 16 (same rule as r13/r14/r15 — the first 6
# in-round registrations are left OUT of DEFERRED_NEW and make this
# window), then the LEAST-RECENTLY-CHECKED tail fills to 50 (drains the
# r10-checked tier — VERDICT r15 ask #3: the histogram's oldest bucket
# moves to r11). Additions beyond the reserve land in DEFERRED_NEW per
# the <=5 budget.
# Reserve slots used in r16 (registered early, oracle-green at
# sf0.001/0.01/0.1 before registration counted): 1. q_eval_gram_coverage
# (eval-suite 4-gram representativity — the inverse of q_decontaminate),
# 2. q_chunk_langid_mix (32-token-chunk code-switching audit, array-expr
# chunk loop, no explode), 3. q_quality_length_corr (per-source Pearson
# corr of length vs quality from exact integer sufficient statistics),
# 4. s_source_mix_drift (the mixture monitor maintained incrementally —
# per-batch cell partials via dynamic partition overwrite, shared
# mix_drift_shares tail + shared oracle with the batch half),
# 5. q_knn_hubness (k-occurrence histogram of the kNN graph — the
# hub/antihub audit that distorts SemDeDup pruning and kNN-ANN recall),
# 6. q_dup_timeline (exact-duplicate rate per crawl slice with
# first-occurrence attribution on a total integer order — duplicate-
# storm localization). The r16 reserve is exhausted; additions beyond
# it defer per the process rule (<=5 deferred at round end):
# s_dup_timeline (q_dup_timeline's streaming half — per-slice digest
# partials with globally-comparable attribution keys, replay-idempotent
# dynamic partition overwrite, read-time first-occurrence attribution
# through the shared dup_timeline_rollup tail and the SHARED oracle).
# q_quality_gate_sweep joins it (retention-vs-threshold curve for the
# quality gate — |thresholds|x2 conditional sums folded into ONE
# combinable 1-row aggregate, grid unpivoted via stack; grid-driven
# oracle so an all-non-English corpus degrades to zero counts + NULL
# shares on both engines instead of aborting or emptying).
# q_langid_gate_sweep completes the gate-knob pair (recall/contamination
# curve for the stopword gate vs ground truth — the gate decision is the
# pure-integer compare 1e6*stopwords >= thr*tokens, zero float anywhere;
# same one-pass stack shape).
# s_decontaminate joins them (q_decontaminate's streaming half —
# frozen benchmark gram store probed per arriving slice, batch-id-keyed
# replay-idempotent partials that ARE the batch answer since a doc's
# grams never cross batches; SHARED oracle).
# q_gate_interaction closes the knob story (the joint lang x quality
# retention grid — 25x2 conditional sums in ONE combinable 1-row
# aggregate, all-integer gate decisions, token share of the whole
# corpus in bigint-DIV ppm).
# All oracle-green at sf0.001/0.01/0.1; they front the round-17
# window. 5 deferred — AT the <=5 budget; round-16 registrations stop
# here.
#
# Round 16's window verified (50/50 green, cumulative 266/271). All 5
# r16 deferrals cleared in the same change that records
# CHECKED_BY_ROUND[16]: q_quality_gate_sweep, q_langid_gate_sweep,
# q_gate_interaction, s_dup_timeline, and s_decontaminate carry their
# real zero-row count and front the round-17 window automatically
# (VERDICT r16 ask #1 — green rows for all 5 makes the surface
# 271/271 driver-verified at head).
#
# Round-17 window budget: the 5 zero-count queries front, then up to 6
# RESERVE slots for queries registered during round 17 (same rule as
# r13-r16 — the first 6 in-round registrations are left OUT of
# DEFERRED_NEW and make this window), then the LEAST-RECENTLY-CHECKED
# tail fills to 50. With 5 + reserve taken, the tail covers the full
# 32-query r11-checked cohort plus the oldest of r12 (VERDICT r16 ask
# #2: the histogram's oldest bucket moves to r12). Additions beyond the
# reserve land in DEFERRED_NEW per the <=5 budget.
# Reserve slots used in r17 (registered early, oracle-green at
# sf0.001/0.01/0.1 before registration counted): 1. q_knn_graph_ivf
# (the kNN build blocked on the TRAINED IVF cell id from kmeans_cells —
# the production-blocking demonstration VERDICT r16 #5 asked for; the
# K-replica curve collapse vs the label key is measured in SCALE.md).
# 2. q_knn_mutual (reciprocal kNN — the hub-resistant construction the
# q_knn_hubness audit points to; edge-sized reciprocity self-join).
# 3. q_hybrid_retrieval (lexical x dense reciprocal-rank fusion — the
# RAG serving shape; inverted-index lexical candidates, broadcast-probe
# dense pass, integer RRF).
# 4. q_importance_select (DSIR-shape targeted data selection: hashed
# token buckets, integer add-one-smoothed target/corpus ratio score,
# distributed top-k — completes the mixture family document-side).
# 5. s_importance_select (its streaming half: frozen target store +
# per-slice featurized partials via the shared token_bucket map,
# read-time scoring through the shared importance_rank tail — the
# ratios need full-corpus totals; SHARED oracle).
# 6. q_budget_prune (budget-constrained quality pruning — exact greedy
# knapsack on a total integer order, executed as the two-phase
# bucket-quantile shape; per-doc windows confined to the boundary
# bucket). The r17 reserve is exhausted; additions beyond it defer per
# the process rule (<=5 deferred at round end).
DEFERRED_NEW: frozenset[str] = frozenset()


def times_checked(name: str) -> int:
    # Deferred-new queries must sort BEHIND every real tier, not tie
    # with it: the old synthetic 2 tied with the twice-checked tail and
    # registration order (module import order) broke the tie in the
    # deferrals' favor whenever a new query lived in an early module
    # (caught in r12: six analytic/dedup/pii additions leaked into the
    # already-budgeted window). A deferral fronts NEXT round because
    # budgeting removes it from DEFERRED_NEW, restoring its real count
    # of 0 — the sentinel only has to keep it out of THIS round.
    if name in DEFERRED_NEW:
        return 10**6
    if name in CHANGED_SINCE_CHECK:
        return 0
    return sum(1 for checked in CHECKED_BY_ROUND.values() if name in checked)


def last_checked(name: str) -> int:
    """Most recent round whose driver window contained ``name``
    (0 = never checked). Deferred-new queries report a far-future
    sentinel so they stay out of the already-budgeted window;
    changed-since-check queries report 0 so a materially rewritten plan
    re-fronts exactly like a never-checked one."""
    if name in DEFERRED_NEW:
        return 10**6
    if name in CHANGED_SINCE_CHECK:
        return 0
    return max(
        (rnd for rnd, checked in CHECKED_BY_ROUND.items() if name in checked),
        default=0,
    )


def rotation_order(names: list[str]) -> list[str]:
    """Stable order: least-recently driver-checked first, then fewest
    total checks, then original registration order.

    Least-recently-first (not fewest-checked-first) is what bounds
    staleness: with 244 registered queries and a 50-query window, every
    query re-fronts within ceil(244/50) = 5 rounds of its last check,
    regardless of how many green rows it has accumulated. The r13 rule
    (fewest-checked-first) let a 4-green r1-era query (q_dup_clusters,
    last checked r4) sit behind the large 3-green tier indefinitely —
    staleness 10 at r14 budgeting, over VERDICT r13 ask #6's <=6 bar.
    Never-checked queries carry last_checked 0 and still front ahead of
    everything, so new registrations and cleared deferrals behave as
    before."""
    return sorted(
        names,
        key=lambda n: (last_checked(n), times_checked(n), names.index(n)),
    )
