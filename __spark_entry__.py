"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query (CDC current-state
materialization) at sf0.001; ``queries()`` maps every implemented operator
to a (spark, sf_dir) callable; ``oracle_sql()`` gives each one's DuckDB
twin. See SURVEY.md §2 for the operator inventory and
``etl_spark/workload.py`` for implementations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_spark import workload, workload_mm, workload_relational, workload_text
from etl_spark.oracles import ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LWW current-state materialization of the sim CDC stream."""
    return workload.cdc_current_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Declaration order is load-bearing: the driver's correctness gate
    tests only the FIRST 50 entries.

    STANDING ROTATION POLICY (COVERAGE.md): the window each round is
    (1) queries NEW this round, then (2) queries whose implementation or
    oracle CHANGED this round, then (3) the queries with the OLDEST
    recorded green rows, refreshed oldest-first — so recorded evidence
    never goes stale. The tail is everything with a newer green row.

    ROUND-13 WINDOW (r12 verdict item #1: drain the r8 tail):
    [round-13 NEW ops: dedup_minhash_accuracy — MinHash-estimate vs
    exact-Jaccard calibration by decile over the LSH candidates;
    corpus_dedup_threshold_curve — pair/doc counts per Jaccard cutoff
    from ONE verify pass; lineitem_kendall_tau — tie-corrected tau-b
    from ordered contingency-cell pairs (corpus-size-invariant pair
    enumeration); docs_source_vocab_overlap — pairwise source
    vocabulary Jaccard matrix from one distinct-(source,token)
    collapse; cdc_socket_parallel_sync — the multi-connection ctid COPY
    pool under the gate (config-driven Replicator, 3 snapshot-anchored
    connections, oracle identical to the serial gate — the pool must be
    invisible); events_chisq_independence — Pearson chi-square
    independence over the event_type × day-of-week contingency,
    decimal-exact term sums; orders_mann_whitney — tie-corrected
    Mann-Whitney U via the two-pass range-bucket exact ranking (never a
    global no-partition window); lineitem_spearman_correlations —
    Spearman rho on tied-average ranks from ONE contingency-cube scan;
    events_heavy_hitters_mg — EXACT heavy hitters via per-partition
    Misra-Gries candidate pruning + broadcast re-count;
    pgoutput_socket_tls_decode — the socket gate
    over TLS: SSLRequest preamble, stdlib ssl at verify-full against a
    gate-minted self-signed root, hostssl-style server; oracle identical
    to pgoutput_decode — encryption must be invisible;
    cdc_socket_copy_sync — initial table sync OVER THE WIRE: slot with
    EXPORT_SNAPSHOT, BEGIN/SET TRANSACTION SNAPSHOT/COPY TO STDOUT/
    COMMIT relayed into the distributed F10 decode, then
    START_REPLICATION on the SAME connection; snapshot-union-stream LWW
    merge; lineitem_theil_index — Theil T/L inequality of supplier
    revenue, decimal-exact term sums; orders_runs_test —
    Wald-Wolfowitz runs test on day-over-day revenue delta signs over
    the date-collapsed series; docs_simpson_diversity — per-source
    token Simpson concentration, integer-exact sums;
    docs_containment_audit — the LINEAR deployment form of the
    containment join (one row per contained doc: container count, best
    containment, deterministic container id) after the x100 probe
    confirmed the pair form output-bound (STRESS100H_r13)]
    + [CHANGED in r13: pgoutput_socket_decode — the transport under it
    gained TLS negotiation, ack-state validation (ADVICE r12) and
    byte/connect counters; re-record]
    + [ALL 23 remaining r8-latest rows (docs_repetition ...
    stream_windowed_watermark) — the r8 tail empties this round]
    + [11 of the 45 r9-latest rows, alphabetical (ann_cosine_topk ...
    dedup_simhash): the nine late ops above pushed
    dedup_simhash_clusters / docs_bigram_logprob / docs_clean /
    docs_langid_confusion / docs_length_histogram /
    docs_quality_calibration / docs_top_terms / embed_near_dup /
    events_anomaly_mad past the 50-cut; those nine plus the remaining
    25 (events_gapfill_locf ... vocab_topk_coverage) lead the r14
    queue]. Tail = those 34 r9 rows, then r10/r11/r12 green rows. After
    this round nothing recorded is older than r9. All 50 window entries
    verified locally via tools/check_oracle.py at sf0.01 before
    rotation (COVERAGE.md).
    """
    return {
        # --- round-13 NEW ops ---
        "dedup_minhash_accuracy": workload_text.dedup_minhash_accuracy,
        "corpus_dedup_threshold_curve": workload_text.corpus_dedup_threshold_curve,
        "lineitem_kendall_tau": workload_relational.lineitem_kendall_tau,
        "docs_source_vocab_overlap": workload_text.docs_source_vocab_overlap,
        "cdc_socket_parallel_sync": workload.cdc_socket_parallel_sync,
        "events_chisq_independence": workload_relational.events_chisq_independence,
        "orders_mann_whitney": workload_relational.orders_mann_whitney,
        "lineitem_spearman_correlations": workload_relational.lineitem_spearman_correlations,
        "events_heavy_hitters_mg": workload_relational.events_heavy_hitters_mg,
        "pgoutput_socket_tls_decode": workload.pgoutput_socket_tls_decode,
        "cdc_socket_copy_sync": workload.cdc_socket_copy_sync,
        "lineitem_theil_index": workload_relational.lineitem_theil_index,
        "orders_runs_test": workload_relational.orders_runs_test,
        "docs_simpson_diversity": workload_text.docs_simpson_diversity,
        "docs_containment_audit": workload_text.docs_containment_audit,
        # --- implementation CHANGED in round 13: re-record ---
        "pgoutput_socket_decode": workload.pgoutput_socket_decode,
        # --- ALL 23 remaining r8-latest rows (rotation drain: r8 empties) ---
        "docs_repetition": workload_text.docs_repetition,
        "docs_semantic_dedup": workload_text.docs_semantic_dedup,
        "docs_unigram_logprob": workload_text.docs_unigram_logprob,
        "embeddings_centroid_separation": workload_text.embeddings_centroid_separation,
        "events_error_after_purchase": workload_relational.events_error_after_purchase,
        "events_grouping_sets": workload_relational.events_grouping_sets,
        "events_hourly_rollup": workload_relational.events_hourly_rollup,
        "events_pivot_daily": workload_relational.events_pivot_daily,
        "events_promo_range_join": workload_relational.events_promo_range_join,
        "events_quality_checks": workload_relational.events_quality_checks,
        "events_retention_cohorts": workload_relational.events_retention_cohorts,
        "events_rolling_1h": workload_relational.events_rolling_1h,
        "events_rollup_multidim": workload_relational.events_rollup_multidim,
        "mm_resize": workload_mm.mm_resize,
        "parts_triangle_sample": workload_relational.parts_triangle_sample,
        "sample_reservoir_per_stratum": workload_text.sample_reservoir_per_stratum,
        "sessionize_events": workload_relational.sessionize_events,
        "sketch_count_min_users": workload_relational.sketch_count_min_users,
        "sketch_merge_global": workload_relational.sketch_merge_global,
        "stream_native_dedup": workload.stream_native_dedup,
        "stream_session_window": workload.stream_session_window,
        "stream_static_enrich": workload.stream_static_enrich,
        "stream_windowed_watermark": workload.stream_windowed_watermark,
        # --- oldest r9 rows, alphabetical (window cut falls after
        # q14_type_revenue_share: 24 in-window; q15_top_supplier onward
        # lead the r14 queue) ---
        "ann_cosine_topk": workload_text.ann_cosine_topk,
        "ann_ivf_topk": workload_text.ann_ivf_topk,
        "ann_ivfpq_rerank": workload_text.ann_ivfpq_rerank,
        "ann_kmeans_step": workload_text.ann_kmeans_step,
        "ann_lsh_topk": workload_text.ann_lsh_topk,
        "dedup_components": workload_text.dedup_components,
        "dedup_exact": workload_text.dedup_exact,
        "dedup_keep_list": workload_text.dedup_keep_list,
        "dedup_minhash_lsh": workload_text.dedup_minhash_lsh,
        "dedup_ngram_jaccard": workload_text.dedup_ngram_jaccard,
        "dedup_simhash": workload_text.dedup_simhash,
        "dedup_simhash_clusters": workload_text.dedup_simhash_clusters,
        # ================= tail (newer green rows) =================
        # (the late round-13 ops pushed these past the 50-cut — they
        # join the r14 front)
        "docs_bigram_logprob": workload_text.docs_bigram_logprob,
        "docs_clean": workload_text.docs_clean,
        "docs_langid_confusion": workload_text.docs_langid_confusion,
        "docs_length_histogram": workload_text.docs_length_histogram,
        # remaining r9 rows (lead the r14 window; the four late round-13
        # analytics ops pushed docs_quality_calibration ...
        # events_anomaly_mad past the 50-cut — they join the r14 front)
        "docs_quality_calibration": workload_text.docs_quality_calibration,
        "docs_top_terms": workload_text.docs_top_terms,
        "embed_near_dup": workload_text.embed_near_dup,
        "events_anomaly_mad": workload_relational.events_anomaly_mad,
        "events_gapfill_locf": workload_relational.events_gapfill_locf,
        "q10_returned_items": workload_relational.q10_returned_items,
        "q13_customer_distribution": workload_relational.q13_customer_distribution,
        "q14_type_revenue_share": workload_relational.q14_type_revenue_share,
        "q15_top_supplier": workload_relational.q15_top_supplier,
        "q17_small_quantity_revenue": workload_relational.q17_small_quantity_revenue,
        "q18_large_volume_customers": workload_relational.q18_large_volume_customers,
        "q19_discounted_revenue": workload_relational.q19_discounted_revenue,
        "q1_pricing_summary": workload_relational.q1_pricing_summary,
        "q22_dormant_customers": workload_relational.q22_dormant_customers,
        "q3_shipping_priority": workload_relational.q3_shipping_priority,
        "q4_order_priority": workload_relational.q4_order_priority,
        "q5_local_supplier_volume": workload_relational.q5_local_supplier_volume,
        "q6_revenue_forecast": workload_relational.q6_revenue_forecast,
        "q7_volume_shipping": workload_relational.q7_volume_shipping,
        "q8_market_share": workload_relational.q8_market_share,
        "sample_stratified": workload_text.sample_stratified,
        "stream_click_purchase_join": workload.stream_click_purchase_join,
        "stream_incremental_rollup": workload.stream_incremental_rollup,
        "text_fingerprint": workload_text.text_fingerprint,
        "text_langid": workload_text.text_langid,
        "text_quality": workload_text.text_quality,
        "text_tokens": workload_text.text_tokens,
        "topk_orders_per_customer": workload_relational.topk_orders_per_customer,
        "vocab_topk_coverage": workload_text.vocab_topk_coverage,
        # r10-latest green rows
        "ann_ivfpq_topk": workload_text.ann_ivfpq_topk,
        "ann_pq_adc_topk": workload_text.ann_pq_adc_topk,
        "ann_pq_codes": workload_text.ann_pq_codes,
        "cdc_changelog": workload.cdc_changelog,
        "cdc_current_state": workload.cdc_current_state,
        "cdc_duckdb_changelog": workload.cdc_duckdb_changelog,
        "cdc_duckdb_current_state": workload.cdc_duckdb_current_state,
        "cdc_duckdb_scd2": workload.cdc_duckdb_scd2,
        "cdc_pk_change": workload.cdc_pk_change,
        "cdc_schema_asof": workload.cdc_schema_asof,
        "cdc_snapshot_handoff": workload.cdc_snapshot_handoff,
        "cdc_state_diff": workload.cdc_state_diff,
        "cdc_table_diff": workload.cdc_table_diff,
        "cdc_toast_lww": workload.cdc_toast_lww,
        "cdc_truncate_reset": workload.cdc_truncate_reset,
        "cdc_tx_metrics": workload.cdc_tx_metrics,
        "docs_dup_rate_by_source": workload_text.docs_dup_rate_by_source,
        "docs_exact_jaccard_clusters": workload_text.docs_exact_jaccard_clusters,
        "docs_exact_jaccard_join": workload_text.docs_exact_jaccard_join,
        "docs_ngram_novelty": workload_text.docs_ngram_novelty,
        "events_funnel": workload_relational.events_funnel,
        "events_json_props": workload_relational.events_json_props,
        "events_running_total": workload_relational.events_running_total,
        "events_skew_salted_agg": workload_relational.events_skew_salted_agg,
        "events_value_percentiles": workload_relational.events_value_percentiles,
        "events_value_zscores": workload_relational.events_value_zscores,
        "events_window_suite": workload_relational.events_window_suite,
        "events_winsorize": workload_relational.events_winsorize,
        "events_zorder_stats": workload_relational.events_zorder_stats,
        "mm_features": workload_mm.mm_features,
        "mm_frame_plan": workload_mm.mm_frame_plan,
        "mm_payload_dedup": workload_mm.mm_payload_dedup,
        "orders_price_tiers": workload_relational.orders_price_tiers,
        "pg_array_roundtrip": workload_relational.pg_array_roundtrip,
        "pg_decode_roundtrip": workload_relational.pg_decode_roundtrip,
        "pgoutput_decode": workload.pgoutput_decode,
        "q11_important_parts": workload_relational.q11_important_parts,
        "q12_priority_shipmix": workload_relational.q12_priority_shipmix,
        "q16_supplier_part_count": workload_relational.q16_supplier_part_count,
        "q20_excess_suppliers": workload_relational.q20_excess_suppliers,
        "q21_waiting_orders": workload_relational.q21_waiting_orders,
        "q2_min_cost_supplier": workload_relational.q2_min_cost_supplier,
        "q9_product_profit": workload_relational.q9_product_profit,
        "set_ops_customers": workload_relational.set_ops_customers,
        "sketch_distinct_users": workload_relational.sketch_distinct_users,
        "stream_stateful_dedup": workload.stream_stateful_dedup,
        "stream_stateful_sessions": workload.stream_stateful_sessions,
        # r11-latest green rows
        "ann_recall_eval": workload_text.ann_recall_eval,
        "cdc_crash_replay_ddl": workload.cdc_crash_replay_ddl,
        "cdc_hot_keys": workload.cdc_hot_keys,
        "cdc_partition_root": workload.cdc_partition_root,
        "cdc_rebucket_migration": workload.cdc_rebucket_migration,
        "cdc_replica_identity": workload.cdc_replica_identity,
        "corpus_curation": workload_text.corpus_curation,
        "corpus_dsir_weights": workload_text.corpus_dsir_weights,
        "corpus_heaps_law": workload_text.corpus_heaps_law,
        "customer_balance_gini": workload_relational.customer_balance_gini,
        "customer_feature_store": workload_relational.customer_feature_store,
        "customer_fuzzy_name_join": workload_relational.customer_fuzzy_name_join,
        "dedup_simhash_pairs": workload_text.dedup_simhash_pairs,
        "docs_boilerplate_coverage": workload_text.docs_boilerplate_coverage,
        "docs_char_pair_merge": workload_text.docs_char_pair_merge,
        "docs_gopher_rules": workload_text.docs_gopher_rules,
        "docs_pmi_pairs": workload_text.docs_pmi_pairs,
        "docs_profile_hll": workload_text.docs_profile_hll,
        "docs_readability_fk": workload_text.docs_readability_fk,
        "docs_source_caps": workload_text.docs_source_caps,
        "docs_source_js_divergence": workload_text.docs_source_js_divergence,
        "docs_train_split": workload_text.docs_train_split,
        "docs_winnowing": workload_text.docs_winnowing,
        "docs_zipf_slope": workload_text.docs_zipf_slope,
        "embeddings_covariance": workload_text.embeddings_covariance,
        "embeddings_quantize_int8": workload_text.embeddings_quantize_int8,
        "events_burstiness": workload_relational.events_burstiness,
        "events_changepoint": workload_relational.events_changepoint,
        "events_cusum_alerts": workload_relational.events_cusum_alerts,
        "events_dau_mau": workload_relational.events_dau_mau,
        "events_dau_mau_hll": workload_relational.events_dau_mau_hll,
        "events_entropy_rate": workload_relational.events_entropy_rate,
        "events_feature_mi": workload_relational.events_feature_mi,
        "events_forecast_backtest": workload_relational.events_forecast_backtest,
        "events_gapfill_interp": workload_relational.events_gapfill_interp,
        "events_haar_wavelet": workload_relational.events_haar_wavelet,
        "events_kanon_audit": workload_relational.events_kanon_audit,
        "events_ks_drift": workload_relational.events_ks_drift,
        "events_lag_autocorr": workload_relational.events_lag_autocorr,
        "events_markov_transitions": workload_relational.events_markov_transitions,
        "events_quantile_sketch": workload_relational.events_quantile_sketch,
        "events_regression": workload_relational.events_regression,
        "events_sax_daily": workload_relational.events_sax_daily,
        "events_time_weighted_value": workload_relational.events_time_weighted_value,
        "lineitem_metrics_unpivot": workload_relational.lineitem_metrics_unpivot,
        "lineitem_rollup_metrics": workload_relational.lineitem_rollup_metrics,
        "nation_top_customers_agg": workload_relational.nation_top_customers_agg,
        "orders_decile_bands": workload_relational.orders_decile_bands,
        "pg_copy_roundtrip": workload_relational.pg_copy_roundtrip,
        # r12-latest green rows
        "events_session_paths": workload_relational.events_session_paths,
        "orders_seasonal_decompose": workload_relational.orders_seasonal_decompose,
        "docs_containment_dedup": workload_text.docs_containment_dedup,
        "corpus_dedup_best_quality": workload_text.corpus_dedup_best_quality,
        "pgoutput_wire_decode": workload.pgoutput_wire_decode,
        "events_welch_ttest": workload_relational.events_welch_ttest,
        "lineitem_basket_lift": workload_relational.lineitem_basket_lift,
        "lineitem_benford_audit": workload_relational.lineitem_benford_audit,
        "lineitem_latency_quantiles": workload_relational.lineitem_latency_quantiles,
        "lineitem_metric_correlations": workload_relational.lineitem_metric_correlations,
        "lineitem_skyline": workload_relational.lineitem_skyline,
        "mm_audio_vad": workload_mm.mm_audio_vad,
        "mm_image_tiles": workload_mm.mm_image_tiles,
        "mm_video_scene_cuts": workload_mm.mm_video_scene_cuts,
        "nation_revenue_yoy": workload_relational.nation_revenue_yoy,
        "order_graph_pagerank": workload_relational.order_graph_pagerank,
        "orders_abc_class": workload_relational.orders_abc_class,
        "orders_backlog_curve": workload_relational.orders_backlog_curve,
        "orders_cohort_ltv": workload_relational.orders_cohort_ltv,
        "orders_rfm_segments": workload_relational.orders_rfm_segments,
        "orders_survival_km": workload_relational.orders_survival_km,
        "orders_tail_index_hill": workload_relational.orders_tail_index_hill,
        "parts_triangle_count": workload_relational.parts_triangle_count,
        "sketch_hll_users": workload_relational.sketch_hll_users,
        "stream_sliding_topk": workload.stream_sliding_topk,
        "supplier_share_hhi": workload_relational.supplier_share_hhi,
        "asof_click_attribution": workload_relational.asof_click_attribution,
        "bloom_prune_probe": workload_relational.bloom_prune_probe,
        "cdc_changed_columns": workload.cdc_changed_columns,
        "cdc_changelog_compact": workload.cdc_changelog_compact,
        "cdc_ddl_rebucket_compact": workload.cdc_ddl_rebucket_compact,
        "cdc_gap_audit": workload.cdc_gap_audit,
        "cdc_scd2_history": workload.cdc_scd2_history,
        "cdc_scd2_incremental": workload.cdc_scd2_incremental,
        "cdc_scd2_schema_evolution": workload.cdc_scd2_schema_evolution,
        "cdc_schema_evolution": workload.cdc_schema_evolution,
        "cdc_state_asof": workload.cdc_state_asof,
        "corpus_drop_audit": workload_text.corpus_drop_audit,
        "corpus_pack_sequences": workload_text.corpus_pack_sequences,
        "corpus_temperature_mix": workload_text.corpus_temperature_mix,
        "corpus_token_mixture": workload_text.corpus_token_mixture,
        "dedup_minhash_incremental": workload_text.dedup_minhash_incremental,
        "docs_bm25_top_terms": workload_text.docs_bm25_top_terms,
        "docs_contamination": workload_text.docs_contamination,
        "docs_passage_dedup": workload_text.docs_passage_dedup,
        "docs_pii_redact": workload_text.docs_pii_redact,
        "docs_profile": workload_text.docs_profile,
        "docs_rag_chunks": workload_text.docs_rag_chunks,
    }


def oracle_sql() -> dict[str, str]:
    return {name: ORACLES[name] for name in queries() if name in ORACLES}
