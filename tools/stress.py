"""Scale stress: replicate the sf0.1 facts k× (shifted keys), re-run the
headline queries, and report per-query scaling factors vs sf0.1.

Correctness is proven at sf0.01 by the oracle gate; this answers the other
question — "would the plan survive a 10×/100× scale-up?" — empirically.
A query whose runtime grows ~linearly (factor ≈ k on fixed cores) has a
scan/shuffle-shaped plan; super-linear growth exposes an O(n²) or a
collapse onto one task.

    python tools/stress.py [k] [out_json]

Facts (lineitem/orders/events/documents/embeddings) are replicated with
primary + fact-fact join keys shifted per replica; dims stay as-is (more
facts per dim row, like real growth). Output parquet lands under /tmp.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from etl_spark.session import get_spark

SRC = "/root/testdata/sf0.1"

#: fact table → columns shifted per replica (offset ≫ max key)
FACTS = {
    "lineitem": {"l_orderkey": 10**9},
    "orders": {"o_orderkey": 10**9},
    "events": {"event_id": 10**9},
    "documents": {"doc_id": 10**7},
    "embeddings": {"vec_id": 10**7},
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_revenue_forecast",
    "q18_large_volume_customers",
    "cdc_current_state",
    "sessionize_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_cosine_topk",
    "embed_near_dup",
    "mm_features",
    "dedup_simhash_pairs",
    "docs_top_terms",
    "sample_stratified",
    "events_funnel",
    "events_value_percentiles",
    "q9_product_profit",
    "q16_supplier_part_count",
    "events_retention_cohorts",
    "orders_price_tiers",
    "q2_min_cost_supplier",
    "mm_payload_dedup",
    "events_skew_salted_agg",
    # round-2 additions
    "cdc_replica_identity",
    "cdc_partition_root",
    "pgoutput_decode",
    "docs_pii_redact",
    "docs_repetition",
    "docs_contamination",
    # round-4 additions
    "docs_bm25_top_terms",
    "docs_rag_chunks",
    "docs_semantic_dedup",
    "events_promo_range_join",
    "docs_exact_jaccard_join",
    "corpus_temperature_mix",
    "events_zorder_stats",
    "cdc_gap_audit",
    "dedup_minhash_incremental",
    "cdc_changelog_compact",
    "events_rolling_1h",
    "ann_pq_codes",
    "ann_pq_adc_topk",
    "cdc_table_diff",
    "docs_profile",
    "events_quality_checks",
    "cdc_state_diff",
    "ann_ivfpq_topk",
    "sketch_merge_global",
    "bloom_prune_probe",
    "events_winsorize",
    "cdc_changed_columns",
    # round-5 additions
    "dedup_simhash_clusters",
    "vocab_topk_coverage",
    "docs_length_histogram",
    "ann_kmeans_step",
    "ann_ivfpq_rerank",
    "docs_bigram_logprob",
    "events_anomaly_mad",
    "docs_quality_calibration",
    "docs_ngram_novelty",
    "events_ks_drift",
    # round-6 additions
    "lineitem_rollup_metrics",
    "events_regression",
    "events_markov_transitions",
    "orders_decile_bands",
    "customer_fuzzy_name_join",
    "docs_char_pair_merge",
    "nation_top_customers_agg",
    "lineitem_metrics_unpivot",
    "events_time_weighted_value",
    # round-7 additions: the streaming/stateful machinery (the newest,
    # most state-heavy code previously had correctness evidence but no
    # scale record) + the schema-evolution sink query
    "stream_stateful_sessions",
    "stream_windowed_watermark",
    "stream_click_purchase_join",
    "stream_native_dedup",
    "stream_incremental_rollup",
    "stream_stateful_dedup",
    "cdc_scd2_incremental",
    "cdc_schema_evolution",
    "sketch_hll_users",
    "sketch_count_min_users",
    "lineitem_basket_lift",
    "events_cusum_alerts",
    "docs_gopher_rules",
    "order_graph_pagerank",
    "lineitem_skyline",
    "mm_audio_vad",
    "events_changepoint",
    "docs_winnowing",
    "orders_abc_class",
    "docs_train_split",
    "corpus_dsir_weights",
    "events_feature_mi",
    "customer_balance_gini",
    "parts_triangle_count",
    "parts_triangle_sample",
    "events_sax_daily",
    "orders_rfm_segments",
    "events_lag_autocorr",
    "events_kanon_audit",
    "embeddings_covariance",
    "stream_sliding_topk",
    "orders_cohort_ltv",
    "embeddings_quantize_int8",
    "lineitem_benford_audit",
    "supplier_share_hhi",
    "orders_tail_index_hill",
    "docs_zipf_slope",
    "events_welch_ttest",
    "events_burstiness",
    "orders_survival_km",
    "docs_pmi_pairs",
    "events_gapfill_interp",
    "nation_revenue_yoy",
    "docs_readability_fk",
    "cdc_hot_keys",
    "ann_recall_eval",
    "events_forecast_backtest",
    "lineitem_latency_quantiles",
    "events_dau_mau",
    "lineitem_metric_correlations",
    "mm_image_tiles",
    "mm_video_scene_cuts",
    "cdc_rebucket_migration",
    "cdc_ddl_rebucket_compact",
    "cdc_scd2_schema_evolution",
    "cdc_duckdb_current_state",
    "events_haar_wavelet",
    "customer_feature_store",
    "orders_backlog_curve",
    "corpus_heaps_law",
    "events_entropy_rate",
    "embeddings_centroid_separation",
    # round-9 additions
    "cdc_crash_replay_ddl",
    "cdc_duckdb_scd2",
    "cdc_duckdb_changelog",
    # round-10 addition: the linear-output default of the exact jaccard
    # join — the form that must FINISH the 100x stress (r9 verdict #1)
    "docs_exact_jaccard_clusters",
    # round-11 additions: the wire-framing decode, the HLL swap-ins,
    # and the boilerplate-coverage filter
    "pgoutput_wire_decode",
    "events_dau_mau_hll",
    "docs_profile_hll",
    "docs_boilerplate_coverage",
    "events_quantile_sketch",
    # round-13 additions: the four statistics/sketch operators
    "events_chisq_independence",
    "orders_mann_whitney",
    "lineitem_spearman_correlations",
    "events_heavy_hitters_mg",
    "dedup_minhash_accuracy",
    "corpus_dedup_threshold_curve",
    "lineitem_kendall_tau",
    "docs_source_vocab_overlap",
    "cdc_socket_parallel_sync",
]


def build(spark, k: int, dest: str) -> None:
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    reps = spark.range(k).withColumnRenamed("id", "__rep")
    for t, shifts in FACTS.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet").crossJoin(F.broadcast(reps))
        for c, off in shifts.items():
            df = df.withColumn(c, F.col(c) + F.col("__rep") * off)
        df.drop("__rep").write.mode("overwrite").parquet(f"{dest}/{t}.parquet")
    for t in DIMS:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dest}/{t}.parquet"
        )


def time_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as e

    qs = e.queries()
    out = {}
    only = os.environ.get("STRESS_ONLY")
    names = [n for n in only.split(",") if n] if only else QUERIES
    for name in names:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 2)
        spark.sparkContext._jvm.System.gc()
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stress_result.json"
    dest = f"/tmp/stress_x{k}"
    spark = get_spark("etl-spark-stress", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))

    t0 = time.perf_counter()
    if os.environ.get("STRESS_REUSE") and os.path.exists(dest):
        pass  # chunked runs (STRESS_ONLY) reuse the replicated dataset
    else:
        build(spark, k, dest)
    build_sec = round(time.perf_counter() - t0, 1)

    base = time_queries(spark, SRC)
    big = time_queries(spark, dest)
    result = {
        "k": k,
        "build_sec": build_sec,
        "base_sec": base,
        "scaled_sec": big,
        "factor": {q: round(big[q] / max(base[q], 0.05), 1) for q in base},
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
