"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, ...extras}

Protocol follows BASELINE.md: the copy analog is snapshot-load throughput
(rows/s) into the current-state table; the streaming analog is change-event
apply throughput (events/s) through decode → dedup/merge. Each query is
materialized via the noop sink (all columns computed, nothing written, no
driver collect bottleneck). Spark config is recorded alongside the numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from etl_spark.session import get_spark  # noqa: E402

#: Headline set: CDC core + relational + training-data ops (one per family).
HEADLINE = [
    "cdc_current_state",
    "cdc_changelog",
    "cdc_toast_lww",
    "cdc_snapshot_handoff",
    "cdc_pk_change",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "q18_large_volume_customers",
    "topk_orders_per_customer",
    "sessionize_events",
    "events_hourly_rollup",
    "events_rollup_multidim",
    "asof_click_attribution",
    "mm_features",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "text_quality",
    "ann_cosine_topk",
    "embed_near_dup",
    "q9_product_profit",
    "docs_top_terms",
    "sample_stratified",
    "events_value_percentiles",
    "events_funnel",
    "events_retention_cohorts",
    "q12_priority_shipmix",
    "events_value_zscores",
    "ann_lsh_topk",
    # round-2 additions (no r1 baseline; first timed here)
    "cdc_replica_identity",
    "cdc_partition_root",
    "pgoutput_decode",
    "pg_copy_roundtrip",
    # corpus_curation is gate-tested but excluded here: it re-runs the
    # full MinHash-LSH dedup internally (double-counts dedup_minhash_lsh)
    # and its shuffle footprint distorts neighboring timings
    "corpus_pack_sequences",
    "events_gapfill_locf",
    "corpus_token_mixture",
    "docs_pii_redact",
    "docs_repetition",
    "docs_contamination",
    # round-4 additions (first timed here). docs_semantic_dedup is
    # gate-tested but excluded for the same reason as corpus_curation: it
    # re-runs embed_near_dup internally (double-counts it) and its
    # iterative component loop distorts neighboring timings
    "docs_bm25_top_terms",
    "docs_rag_chunks",
    "events_promo_range_join",
    "cdc_scd2_history",
    "cdc_state_asof",
    "docs_unigram_logprob",
    "mm_resize",
    # round-4 late additions (first timed here). stream_static_enrich is
    # gate-tested but excluded like the other stream_* queries (streaming
    # timings are checkpoint/trigger-setup-dominated, not operator cost);
    # corpus_drop_audit is excluded like corpus_curation (re-runs the full
    # MinHash dedup internally — double-counts dedup_minhash_lsh)
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
    # round-5 additions (first timed here). cdc_scd2_incremental is
    # gate-tested but excluded like the stream_* queries: it drives the
    # ParquetScd2Sink through three sink-parquet write/read cycles, so
    # its timing measures harness I/O, not operator cost
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
    # round-6 additions (first timed here)
    "lineitem_rollup_metrics",
    "events_regression",
    "events_markov_transitions",
    "orders_decile_bands",
    "customer_fuzzy_name_join",
    "docs_char_pair_merge",
    "nation_top_customers_agg",
    "lineitem_metrics_unpivot",
    "events_time_weighted_value",
    # round-7 additions (first timed here)
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
    "events_sax_daily",
    "orders_rfm_segments",
    "events_lag_autocorr",
    "events_kanon_audit",
    "embeddings_covariance",
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
    "events_haar_wavelet",
    "customer_feature_store",
    "orders_backlog_curve",
    "corpus_heaps_law",
    "events_entropy_rate",
    "embeddings_centroid_separation",
    "cdc_ddl_rebucket_compact",
    "cdc_scd2_schema_evolution",
    "parts_triangle_sample",
    "cdc_duckdb_current_state",
    "cdc_crash_replay_ddl",
    "cdc_duckdb_scd2",
    "cdc_duckdb_changelog",
    # round-10 additions (first timed here)
    "docs_exact_jaccard_clusters",
    "docs_source_caps",
    "docs_source_js_divergence",
    "docs_dup_rate_by_source",
    # round-11 additions (first timed here)
    "pgoutput_wire_decode",
    "events_dau_mau_hll",
    "docs_profile_hll",
    "docs_boilerplate_coverage",
    "events_quantile_sketch",
    # round-12 additions (first timed here)
    "pgoutput_socket_decode",
    "events_session_paths",
    "orders_seasonal_decompose",
    "docs_containment_dedup",
    "corpus_dedup_best_quality",
    # round-13 additions (first timed here). pgoutput_socket_tls_decode
    # times the TLS hop against pgoutput_socket_decode's plaintext row —
    # the delta IS the encryption overhead on the serial transport term;
    # cdc_socket_copy_sync times the full wire table-sync choreography
    # (snapshot COPY relay + same-connection stream + LWW merge)
    "pgoutput_socket_tls_decode",
    "cdc_socket_copy_sync",
    "lineitem_theil_index",
    "orders_runs_test",
    "docs_simpson_diversity",
    "docs_containment_audit",
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

#: The round-2 headline, frozen: the 42 queries ``r2_comparable_sec``
#: sums, so that total stays comparable with round 2's record.
R2_HEADLINE = (
    "cdc_current_state", "cdc_changelog", "cdc_toast_lww",
    "cdc_snapshot_handoff", "cdc_pk_change", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier_volume", "q6_revenue_forecast",
    "q10_returned_items", "q18_large_volume_customers",
    "topk_orders_per_customer", "sessionize_events", "events_hourly_rollup",
    "events_rollup_multidim", "asof_click_attribution", "mm_features",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs", "text_quality",
    "ann_cosine_topk", "embed_near_dup", "q9_product_profit", "docs_top_terms",
    "sample_stratified", "events_value_percentiles", "events_funnel",
    "events_retention_cohorts", "q12_priority_shipmix", "events_value_zscores",
    "ann_lsh_topk", "cdc_replica_identity", "cdc_partition_root",
    "pgoutput_decode", "pg_copy_roundtrip", "corpus_pack_sequences",
    "events_gapfill_locf", "corpus_token_mixture", "docs_pii_redact",
    "docs_repetition", "docs_contamination",
)

#: Per-query contract subset for the FINAL summary line (round 14,
#: VERDICT r13 "Next round" #1): the driver parses the LAST stdout line
#: out of a ~2000-char tail window (BENCH_r04 recorded ``parsed: null``
#: when the full per-query line exceeded it), so the final line cannot
#: carry all 172 timings (~5 KB — the names alone are 3.3 KB). It now
#: carries a byte-budgeted ``queries`` map: this FIXED priority list
#: first (identical at every core count, so the driver's 8-vs-32-core
#: scaling block can itemize a stable set), then whatever else fits by
#: descending measured time. The COMPLETE map stays in the full-record
#: line above it and in BENCH_LOCAL.json. Ordering = the r13 record's
#: cost ranking (slowest first — where optimization evidence lives),
#: covering every operator family, plus the two throughput analogs.
PERQ_CONTRACT = [
    "cdc_crash_replay_ddl", "docs_exact_jaccard_join",
    "parts_triangle_count", "docs_containment_audit",
    "corpus_dedup_best_quality", "dedup_minhash_incremental",
    "pgoutput_socket_tls_decode", "parts_triangle_sample",
    "docs_containment_dedup", "cdc_scd2_schema_evolution",
    "cdc_schema_evolution", "docs_exact_jaccard_clusters",
    "pgoutput_socket_decode", "pgoutput_wire_decode",
    "cdc_ddl_rebucket_compact", "pgoutput_decode",
    "cdc_duckdb_current_state", "dedup_minhash_lsh",
    "corpus_dedup_threshold_curve", "ann_pq_adc_topk",
    "cdc_rebucket_migration", "lineitem_rollup_metrics",
    "dedup_minhash_accuracy", "ann_ivfpq_rerank", "events_zorder_stats",
    "docs_bigram_logprob", "ann_pq_codes", "cdc_duckdb_scd2",
    "cdc_socket_copy_sync", "order_graph_pagerank", "docs_ngram_novelty",
    "lineitem_basket_lift", "cdc_duckdb_changelog", "orders_rfm_segments",
    "docs_unigram_logprob", "docs_boilerplate_coverage",
    "lineitem_skyline", "dedup_simhash_clusters", "ann_ivfpq_topk",
    "cdc_changelog_compact", "customer_fuzzy_name_join",
    "dedup_simhash_pairs", "cdc_socket_parallel_sync",
    "cdc_current_state", "cdc_snapshot_handoff", "q1_pricing_summary",
    "q5_local_supplier_volume", "q18_large_volume_customers",
    "sessionize_events", "events_hourly_rollup", "mm_resize",
    "ann_cosine_topk",
]

#: Streaming/stateful machinery — timed SEPARATELY with an events/s rate
#: per query (the reference benches its streaming path explicitly:
#: crates/etl-benchmarks/src/table_streaming.rs:97-118 reports producer /
#: end-to-end / drain events-per-second). These were previously excluded
#: as "checkpoint/trigger-setup-dominated": that setup cost IS the
#: price a real user pays per micro-batch drain, so it belongs in the
#: record — just not mixed into the batch-operator comparables.
STREAMING = [
    "stream_sliding_topk",
    "stream_stateful_sessions",
    "stream_windowed_watermark",
    "stream_click_purchase_join",
    "stream_native_dedup",
    "stream_incremental_rollup",
    "stream_session_window",
    "stream_static_enrich",
    "stream_stateful_dedup",
    "cdc_scd2_incremental",
]


def materialize(df) -> None:
    """Force full computation of every output column without collecting."""
    df.write.format("noop").mode("overwrite").save()


def isolate_main(names: list[str]) -> None:
    """Isolate mode (SPARK_GRAFT_BENCH_ISOLATE=q1,q2 or "all"): each query
    runs in its OWN fresh python/JVM process, so a regression call is free
    of the ±8% suite pressure (GC debt, executor churn) the in-suite
    numbers carry. Prints one JSON line {"isolated": {name: min_sec}}."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, float] = {}
    for name in names:
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_ONLY"] = name
        env.pop("SPARK_GRAFT_BENCH_ISOLATE", None)
        res = subprocess.run(
            [sys.executable, os.path.join(here, "bench.py")],
            capture_output=True, text=True, env=env, check=False,
        )
        for line in reversed(res.stdout.strip().splitlines()):
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if "queries" in rec and name in rec["queries"]:
                out[name] = rec["queries"][name]
                break
        else:
            out[name] = None
    print(json.dumps({"metric": "isolated_sec", "isolated": out,
                      "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR",
                                               "/root/testdata/sf0.1")}))


def main() -> None:
    iso = os.environ.get("SPARK_GRAFT_BENCH_ISOLATE")
    if iso:
        names = HEADLINE if iso == "all" else [n for n in iso.split(",") if n]
        isolate_main(names)
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("etl-spark-bench", cpus=cpus)
    queries = entrymod.queries()

    # Warm the JVM/codegen path outside the timed region.
    materialize(queries["cdc_current_state"](spark, sf_dir))

    # N runs per query (SPARK_GRAFT_BENCH_REPS, default 3): run 1 pays
    # one-time plan compilation + whole-stage codegen; later runs are the
    # sustained rate, which is what the reference's long-stream benchmark
    # measures (BASELINE.md). "queries" reports the MIN (damps same-machine
    # load variance, comparable across rounds); "queries_median" reports
    # the per-query median so sub-1.3× cross-round drifts are resolvable
    # against noise (raise reps to 5+ when investigating one).
    import statistics

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # SPARK_GRAFT_BENCH_ONLY=a,b: time just those (any family) — the unit
    # the isolate mode shells out to. Streaming queries named here land in
    # "queries"; the separate streaming section is skipped.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = [n for n in only.split(",") if n] if only else HEADLINE
    streaming_names = [] if only else STREAMING
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in headline:
        if name not in queries:
            continue
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        medians[name] = round(statistics.median(samples), 3)
        # ContextCleaner only reclaims finished queries' shuffle/broadcast
        # state on a JVM GC; without this, leftovers from query N slow
        # query N+1 by up to 3× (measurement hygiene, not a speedup)
        spark.sparkContext._jvm.System.gc()

    # Streaming family: wall time + events/s per query (each consumes the
    # full sim envelope derived from events.parquet). min-of-reps like the
    # batch set; checkpoint dirs are fresh per run inside each workload.
    stream_reps = int(os.environ.get("SPARK_GRAFT_STREAM_REPS", "2"))
    ev_total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    streaming: dict[str, dict] = {}
    for name in streaming_names:
        if name not in queries:
            continue
        samples = []
        for _ in range(stream_reps):
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        best = min(samples)
        streaming[name] = {
            "sec": round(best, 3),
            "events_per_sec": round(ev_total / best, 1),
        }
        spark.sparkContext._jvm.System.gc()

    # Throughput analogs (BASELINE.md protocol)
    ev_count = ev_total
    events_per_sec = (
        round(ev_count / timings["cdc_current_state"], 1)
        if timings.get("cdc_current_state") else None
    )
    snap_rows = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    copy_rows_per_sec = (
        round((snap_rows + ev_count) / timings["cdc_snapshot_handoff"], 1)
        if timings.get("cdc_snapshot_handoff") else None
    )

    # Cross-round comparability: the headline grows every round, so the
    # grand total is not comparable across rounds. r2_comparable_sec sums
    # only the round-2 headline — compare THAT against r2's 29.86s.
    r2_comparable = round(
        sum(timings[k] for k in R2_HEADLINE if k in timings), 3)

    # Isolated headline analogs (standing protocol since r10, BASELINE.md):
    # the in-suite events/s / copy-rows/s numbers carry suite pressure (GC
    # debt from 140+ prior queries — observed dips up to 1.5× with no code
    # change), so the record ALWAYS carries a fresh-process measurement of
    # the two analog queries alongside. Skippable for quick iteration with
    # SPARK_GRAFT_ISOLATED_HEADLINE=0.
    # Round 12 (VERDICT r11 "what's wrong" #1): one rep immediately after
    # the full suite reads hot-machine noise (the r11 record caught a
    # single 98.6k rows/s draw vs a 142k 5-rep quiet median on identical
    # code). The committed record is now self-defending: MIN of 3
    # fresh-process reps per analog, with the per-rep spread stamped
    # alongside so an out-of-band headline carries its own explanation.
    isolated_analogs: dict[str, float | None] = {}
    isolated_reps: dict[str, list[float]] = {}
    if not only and os.environ.get("SPARK_GRAFT_ISOLATED_HEADLINE", "1") != "0":
        import subprocess

        n_reps = int(os.environ.get("SPARK_GRAFT_ISOLATED_REPS", "3"))
        here = os.path.dirname(os.path.abspath(__file__))
        for name in ("cdc_current_state", "cdc_snapshot_handoff"):
            samples: list[float] = []
            for _ in range(n_reps):
                env = dict(os.environ)
                env["SPARK_GRAFT_BENCH_ONLY"] = name
                res = subprocess.run(
                    [sys.executable, os.path.join(here, "bench.py")],
                    capture_output=True, text=True, env=env, check=False,
                )
                for line in reversed(res.stdout.strip().splitlines()):
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if "queries" in rec and name in rec["queries"]:
                        samples.append(rec["queries"][name])
                        break
            isolated_reps[name] = [round(s, 3) for s in samples]
            isolated_analogs[name] = min(samples) if samples else None
    events_per_sec_isolated = (
        round(ev_count / isolated_analogs["cdc_current_state"], 1)
        if isolated_analogs.get("cdc_current_state") else None
    )
    copy_rows_per_sec_isolated = (
        round((snap_rows + ev_count) / isolated_analogs["cdc_snapshot_handoff"], 1)
        if isolated_analogs.get("cdc_snapshot_handoff") else None
    )

    result = {
        "metric": "total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "streaming": streaming,
        "r2_comparable_sec": r2_comparable,
        "sf": sf,
        "events_per_second": events_per_sec,
        "copy_rows_per_second": copy_rows_per_sec,
        "events_per_second_isolated": events_per_sec_isolated,
        "copy_rows_per_second_isolated": copy_rows_per_sec_isolated,
        # min-of-N fresh-process protocol: per-rep seconds, so the record
        # defends its own band (spread visible without side adjudication)
        "isolated_rep_secs": isolated_reps,
        "conf": {
            "runs_per_query": reps,
            "cpus": cpus,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        },
    }
    # Durable copy first: the driver's capture keeps only the output TAIL,
    # and the full per-query JSON line can exceed it (BENCH_r04 recorded
    # "parsed": null with the head truncated). Write the complete record
    # to BENCH_LOCAL.json, then print the full line, then LAST a short
    # summary line that always fits any tail window. ONLY-mode children
    # (isolate workers) write a scratch file so they can never clobber
    # the full suite record.
    record_name = "BENCH_ONLY_LOCAL.json" if only else "BENCH_LOCAL.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), record_name), "w") as f:
        json.dump(result, f)
        f.write("\n")
    print(json.dumps(result))
    # Final driver-contract line, ≤ LINE_BUDGET bytes so it parses whole
    # out of the driver's ~2000-char tail window (see PERQ_CONTRACT).
    # "queries" carries the contract subset + streaming gate seconds;
    # isolated_rep_secs moved to the full record only (byte budget).
    summary = {
        "metric": "total_wall_sec",
        "value": result["value"],
        "unit": "sec",
        "queries": {},
        "r2_comparable_sec": r2_comparable,
        "sf": sf,
        "n_queries": len(timings),
        "events_per_second": events_per_sec,
        "copy_rows_per_second": copy_rows_per_sec,
        "events_per_second_isolated": events_per_sec_isolated,
        "copy_rows_per_second_isolated": copy_rows_per_sec_isolated,
        "full_record": "BENCH_LOCAL.json",
    }
    LINE_BUDGET = 1900
    all_secs = dict(timings)
    for sname, srec in streaming.items():
        all_secs.setdefault(sname, srec["sec"])
    ordered = [n for n in PERQ_CONTRACT if n in all_secs]
    ordered += sorted(
        (n for n in all_secs if n not in set(PERQ_CONTRACT)),
        key=lambda n: -all_secs[n],
    )
    base_len = len(json.dumps(summary))
    used = base_len
    for n in ordered:
        entry_len = len(n) + len(json.dumps(all_secs[n])) + 7
        if used + entry_len > LINE_BUDGET:
            continue
        summary["queries"][n] = all_secs[n]
        used += entry_len
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
