"""Telemetry registry + Prometheus exposition (reference parity:
etl-telemetry/src/metrics.rs recorder with global labels;
etl/src/observability.rs metric inventory), and the pipeline wiring —
every increment rides an aggregate the apply loop already computes."""

from __future__ import annotations

import pytest
from etl_spark import telemetry
from etl_spark.telemetry import MetricsRegistry


def test_counter_gauge_histogram_render():
    reg = MetricsRegistry({"project": "p1", "pipeline_id": "7"})
    reg.inc(telemetry.ETL_EVENTS_PROCESSED_TOTAL, 3)
    reg.inc(telemetry.ETL_EVENTS_PROCESSED_TOTAL, 2)
    reg.inc(telemetry.ETL_WORKER_ERRORS_TOTAL, labels={"table": "public.t"})
    reg.set_gauge(telemetry.ETL_TABLES_TOTAL, 4)
    reg.observe(telemetry.ETL_BATCH_APPLY_DURATION_SECONDS, 0.3)
    reg.observe(telemetry.ETL_BATCH_APPLY_DURATION_SECONDS, 7.0)
    text = reg.render()
    assert "# TYPE etl_events_processed_total counter" in text
    assert 'etl_events_processed_total{pipeline_id="7",project="p1"} 5' in text
    assert ('etl_worker_errors_total{pipeline_id="7",project="p1",'
            'table="public.t"} 1') in text
    assert "# TYPE etl_tables_total gauge" in text
    # histogram: cumulative buckets + sum + count
    assert ('etl_batch_apply_duration_seconds_bucket{le="0.5",'
            'pipeline_id="7",project="p1"} 1') in text
    assert ('etl_batch_apply_duration_seconds_bucket{le="+Inf",'
            'pipeline_id="7",project="p1"} 2') in text
    assert ('etl_batch_apply_duration_seconds_count{pipeline_id="7",'
            'project="p1"} 2') in text
    assert reg.value(telemetry.ETL_EVENTS_PROCESSED_TOTAL) == 5


def test_kind_collision_fails_loudly():
    reg = MetricsRegistry()
    reg.inc("etl_x_total")
    with pytest.raises(ValueError, match="already registered"):
        reg.set_gauge("etl_x_total", 1)


def test_init_metrics_global_labels():
    reg = telemetry.init_metrics(project="proj", pipeline_id=3,
                                 destination="duckdb")
    reg.inc(telemetry.ETL_TRANSACTIONS_TOTAL)
    text = reg.render()
    assert ('etl_transactions_total{destination="duckdb",pipeline_id="3",'
            'project="proj"} 1') in text
    telemetry.init_metrics()  # reset for other tests


def test_pipeline_increments_metrics(spark, tmp_path):
    """End-to-end: a two-batch pipeline run advances tables gauge,
    copy rows (via Observation — no extra scan), events, transactions,
    and DDL counters."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import MemorySink

    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a"), (2, "b")],
                          "pk long, val string").write.parquet(snap)
    src = str(tmp_path / "frames")
    os.makedirs(src)
    from etl_spark.envelope import GENERIC_ENVELOPE

    rows = [
        ("INSERT", "public.t", 10, 100, 0, '{"pk": 3, "val": "c"}',
         None, "NONE", None, None),
        ("UPDATE", "public.t", 11, 110, 0, '{"pk": 1, "val": "a2"}',
         None, "NONE", None, None),
    ]
    import shutil

    staging = os.path.join(str(tmp_path), "stage")
    spark.createDataFrame(rows, GENERIC_ENVELOPE).coalesce(1).write.parquet(
        staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(src, "b1.parquet"))

    reg = MetricsRegistry({"pipeline_id": "42"})
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    pipe = Pipeline(spark, src, [cfg], MemorySink(), str(tmp_path / "work"),
                    metrics_registry=reg)
    pipe.run_until_drained()

    assert reg.value(telemetry.ETL_TABLES_TOTAL) == 1
    assert reg.value(telemetry.ETL_TABLE_COPY_ROWS_TOTAL,
                     {"table": "public.t"}) == 2
    assert reg.value(telemetry.ETL_EVENTS_PROCESSED_TOTAL) == 2
    assert reg.value(telemetry.ETL_TRANSACTIONS_TOTAL) == 2  # 2 commit_lsns
    text = reg.render()
    assert 'etl_events_processed_total{pipeline_id="42"} 2' in text


def test_recorded_source_status_update_metric():
    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo

    telemetry.init_metrics()
    stream = live.encode_copy_stream([
        live.encode_xlog_data(10, 11, 0, pgo.encode_begin(final_lsn=5, xid=1)),
        live.encode_keepalive(11, 1, reply_requested=True),
    ])
    s = live.RecordedReplicationSource(stream)
    s.start("slot", 0)
    s.poll_frames(1 << 20)
    assert telemetry.DEFAULT.value(telemetry.ETL_STATUS_UPDATES_TOTAL) == 1
    assert telemetry.DEFAULT.value(telemetry.ETL_REPLICATION_MESSAGES_TOTAL) == 1
    telemetry.init_metrics()


def test_label_newline_escaped_in_exposition():
    """A label value containing a raw newline (e.g. a table name derived
    from an error string) must not corrupt the scrape body (ADVICE r11):
    the exposition spec escapes it as the two-character sequence \\n."""
    reg = telemetry.MetricsRegistry()
    reg.inc("etl_worker_errors_total", labels={"table": 'a\nb"c\\d'})
    text = reg.render()
    assert "\na\n" not in text.split("# TYPE", 1)[-1]
    line = [ln for ln in text.splitlines() if ln.startswith("etl_worker")][0]
    assert line == 'etl_worker_errors_total{table="a\\nb\\"c\\\\d"} 1'


def test_recorded_source_custom_registry_isolated():
    """A source handed its own registry must not leak transport counters
    into the module-global DEFAULT (ADVICE r11: per-pipeline isolation is
    the stated purpose of metrics_registry)."""
    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo

    telemetry.init_metrics()
    mine = telemetry.MetricsRegistry()
    stream = live.encode_copy_stream([
        live.encode_xlog_data(10, 11, 0, pgo.encode_begin(final_lsn=5, xid=1)),
        live.encode_keepalive(11, 1, reply_requested=True),
    ])
    s = live.RecordedReplicationSource(stream, metrics=mine)
    s.start("slot", 0)
    s.poll_frames(1 << 20)
    assert mine.value(telemetry.ETL_REPLICATION_MESSAGES_TOTAL) == 1
    assert mine.value(telemetry.ETL_STATUS_UPDATES_TOTAL) == 1
    assert telemetry.DEFAULT.value(telemetry.ETL_REPLICATION_MESSAGES_TOTAL) == 0
    assert telemetry.DEFAULT.value(telemetry.ETL_STATUS_UPDATES_TOTAL) == 0


def test_frame_pump_threads_registry_to_source(tmp_path):
    from etl_spark.sources import live

    mine = telemetry.MetricsRegistry()
    s = live.RecordedReplicationSource(b"")
    live.FrameFilePump(s, spark=None, source_dir=str(tmp_path), metrics=mine)
    assert s.metrics is mine


def test_metrics_http_scrape_roundtrip():
    """The scrape endpoint serves the exact exposition body over HTTP
    (reference: automatic server at :9000/metrics, metrics.rs:82-97);
    404 elsewhere; live counters visible on the next scrape."""
    import urllib.request

    reg = telemetry.MetricsRegistry({"pipeline_id": "7"})
    reg.inc(telemetry.ETL_EVENTS_PROCESSED_TOTAL, 5)
    with telemetry.MetricsHttpServer(reg, host="127.0.0.1", port=0) as srv:
        url = f"http://127.0.0.1:{srv.port}/metrics"
        body = urllib.request.urlopen(url).read().decode()
        assert body == reg.render()
        assert 'etl_events_processed_total{pipeline_id="7"} 5' in body
        reg.inc(telemetry.ETL_EVENTS_PROCESSED_TOTAL, 2)
        body2 = urllib.request.urlopen(url).read().decode()
        assert 'etl_events_processed_total{pipeline_id="7"} 7' in body2
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404


def test_transactions_counter_exact_across_split_transaction(spark, tmp_path):
    """ADVICE r11: etl_transactions_total must be EXACT — one count per
    transaction even when its rows split across two triggers (the old
    approx_count_distinct double-counted the straddling commit_lsn)."""
    import os

    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo
    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import MemorySink

    msgs = [
        live.encode_xlog_data(5, 6, 0, pgo.encode_relation(
            1, "public", "t", "d", [(1, "pk", 20, -1), (0, "val", 25, -1)])),
        live.encode_xlog_data(10, 11, 0, pgo.encode_begin(final_lsn=14, xid=9)),
        live.encode_xlog_data(11, 12, 0, pgo.encode_insert(1, ["1", "a"])),
        live.encode_xlog_data(12, 13, 0, pgo.encode_insert(1, ["2", "b"])),
        live.encode_xlog_data(13, 14, 0, pgo.encode_insert(1, ["3", "c"])),
        live.encode_xlog_data(14, 15, 0, pgo.encode_commit(14, 15)),
    ]
    stream = live.encode_copy_stream(msgs)
    src_dir = str(tmp_path / "frames")
    os.makedirs(src_dir)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    reg = telemetry.MetricsRegistry()
    pipe = Pipeline(
        spark, src_dir,
        [TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                     payload_schema="pk long, val string")],
        MemorySink(), str(tmp_path / "work"), source_fmt="pgoutput",
        metrics_registry=reg,
    )
    src = live.RecordedReplicationSource(stream)
    src.start("slot", 0)
    # tiny poll budget: the transaction's frames straddle several pump
    # files, each applied as its own trigger
    pump = live.FrameFilePump(src, spark, src_dir, control=pipe.control,
                              batch_bytes=30)
    n_files = 0
    while pump.drain_once() > 0:
        pipe.run_until_drained()
        n_files += 1
    assert n_files >= 2, "transaction did not split across triggers"
    assert reg.value(telemetry.ETL_TRANSACTIONS_TOTAL) == 1
    assert reg.value(telemetry.ETL_EVENTS_PROCESSED_TOTAL) == 3
    # one transaction of size 3; one apply-duration sample per batch
    text = reg.render()
    assert "etl_transaction_size_count 1\n" in text
    assert "etl_transaction_size_sum 3\n" in text
    assert reg.value(telemetry.ETL_BATCH_APPLY_DURATION_SECONDS) == n_files


def _job_description(spark):
    return spark.sparkContext.getLocalProperty("spark.job.description")


def test_wire_stats_job_description_reset_on_failure(spark, tmp_path, monkeypatch):
    """A failing wire-stats collect must not leave its job description
    on the thread: every later job in the session would carry it."""
    from etl_spark.sources import pgoutput as pgo
    from etl_spark.streaming.pipeline import Pipeline
    from etl_spark.streaming.sinks import MemorySink

    def boom(*_a, **_k):
        raise RuntimeError("wire-stats failed")

    monkeypatch.setattr(pgo, "collect_wire_stats", boom)
    pipe = Pipeline(spark, str(tmp_path / "frames"), [], MemorySink(),
                    str(tmp_path / "work"), source_fmt="pgoutput",
                    metrics_registry=telemetry.MetricsRegistry())
    frames = spark.createDataFrame([], pgo.FRAME_SCHEMA)
    try:
        with pytest.raises(RuntimeError, match="wire-stats failed"):
            pipe._apply_batch(frames, 0)
        assert _job_description(spark) is None
    finally:
        spark.sparkContext.setJobDescription(None)


def test_batch_stats_job_description_reset_on_failure(spark, tmp_path,
                                                     monkeypatch):
    """Same guarantee for the batch-stats collect: a batch whose rows fail
    at execution time leaves no description behind."""
    import os

    from pyspark.sql import functions as F

    from etl_spark.envelope import GENERIC_ENVELOPE, with_sequence
    from etl_spark.streaming import pipeline
    from etl_spark.streaming.sinks import MemorySink

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("INSERT", "t", 1, 1, 0, None, None, None, None, None)],
        GENERIC_ENVELOPE).coalesce(1).write.parquet(src)
    files = [os.path.join(src, f) for f in os.listdir(src)
             if f.endswith(".parquet")]

    def failing_sequence(df):
        return with_sequence(df).withColumn(
            "commit_lsn",
            F.coalesce(F.raise_error(F.lit("batch-stats failed")).cast("long"),
                       F.col("commit_lsn")))

    monkeypatch.setattr(pipeline, "with_sequence", failing_sequence)
    pipe = pipeline.Pipeline(spark, src, [], MemorySink(),
                             str(tmp_path / "work"),
                             metrics_registry=telemetry.MetricsRegistry())
    try:
        with pytest.raises(Exception, match="batch-stats failed"):
            pipe._apply_batch(files, 0)
        assert _job_description(spark) is None
    finally:
        spark.sparkContext.setJobDescription(None)
