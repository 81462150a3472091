"""Replicator orchestration: the config actually drives table-copy
selection, the connection pool size, the relay batch budget, and the
live-loop policy knobs (etl-replicator/src/core.rs entry semantics over
shared/pipeline.rs knobs)."""

from __future__ import annotations

import os

import pytest

from etl_spark.config import (
    BatchConfig,
    PgConnectionConfig,
    PipelineConfig,
    TableSyncCopyConfig,
)
from etl_spark.replicator import Replicator, TableSpec
from etl_spark.sources.socket_transport import (
    LoopbackReplicationServer,
    SocketReplicationSource,
)


def _cfg(**over) -> PipelineConfig:
    return PipelineConfig(
        id=9, publication_name="pub",
        pg_connection=PgConnectionConfig(host="127.0.0.1"), **over
    )


def _specs():
    return [
        TableSpec(oid=101, name="public.a", payload_schema="pk long, v string"),
        TableSpec(oid=102, name="public.b", payload_schema="pk long, v string"),
    ]


def test_copy_rules_select_tables(spark, tmp_path):
    """include_tables [101] syncs table a and leaves b streamed-only."""
    with LoopbackReplicationServer(
            b"", tables={"public.a": [b"1\tx"], "public.b": [b"2\ty"]}) as srv:
        cfg = _cfg(table_sync_copy=TableSyncCopyConfig(
            type="include_tables", table_ids=[101]))
        rep = Replicator(
            spark, cfg, str(tmp_path),
            make_source=lambda: SocketReplicationSource("127.0.0.1", srv.port))
        synced = rep.initial_sync(_specs())
    assert set(synced) == {"public.a"}
    assert [r.pk for r in synced["public.a"].collect()] == [1]


def test_skip_all_tables_syncs_nothing(spark, tmp_path):
    with LoopbackReplicationServer(
            b"", tables={"public.a": [b"1\tx"]}) as srv:
        cfg = _cfg(table_sync_copy=TableSyncCopyConfig(type="skip_all_tables"))
        rep = Replicator(
            spark, cfg, str(tmp_path),
            make_source=lambda: SocketReplicationSource("127.0.0.1", srv.port))
        assert rep.initial_sync(_specs()) == {}
        assert srv.connections == 0  # no copy connection was even opened


def test_connection_pool_size_drives_parallel_path(spark, tmp_path):
    """max_copy_connections_per_table > 1 with planned ranges uses one
    connection per ctid partition, all snapshot-anchored."""
    ranges = [(None, "(8,1)"), ("(8,1)", None)]
    slices = {None: [b"1\ta"], "(8,1)": [b"2\tb"]}
    with LoopbackReplicationServer(
            b"", snapshot_name="snap-r",
            tables={"public.a": slices}) as srv:
        cfg = _cfg(max_copy_connections_per_table=2)
        rep = Replicator(
            spark, cfg, str(tmp_path),
            make_source=lambda: SocketReplicationSource("127.0.0.1", srv.port))
        spec = TableSpec(oid=101, name="public.a",
                         payload_schema="pk long, v string",
                         ctid_ranges=ranges)
        synced = rep.initial_sync([spec], snapshot_name="snap-r")
        got = sorted(r.pk for r in synced["public.a"].collect())
        assert got == [1, 2]
        assert srv.connections == 2  # the pool, not a single serial conn
        anchors = [c for c in srv.commands
                   if c.upper().startswith("SET TRANSACTION SNAPSHOT")]
        assert len(anchors) == 2


def test_batch_budget_threads_into_copy_relay(spark, tmp_path):
    """batch.max_bytes bounds each relayed COPY batch — a tiny budget
    forces one parquet part per line (the existing snapshot_via_copy
    batching contract, now config-driven)."""
    lines = [b"1\taaaa", b"2\tbbbb", b"3\tcccc"]
    with LoopbackReplicationServer(b"", tables={"public.a": lines}) as srv:
        cfg = _cfg(batch=BatchConfig(max_bytes=4))
        rep = Replicator(
            spark, cfg, str(tmp_path),
            make_source=lambda: SocketReplicationSource("127.0.0.1", srv.port))
        synced = rep.initial_sync(
            [TableSpec(oid=101, name="public.a",
                       payload_schema="pk long, v string")])
        assert sorted(r.pk for r in synced["public.a"].collect()) == [1, 2, 3]
    parts = [f for f in os.listdir(str(tmp_path / "sync" / "public_a"))
             if f.endswith(".parquet")]
    assert len(parts) >= 2


def test_run_threads_policy_and_retry_budget():
    """run() hands the live loop the config's slot policy, retry count,
    and ms->s backoff seed, plus the id-scoped slot name."""
    captured = {}

    class FakePump:
        def run_live_resilient(self, pipeline, stop, slot_name, **kw):
            captured["slot"] = slot_name
            captured.update(kw)

    cfg = _cfg(invalidated_slot_behavior="recreate",
               table_error_retry_max_attempts=3,
               table_error_retry_delay_ms=250)
    rep = Replicator(None, cfg, "/tmp/unused")
    rep.run(FakePump(), pipeline=None, stop=None)
    assert captured["slot"] == "etl_pipeline_9"
    assert captured["invalidated_slot_behavior"] == "recreate"
    assert captured["max_retries"] == 3
    assert captured["backoff_s"] == 0.25


def test_invalid_config_rejected_at_construction():
    with pytest.raises(Exception):
        Replicator(None, _cfg(max_copy_connections_per_table=0), "/tmp/unused")
