"""Faulty-destination convergence, mirroring
crates/etl/tests/pipeline_with_faulty_destination.rs: a destination that
fails (or fails AFTER applying the write) quarantines the table; a resync
retries until durable, and the final state is hash-identical to a
fault-free run — at-least-once delivery + idempotent merge.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import Row

from etl_spark.state import TableState
from etl_spark.streaming.pipeline import Pipeline, TableConfig
from etl_spark.streaming.sinks import ParquetCurrentStateSink, Sink

PAYLOAD = "pk long, val string"


class FlakySink(Sink):
    """Wrapper injecting destination faults (FaultAction analog,
    test_utils/test_destination_wrapper.rs): ``reject`` raises before the
    inner write; ``fail_after_write`` applies the inner write, THEN raises
    — the apply loop sees a failure for a write that actually landed."""

    def __init__(self, inner: Sink, fail_n: int = 0, after_write: bool = False):
        self.inner = inner
        self.remaining = fail_n
        self.after_write = after_write
        self.change_attempts = 0

    def write_snapshot(self, table, df):
        self.inner.write_snapshot(table, df)

    def write_changes(self, table, df, batch_id):
        self.change_attempts += 1
        if self.remaining > 0:
            self.remaining -= 1
            if self.after_write:
                self.inner.write_changes(table, df, batch_id)
            raise RuntimeError("injected destination failure")
        self.inner.write_changes(table, df, batch_id)

    def truncate(self, table):
        self.inner.truncate(table)

    def read(self, table):
        return self.inner.read(table)


def _ev(op, commit, after=None, before=None, kind=None):
    return Row(
        op=op, table="users", commit_lsn=commit, start_lsn=commit,
        tx_ordinal=0,
        after=json.dumps(after) if after else None,
        before=json.dumps(before) if before else None,
        before_kind=kind, missing_cols=None, schema_snapshot_lsn=None,
    )


EVENTS = [
    _ev("INSERT", 10, after={"pk": 4, "val": "d"}),
    _ev("UPDATE", 11, after={"pk": 2, "val": "b2"}),
    _ev("DELETE", 12, before={"pk": 3}, kind="KEY"),
]

#: fault-free expected final state
EXPECTED = {1: "a", 2: "b2", 4: "d"}


def _write_frames(path):
    """EVENTS as one pgoutput frame file (table ``public.users``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_spark.sources import pgoutput as pgo

    frames = [
        (1, -1, pgo.encode_relation(1, "public", "users", "d",
                                    [(1, "pk", 20, -1), (0, "val", 25, -1)])),
        (9, 9, pgo.encode_begin(final_lsn=13, xid=1)),
        (10, 9, pgo.encode_insert(1, ["4", "d"])),
        (11, 9, pgo.encode_update(1, ["2", "b2"])),
        (12, 9, pgo.encode_delete(1, key=["3"])),
        (13, 9, pgo.encode_commit(13, 14)),
    ]
    pq.write_table(pa.table([list(c) for c in zip(*frames)],
                            schema=pgo.FRAME_ARROW_SCHEMA), path)


def _setup(spark, tmp_path, tag, fail_n=0, after_write=False, fmt="envelope"):
    from etl_spark.envelope import GENERIC_ENVELOPE

    source = str(tmp_path / f"src_{tag}")
    snap = str(tmp_path / f"snap_{tag}")
    os.makedirs(source, exist_ok=True)
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], PAYLOAD) \
        .write.mode("overwrite").parquet(snap)
    if fmt == "pgoutput":
        _write_frames(os.path.join(source, "b1.parquet"))
    else:
        staging = os.path.join(source, ".__stage")
        spark.createDataFrame(EVENTS, schema=GENERIC_ENVELOPE) \
            .coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        shutil.move(os.path.join(staging, part), os.path.join(source, "b1.parquet"))
        shutil.rmtree(staging)

    inner = ParquetCurrentStateSink(str(tmp_path / f"sink_{tag}"), keys=["pk"], spark=spark)
    sink = FlakySink(inner, fail_n=fail_n, after_write=after_write)
    name = "public.users" if fmt == "pgoutput" else "users"
    cfg = TableConfig(name=name, snapshot_path=snap, keys=["pk"], payload_schema=PAYLOAD)
    pipe = lambda: Pipeline(spark, source, [cfg], sink, str(tmp_path / f"work_{tag}"),  # noqa: E731
                            source_fmt=fmt)
    return sink, pipe


def _state(sink, table="users"):
    return {r.pk: r.val for r in sink.read(table).select("pk", "val").collect()}


def test_fault_free_baseline(spark, tmp_path):
    sink, pipe = _setup(spark, tmp_path, "base")
    pipe().run_until_drained()
    assert _state(sink) == EXPECTED


def test_reject_then_retry_converges(spark, tmp_path):
    """First change write rejected → Errored; resync retries until the
    final state equals the fault-free run. Both formats replay because
    the frame queue's record of applied files is reset."""
    for fmt, table in (("envelope", "users"), ("pgoutput", "public.users")):
        sink, pipe = _setup(spark, tmp_path, f"rej_{fmt}", fail_n=1, fmt=fmt)
        p = pipe()
        p.run_until_drained()
        assert p.status()["tables"][table]["state"] == "Errored"
        assert _state(sink, table) == {1: "a", 2: "b", 3: "c"}  # snapshot only

        p2 = pipe()
        assert p2.resync_errored(force=True) == [table]
        p2.run_until_drained()
        assert p2.status()["tables"][table]["state"] == "Ready"
        assert _state(sink, table) == EXPECTED


def test_fail_after_write_converges(spark, tmp_path):
    """The write LANDED but the destination reported failure
    (fail_after_write): the retry replays the same batch; batch-id dedup /
    LWW idempotence must converge to the identical state, not double-apply."""
    sink, pipe = _setup(spark, tmp_path, "afw", fail_n=1, after_write=True)
    p = pipe()
    p.run_until_drained()
    assert p.status()["tables"]["users"]["state"] == "Errored"
    # the inner write went through before the injected failure
    assert _state(sink) == EXPECTED

    p2 = pipe()
    p2.resync_errored(force=True)
    p2.run_until_drained()
    assert p2.status()["tables"]["users"]["state"] == "Ready"
    assert _state(sink) == EXPECTED


def test_repeated_faults_retry_until_durable(spark, tmp_path):
    """Two consecutive injected failures: each resync makes progress only
    when the destination finally accepts — the retry-until-durable loop."""
    sink, pipe = _setup(spark, tmp_path, "rep", fail_n=2)
    p = pipe()
    p.run_until_drained()
    assert p.status()["tables"]["users"]["state"] == "Errored"

    p2 = pipe()
    p2.resync_errored(force=True)
    p2.run_until_drained()
    assert p2.status()["tables"]["users"]["state"] == "Errored"  # 2nd fault

    p3 = pipe()
    p3.resync_errored(force=True)
    p3.run_until_drained()
    assert p3.status()["tables"]["users"]["state"] == "Ready"
    assert _state(sink) == EXPECTED
    assert sink.change_attempts == 3


class FlakyCopySink(FlakySink):
    """Copy-phase fault (failpoints: table_copy_is_consistent_during_
    data_sync_threw_an_error_with_timed_retry): the first snapshot write
    lands PARTIAL rows in the destination, then fails — the retry must
    drop-for-copy and re-copy, never leaving the partial slice visible."""

    def write_snapshot(self, table, df):
        if self.remaining > 0:
            self.remaining -= 1
            self.inner.write_snapshot(table, df.limit(1))  # partial copy
            raise RuntimeError("injected copy failure after partial write")
        self.inner.write_snapshot(table, df)


def test_copy_failure_partial_rows_then_retry_consistent(spark, tmp_path):
    """Backfill fails mid-copy leaving partial rows → table Errored →
    forced retry re-runs drop_table_for_copy + full copy + stream; final
    state equals the fault-free run (copy-consistency failpoint)."""
    from etl_spark.envelope import GENERIC_ENVELOPE  # noqa: F401 (parity with _setup)

    sink, pipe = _setup(spark, tmp_path, "copyfail")
    flaky = FlakyCopySink(sink.inner, fail_n=1)
    cfg = TableConfig(name="users",
                      snapshot_path=str(tmp_path / "snap_copyfail"),
                      keys=["pk"], payload_schema=PAYLOAD)
    src = str(tmp_path / "src_copyfail")
    mk = lambda: Pipeline(spark, src, [cfg], flaky, str(tmp_path / "work_copyfail"))  # noqa: E731

    p = mk()
    p.run_until_drained()
    st = p.status()["tables"]["users"]
    assert st["state"] == "Errored" and "copy failure" in st["error"]
    # quarantined: the stream did NOT apply events to the partial table
    assert len(_state(flaky)) == 1  # the partial row only

    p2 = mk()
    p2.resync_errored(force=True)
    p2.run_until_drained()
    assert p2.status()["tables"]["users"]["state"] == "Ready"
    assert _state(flaky) == EXPECTED  # identical to the fault-free run


def test_resync_noop_without_errored_tables(spark, tmp_path):
    """resync_errored on a healthy pipeline must not reset the frame
    queue's record (no gratuitous replay)."""
    sink, pipe = _setup(spark, tmp_path, "noop")
    p = pipe()
    p.run_until_drained()
    assert p.resync_errored(force=True) == []
    assert p.frame_queue.applied == {"b1.parquet"}
