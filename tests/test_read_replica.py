"""Read-replica failover semantics at the sim level (reference
pipeline_read_replica.rs): after failing over to a replica, the
connector re-requests the stream from the last ACKED flush LSN, so
already-applied frames RE-ARRIVE (the replica replays from an older
position) interleaved with genuinely new ones. The pipeline must
converge to the same LWW state as a single uninterrupted stream and
advance the flush LSN past the replayed region — at-least-once plus
idempotent merge, the same contract that makes crash replay safe.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Row

from etl_spark.envelope import GENERIC_ENVELOPE
from etl_spark.streaming.pipeline import Pipeline, TableConfig
from etl_spark.streaming.sinks import ParquetCurrentStateSink

PAYLOAD = "pk long, val string"


def _ev(op, commit, ordinal=0, after=None, before=None, kind=None):
    return Row(
        op=op, table="users", commit_lsn=commit, start_lsn=commit,
        tx_ordinal=ordinal,
        after=json.dumps(after) if after else None,
        before=json.dumps(before) if before else None,
        before_kind=kind, missing_cols=None, schema_snapshot_lsn=None,
    )


def _write(spark, src, rows, name):
    staging = os.path.join(src, f".__stage_{name}")
    spark.createDataFrame(rows, schema=GENERIC_ENVELOPE) \
        .coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(staging)


def test_read_replica_failover_replay_converges(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a"), (2, "b")], PAYLOAD).write.parquet(snap)

    # phase 1: primary stream applies lsn 10-12
    _write(spark, src, [
        _ev("UPDATE", 10, after={"pk": 1, "val": "a1"}),
        _ev("INSERT", 11, after={"pk": 3, "val": "c"}),
        _ev("UPDATE", 12, after={"pk": 2, "val": "b1"}),
    ], "primary_b1")
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema=PAYLOAD)
    work = str(tmp_path / "work")
    p = Pipeline(spark, src, [cfg], sink, work)
    p.run_until_drained()
    assert p.status()["flush_lsn"] == 12

    # phase 2: primary dies; the replica replays from an OLDER position —
    # lsn 11-12 re-arrive (already applied) followed by new lsn 13-14
    _write(spark, src, [
        _ev("INSERT", 11, after={"pk": 3, "val": "c"}),           # re-delivered
        _ev("UPDATE", 12, after={"pk": 2, "val": "b1"}),          # re-delivered
        _ev("UPDATE", 13, after={"pk": 1, "val": "a2"}),          # new
        _ev("DELETE", 14, before={"pk": 3}, kind="KEY"),          # new
    ], "replica_b2")
    p2 = Pipeline(spark, src, [cfg], sink, work)
    p2.run_until_drained()

    got = {r.pk: r.val for r in sink.read("users").select("pk", "val").collect()}
    # identical to an uninterrupted stream: replays are absorbed (LWW by
    # total event order), new events apply, the delete lands
    assert got == {1: "a2", 2: "b1"}
    assert p2.status()["flush_lsn"] == 14
