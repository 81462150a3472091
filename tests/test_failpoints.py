"""Named-failpoint fault injection (reference layer 4:
crates/etl/tests/pipeline_with_failpoints.rs, failpoints defined in
crates/etl/src/failpoints.rs:14-21). Each test arms a failpoint, runs the
pipeline through the fault, and asserts the reference's invariant:
quarantine-not-crash, retry-to-consistency, replay-to-convergence, or
durable-progress-prevents-replay."""

import json
import os
import shutil

import pytest
from pyspark.sql import Row

from etl_spark import failpoints as fp
from etl_spark.envelope import GENERIC_ENVELOPE
from etl_spark.state import TableState
from etl_spark.streaming.pipeline import Pipeline, TableConfig
from etl_spark.streaming.sinks import ParquetCurrentStateSink

PAYLOAD = "pk long, val string"


@pytest.fixture(autouse=True)
def _disarm():
    fp.disarm_all()
    yield
    fp.disarm_all()


def ev(op, table, commit, ordinal, after=None, before=None, before_kind=None,
       missing=None, schema_lsn=None):
    return Row(
        op=op, table=table, commit_lsn=commit, start_lsn=commit,
        tx_ordinal=ordinal,
        after=json.dumps(after) if after else None,
        before=json.dumps(before) if before else None,
        before_kind=before_kind, missing_cols=missing,
        schema_snapshot_lsn=schema_lsn,
    )


def write_events(spark, path, rows, name):
    staging = os.path.join(path, f".__stage_{name}")
    df = spark.createDataFrame(rows, schema=GENERIC_ENVELOPE)
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(path, f"{name}.parquet"))
    shutil.rmtree(staging)


@pytest.fixture()
def env(spark, tmp_path):
    source = str(tmp_path / "source")
    snap = str(tmp_path / "snap")
    os.makedirs(source, exist_ok=True)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], PAYLOAD
    ).write.mode("overwrite").parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    return {"source": source, "snap": snap, "work": str(tmp_path / "work"),
            "sink": sink}


def make_pipeline(spark, env):
    cfg = TableConfig(name="users", snapshot_path=env["snap"], keys=["pk"],
                      payload_schema=PAYLOAD)
    return Pipeline(spark, env["source"], [cfg], env["sink"], env["work"])


def current(env):
    return {r.pk: r.val for r in
            env["sink"].read("users").select("pk", "val").collect()}


# ---------------------------------------------------------------------------
# table_sync_worker_panic_marks_table_errored (rs:231) +
# table_copy_fails_after_data_sync_threw_an_error_with_no_retry (rs:285)
def test_during_data_sync_fault_quarantines_table(spark, env):
    fp.arm(fp.DURING_DATA_SYNC)
    p = make_pipeline(spark, env)
    p.backfill()
    e = p.control.get("users")
    assert e.state == TableState.ERRORED
    assert fp.DURING_DATA_SYNC in (e.error or "")
    # fault fired mid-copy: destination was truncated, rows never arrived
    with pytest.raises(RuntimeError):
        env["sink"].read("users")
    # quarantine is sticky across a fault-free backfill (no auto-retry)
    p.backfill()
    assert p.control.get("users").state == TableState.ERRORED


# table_copy_is_consistent_during_data_sync_threw_an_error_with_timed_retry
# (rs:454): fault mid-copy, retry, final table equals a fault-free run
def test_copy_consistent_after_mid_copy_fault_and_retry(spark, env):
    write_events(spark, env["source"],
                 [ev("INSERT", "users", 10, 0, after={"pk": 4, "val": "d"})],
                 "b1")
    fp.arm(fp.DURING_DATA_SYNC)
    p = make_pipeline(spark, env)
    # the fault quarantines the table; the stream still runs (and drops the
    # quarantined table's events) without killing the pipeline
    p.run_until_drained()
    assert p.control.get("users").state == TableState.ERRORED
    # operator retry → re-copy from scratch → stream replay converges
    p.resync_errored(force=True)
    p.run_until_drained()
    assert p.control.get("users").state == TableState.READY
    assert current(env) == {1: "a", 2: "b", 3: "c", 4: "d"}


# table_copy_fails_after_timed_retry_exceeded_max_attempts (rs:339)
def test_after_finished_copy_fault_then_retry_consistent(spark, env):
    fp.arm(fp.AFTER_FINISHED_COPY)
    p = make_pipeline(spark, env)
    p.backfill()
    assert p.control.get("users").state == TableState.ERRORED
    fp.disarm_all()
    p.retry_errored(force=True)
    p.backfill()
    assert p.control.get("users").state == TableState.SYNC_DONE
    assert current(env) == {1: "a", 2: "b", 3: "c"}


# table_sync_worker.before_streaming_fp: fault between copy and stream
# start — the copy is already durable; a healthy start picks up from it
def test_before_streaming_fault_preserves_durable_copy(spark, env):
    write_events(spark, env["source"],
                 [ev("UPDATE", "users", 10, 0, after={"pk": 2, "val": "B"})],
                 "b1")
    fp.arm(fp.BEFORE_STREAMING)
    p = make_pipeline(spark, env)
    with pytest.raises(fp.FailpointError):
        p.start()
    # backfill survived the stream-start fault
    assert p.control.get("users").state == TableState.SYNC_DONE
    assert current(env) == {1: "a", 2: "b", 3: "c"}
    p.run_until_drained()  # healthy restart: no re-copy, stream applies
    assert current(env) == {1: "a", 2: "B", 3: "c"}


# stored_durable_progress_prevents_replay_when_status_updates_are_skipped
# (rs:759): both directions —
#   lost updates  → stale flush LSN, but replay converges (at-least-once);
#   stored updates → flush LSN durable across restart, no replay needed.
def test_lost_status_update_then_replay_converges(spark, env):
    write_events(spark, env["source"],
                 [ev("INSERT", "users", 10, 0, after={"pk": 4, "val": "d"}),
                  ev("UPDATE", "users", 11, 0, after={"pk": 1, "val": "A"})],
                 "b1")
    fp.arm_skip(fp.SEND_STATUS_UPDATE, times=-1)
    p = make_pipeline(spark, env)
    p.run_until_drained()
    # data applied, but the recorded progress is stale (update lost)
    assert current(env) == {1: "A", 2: "b", 3: "c", 4: "d"}
    assert p.control.flush_lsn == 0
    fp.disarm_all()
    # restart from the stale LSN: delete the queue record so the retained
    # log replays from the beginning — idempotent merge absorbs the rerun
    os.remove(p.frame_queue.path)
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()
    assert current(env) == {1: "A", 2: "b", 3: "c", 4: "d"}
    assert p2.control.flush_lsn == 11


def test_durable_progress_prevents_replay(spark, env):
    write_events(spark, env["source"],
                 [ev("INSERT", "users", 10, 0, after={"pk": 4, "val": "d"})],
                 "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    assert p.control.flush_lsn == 10
    # restart with the queue record intact: the processed file is NOT re-read
    applied = []
    orig = p.sink.write_changes
    p2 = make_pipeline(spark, env)
    p2.sink.write_changes = lambda *a, **k: applied.append(a) or orig(*a, **k)
    p2.run_until_drained()
    assert applied == []  # durable progress prevented replay
    assert p2.control.flush_lsn == 10


# STORE_REPLICATION_PROGRESS_FP: persisting progress fails → the batch
# fails → the stream errors; restart replays the batch and converges
def test_store_progress_failure_fails_batch_then_restart_converges(spark, env):
    write_events(spark, env["source"],
                 [ev("INSERT", "users", 10, 0, after={"pk": 4, "val": "d"})],
                 "b1")
    fp.arm(fp.STORE_REPLICATION_PROGRESS)
    p = make_pipeline(spark, env)
    with pytest.raises(Exception) as exc_info:
        p.run_until_drained()
    assert "store_replication_progress" in str(exc_info.value)
    assert p.control.flush_lsn == 0
    fp.disarm_all()
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()  # same queue record: uncommitted batch replays
    assert current(env) == {1: "a", 2: "b", 3: "c", 4: "d"}
    assert p2.control.flush_lsn == 10


def test_pinned_envelope_batch_replays_alone_after_crash(spark, tmp_path):
    """Envelope twin of the pgoutput pinned-batch test: a crash after the
    DuckDB commit and before the flush advance leaves batch 0 pinned but
    not committed. A second file then lands holding the re-sent event
    plus a new one. The pinned batch must re-apply alone, under its own
    id (the DuckDB ledger skips it), and the new file as the next batch:
    folded into batch 0, the ledger would skip the new event too."""
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    source = str(tmp_path / "source")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], PAYLOAD).write.parquet(snap)
    sink = DuckDBCurrentStateSink(str(tmp_path / "wh.duckdb"),
                                  keys={"users": ["pk"]},
                                  staging_dir=str(tmp_path / "stage"))
    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema=PAYLOAD)
    work = str(tmp_path / "work")
    sent = ev("INSERT", "users", 10, 0, after={"pk": 1, "val": "a"})
    write_events(spark, source, [sent], "b1")
    fp.arm(fp.STORE_REPLICATION_PROGRESS)
    p = Pipeline(spark, source, [cfg], sink, work)
    with pytest.raises(fp.FailpointError):
        p.run_until_drained()
    fp.disarm_all()
    assert {r["pk"]: r["val"] for r in sink.read("users")} == {1: "a"}
    assert p.control.flush_lsn == 0
    assert p.frame_queue.pinned == {"id": 0, "files": ["b1.parquet"]}

    # restart: the source re-sends the unacknowledged event + a new one
    write_events(spark, source,
                 [sent, ev("INSERT", "users", 20, 0, after={"pk": 2, "val": "b"})],
                 "b2")
    p2 = Pipeline(spark, source, [cfg], sink, work)
    batches = []
    apply = p2._apply_batch

    def record(files, batch_id):
        batches.append(([os.path.basename(f) for f in files], batch_id))
        apply(files, batch_id)
    p2._apply_batch = record
    p2.run_until_drained()
    assert batches == [(["b1.parquet"], 0), (["b2.parquet"], 1)]
    assert {r["pk"]: r["val"] for r in sink.read("users")} == {1: "a", 2: "b"}
    assert p2.control.flush_lsn == 20


# schema_snapshots_are_pruned_after_confirmed_progress (rs:1581): forced
# mid-stream cleanup may only drop versions below the durable boundary;
# decode of later events still finds its schema version
def test_force_schema_cleanup_keeps_asof_boundary(spark, env):
    write_events(spark, env["source"],
                 [ev("INSERT", "users", 10, 0, after={"pk": 4, "val": "d"})],
                 "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    assert p.control.flush_lsn == 10
    # second run: a RELATION (schema v2, adds a column) plus forced cleanup
    rel = ev("RELATION", "users", 20, 0, schema_lsn=20)
    rel = Row(**{**rel.asDict(), "after": json.dumps({"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 0},
        {"name": "val", "typ": "string"},
        {"name": "extra", "typ": "string"},
    ]})})
    write_events(spark, env["source"],
                 [rel,
                  ev("INSERT", "users", 21, 0,
                     after={"pk": 5, "val": "e", "extra": "x"})],
                 "b2")
    fp.arm_skip(fp.FORCE_SCHEMA_CLEANUP, times=-1)
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()
    got = {r.pk: r.val for r in
           env["sink"].read("users").select("pk", "val").collect()}
    assert got == {1: "a", 2: "b", 3: "c", 4: "d", 5: "e"}
    # the v2 version (boundary ≥ durable LSN) survived forced pruning
    assert p2.schemas.asof("users", 25) is not None


# table_schema_replication_masks_are_consistent_after_restart (rs:1660):
# a restarted pipeline decodes with the registry's newest schema version,
# not the constructor's stale mask — even when no RELATION event replays
def test_replication_mask_consistent_after_restart(spark, env):
    rel = ev("RELATION", "users", 20, 0, schema_lsn=20)
    rel = Row(**{**rel.asDict(), "after": json.dumps({"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 0},
        {"name": "val", "typ": "string"},
        {"name": "extra", "typ": "string"},
    ]})})
    write_events(spark, env["source"], [rel], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    assert "extra" in (p.tables["users"].payload_schema or "")
    # restart: fresh Pipeline with the ORIGINAL 2-column config; the batch
    # with the wide row arrives post-restart, no RELATION replay
    write_events(spark, env["source"],
                 [ev("INSERT", "users", 30, 0,
                     after={"pk": 9, "val": "z", "extra": "kept"})],
                 "b2")
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()
    assert "extra" in (p2.tables["users"].payload_schema or "")
    row = env["sink"].read("users").filter("pk = 9").collect()[0]
    assert row.extra == "kept"  # decoded with the restored mask


# ---------------------------------------------------------------------------
# chaos runner (reference: crates/xtask/src/commands/chaos/ — randomized
# fault schedules over the failpoint set, asserting convergence)
# ---------------------------------------------------------------------------

#: stream-level faults: a failed/stalled batch is replayed from the
#: frame queue's pin on restart, so convergence is guaranteed end-to-end. The
#: copy-phase faults (BEFORE/DURING_DATA_SYNC, AFTER_FINISHED_COPY) are
#: deliberately excluded here: they quarantine the table, the shared
#: stream then legitimately drops its events (P3), and recovery relies
#: on re-copying a LIVE source — in this sim the snapshot is static, so
#: those faults are exercised with the proper retry sequencing by the
#: dedicated matrix above instead.
_CHAOS_POINTS = (
    ("raise", fp.BEFORE_STREAMING),
    ("raise", fp.STORE_REPLICATION_PROGRESS),
    ("skip", fp.SEND_STATUS_UPDATE),
    ("skip", fp.FORCE_SCHEMA_CLEANUP),
)


@pytest.mark.parametrize("seed", [7, 41])
def test_chaos_random_fault_schedule_converges(spark, env, seed):
    """Seeded chaos (reference chaos-runner analog): each phase appends
    new change files, then runs the pipeline under a RANDOM stream-fault
    schedule. After the fault budget drains, one clean incarnation must
    land on exactly the fault-free final state — faults may delay
    progress, never corrupt it."""
    import random

    rng = random.Random(seed)
    phases = [
        [ev("INSERT", "users", 10, 0, after={"pk": 4, "val": "d"}),
         ev("UPDATE", "users", 11, 0, after={"pk": 1, "val": "a1"})],
        [ev("DELETE", "users", 12, 0, before={"pk": 2}, before_kind="KEY"),
         ev("UPDATE", "users", 13, 0, after={"pk": 4, "val": "d2"})],
        [ev("INSERT", "users", 14, 0, after={"pk": 5, "val": "e"})],
    ]
    expected = {1: "a1", 3: "c", 4: "d2", 5: "e"}

    for i, batch in enumerate(phases):
        write_events(spark, env["source"], batch, f"b{i}")
        for _ in range(rng.randint(0, 2)):  # chaos incarnations this phase
            mode, point = rng.choice(_CHAOS_POINTS)
            if mode == "raise":
                fp.arm(point, times=rng.randint(1, 2))
            else:
                fp.arm_skip(point, times=rng.randint(1, 2))
            try:
                make_pipeline(spark, env).run_until_drained()
            except Exception:
                pass  # injected fault: a later incarnation must recover
            finally:
                fp.disarm_all()

    # clean final incarnation: faults drained, state must converge
    make_pipeline(spark, env).run_until_drained()
    assert current(env) == expected
