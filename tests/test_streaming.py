"""End-to-end Structured Streaming pipeline tests (FIXTURES.md §3
scenarios: snapshot+stream overlap, replay idempotence, truncate
mid-stream, TOAST partials, per-table quarantine, restart recovery)."""

import json
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_spark.envelope import GENERIC_ENVELOPE
from etl_spark.state import TableState
from etl_spark.streaming.pipeline import Pipeline, TableConfig
from etl_spark.streaming.sinks import ParquetCurrentStateSink, TableRoutingSink

PAYLOAD = "pk long, val string"


def ev(op, table, commit, ordinal, after=None, before=None, before_kind=None,
       missing=None):
    return Row(
        op=op, table=table, commit_lsn=commit, start_lsn=commit,
        tx_ordinal=ordinal,
        after=json.dumps(after) if after else None,
        before=json.dumps(before) if before else None,
        before_kind=before_kind, missing_cols=missing, schema_snapshot_lsn=None,
    )


def write_events(spark, path, rows, name):
    """Append one batch file to the flat change-log directory (the shape a
    WAL shipper produces: one file per flush, no nesting)."""
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
    return {
        "source": source,
        "snap": snap,
        "work": str(tmp_path / "work"),
        "sink": sink,
    }


def make_pipeline(spark, env, extra_tables=(), **kw):
    cfg = TableConfig(name="users", snapshot_path=env["snap"], keys=["pk"],
                      payload_schema=PAYLOAD)
    return Pipeline(spark, env["source"], [cfg, *extra_tables], env["sink"],
                    env["work"], **kw)


def current(env):
    return {r.pk: r.val for r in env["sink"].read("users").select("pk", "val").collect()}


def test_snapshot_then_stream(spark, env):
    """Snapshot + post-snapshot changes → merged current state; pipeline
    reaches Ready; flush LSN advances to the last commit (T4/T6)."""
    write_events(spark, env["source"], [
        ev("INSERT", "users", 10, 0, after={"pk": 4, "val": "d"}),
        ev("UPDATE", "users", 11, 0, after={"pk": 2, "val": "b2"}),
        ev("DELETE", "users", 12, 0, before={"pk": 3}, before_kind="KEY"),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    st = p.status()
    assert st["tables"]["users"]["state"] == "Ready"
    assert st["flush_lsn"] == 12
    assert current(env) == {1: "a", 2: "b2", 4: "d"}
    # drained on the driver: no streaming query, so no checkpoint
    assert not os.path.exists(os.path.join(env["work"], "checkpoint"))


def test_replay_is_idempotent(spark, env):
    """Queue record deleted (slot invalidation) → events replay; final
    state unchanged (T7: at-least-once + LWW merge)."""
    write_events(spark, env["source"], [
        ev("INSERT", "users", 20, 0, after={"pk": 4, "val": "x"}),
        ev("UPDATE", "users", 21, 0, after={"pk": 1, "val": "a2"}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    first = current(env)

    os.remove(p.frame_queue.path)
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()
    assert current(env) == first == {1: "a2", 2: "b", 3: "c", 4: "x"}


def test_truncate_mid_stream(spark, env):
    """Rows at or before a TRUNCATE die, including snapshot rows; rows
    after it survive (T8)."""
    write_events(spark, env["source"], [
        ev("INSERT", "users", 30, 0, after={"pk": 5, "val": "pre"}),
        ev("TRUNCATE", "users", 31, 0),
        ev("INSERT", "users", 32, 0, after={"pk": 6, "val": "post"}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    assert current(env) == {6: "post"}


def test_toast_partial_resolution(spark, env):
    """UPDATE with missing col + FULL before image resolves from the old
    row (J1); with KEY-only image the partial is rejected (the reference's
    partial-row rejection rule)."""
    write_events(spark, env["source"], [
        # val (payload index 1) missing, FULL before carries it
        ev("UPDATE", "users", 40, 0, after={"pk": 1, "val": None},
           before={"pk": 1, "val": "a"}, before_kind="FULL", missing=[1]),
        # partial with KEY-only image → rejected, must NOT clobber pk 2
        ev("UPDATE", "users", 41, 0, after={"pk": 2, "val": None},
           before={"pk": 2}, before_kind="KEY", missing=[1]),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    got = current(env)
    assert got[1] == "a"   # resolved from before image
    assert got[2] == "b"   # rejected partial left the row alone


def test_quarantine_does_not_kill_pipeline(spark, env):
    """A failing table goes Errored; others keep applying; progress still
    advances (T10)."""
    write_events(spark, env["source"], [
        ev("INSERT", "users", 50, 0, after={"pk": 7, "val": "ok"}),
        ev("INSERT", "ghost", 51, 0, after={"pk": 1, "val": "boom"}),
    ], "b1")
    ghost = TableConfig(name="ghost", snapshot_path=None, keys=["pk"],
                        payload_schema=PAYLOAD)
    p = make_pipeline(spark, env, extra_tables=[ghost])
    p.run_until_drained()
    st = p.status()
    assert st["tables"]["users"]["state"] == "Ready"
    assert st["tables"]["ghost"]["state"] == "Errored"
    assert st["flush_lsn"] == 51
    assert current(env)[7] == "ok"


def test_restart_recovers_and_continues(spark, env):
    """Process restart with intact queue record: only new files process;
    Ready state and data survive (lifecycle.rs:241-255)."""
    write_events(spark, env["source"], [ev("INSERT", "users", 60, 0, after={"pk": 8, "val": "one"})], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    assert p.status()["flush_lsn"] == 60

    write_events(spark, env["source"], [ev("UPDATE", "users", 61, 0, after={"pk": 8, "val": "two"})], "b2")
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()
    st = p2.status()
    assert st["flush_lsn"] == 61
    assert st["tables"]["users"]["state"] == "Ready"
    assert current(env)[8] == "two"


def test_lifecycle_transitions_enforced(spark, tmp_path):
    from etl_spark.state import ControlStore, IllegalTransition

    c = ControlStore(str(tmp_path / "ctl"))
    c.transition("t", TableState.DATA_SYNC)
    with pytest.raises(IllegalTransition):
        c.transition("t", TableState.READY)  # must pass through copy states
    c.transition("t", TableState.FINISHED_COPY)
    c.transition("t", TableState.SYNC_DONE, lsn=99)
    c.transition("t", TableState.READY)
    assert c.restart_reset() == []  # Ready keeps data
    c.advance_flush_lsn(10)
    c.advance_flush_lsn(5)
    assert c.flush_lsn == 10  # monotonic upsert (store/state/base.rs:81-89)


def test_schema_registry_asof_and_diff(tmp_path):
    from etl_spark.schema_registry import ColumnDef, SchemaRegistry, diff_schemas

    reg = SchemaRegistry(str(tmp_path / "reg"))
    v0 = [ColumnDef("id", "bigint", ordinal=0), ColumnDef("name", "text", ordinal=1)]
    v1 = [ColumnDef("id", "bigint", ordinal=0), ColumnDef("full_name", "text", ordinal=1),
          ColumnDef("age", "int", ordinal=2, default="0")]
    reg.record("t", 0, v0)
    reg.record("t", 100, v1)
    reg.record("t", 100, v1)  # idempotent re-delivery
    assert reg.versions("t") == [0, 100]
    assert reg.asof("t", 50)[0] == 0     # largest snapshot <= lsn
    assert reg.asof("t", 100)[0] == 100
    d = diff_schemas(v0, v1)
    assert d.renames == [("name", "full_name")]  # ordinal-matched rename
    assert [c.name for c in d.columns_to_add] == ["age"]
    assert d.columns_to_remove == []
    assert reg.prune("t", 100) == 1      # keeps boundary version only
    assert reg.versions("t") == [100]


def test_pk_changing_update_moves_the_row(spark, env):
    """UPDATE with a changed key → DELETE(old key) + row at the new key
    (D1 semantics, bigquery/core.rs:1421-1478)."""
    write_events(spark, env["source"], [
        ev("UPDATE", "users", 30, 0,
           after={"pk": 5, "val": "moved"}, before={"pk": 2, "val": "b"},
           before_kind="FULL"),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    assert current(env) == {1: "a", 3: "c", 5: "moved"}  # pk 2 gone


def test_membership_purge_on_removed_table(spark, env, tmp_path):
    """A table dropped from the config loses control state and destination
    data on the next start (publication sync, pipeline.rs:354-421)."""
    snap2 = str(tmp_path / "snap2")
    spark.createDataFrame([(9, "z")], PAYLOAD).write.mode("overwrite").parquet(snap2)
    extra = TableConfig(name="orders", snapshot_path=snap2, keys=["pk"],
                        payload_schema=PAYLOAD)
    p = make_pipeline(spark, env, extra_tables=[extra])
    p.run_until_drained()
    assert {r.pk for r in env["sink"].read("orders").collect()} == {9}

    p2 = make_pipeline(spark, env)  # orders no longer configured
    removed = p2.reconcile_membership()
    assert removed == ["orders"]
    assert "orders" not in p2.control.tables
    assert env["sink"].read("orders").count() == 0  # truncated


def test_relation_event_evolves_schema(spark, env):
    """RELATION mid-stream adds a column (T9): later events decode with it,
    earlier rows read back NULL for it, registry records the version."""
    newcols = {"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 1},
        {"name": "val", "typ": "string"},
        {"name": "age", "typ": "int"},
    ]}
    write_events(spark, env["source"], [
        ev("UPDATE", "users", 40, 0, after={"pk": 1, "val": "a1"}),
        Row(op="RELATION", table="users", commit_lsn=41, start_lsn=41,
            tx_ordinal=0, after=json.dumps(newcols), before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=41),
        ev("INSERT", "users", 42, 0, after={"pk": 7, "val": "g", "age": 30}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    rows = {r.pk: (r.val, r.age) for r in
            env["sink"].read("users").select("pk", "val", "age").collect()}
    assert rows[7] == ("g", 30)
    assert rows[1] == ("a1", None)  # pre-DDL rows: new column is NULL
    assert rows[2] == ("b", None)   # snapshot rows too
    lsn, cols = p.schemas.asof("users", 99)
    assert lsn == 41 and [c.name for c in cols] == ["pk", "val", "age"]


def test_schema_snapshots_consistent_after_replay(spark, env):
    """Failpoint analog (pipeline_with_failpoints.rs: table_schema_snapshots_
    are_consistent_after_missing_status_update_*): a replay of a batch
    containing interleaved DDL — queue record deleted, everything re-delivered —
    must leave the registry with the SAME version set (no duplicates, same
    as-of resolution) and the destination in the same final state."""
    newcols = {"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 1},
        {"name": "val", "typ": "string"},
        {"name": "age", "typ": "int"},
    ]}
    write_events(spark, env["source"], [
        ev("UPDATE", "users", 70, 0, after={"pk": 1, "val": "pre"}),
        Row(op="RELATION", table="users", commit_lsn=71, start_lsn=71,
            tx_ordinal=0, after=json.dumps(newcols), before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=71),
        ev("INSERT", "users", 72, 0, after={"pk": 8, "val": "h", "age": 44}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    versions_first = dict(p.schemas._versions)
    state_first = {r.pk: (r.val, r.age) for r in
                   env["sink"].read("users").select("pk", "val", "age").collect()}

    os.remove(p.frame_queue.path)  # missing status update → full replay
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()
    # registry: same version LSNs, no duplicate recording of the DDL
    assert {t: [lsn for lsn, _ in vs] for t, vs in p2.schemas._versions.items()} \
        == {t: [lsn for lsn, _ in vs] for t, vs in versions_first.items()}
    state_second = {r.pk: (r.val, r.age) for r in
                    env["sink"].read("users").select("pk", "val", "age").collect()}
    assert state_second == state_first
    # as-of resolution unchanged across the replay
    lsn, cols = p2.schemas.asof("users", 99)
    assert lsn == 71 and [c.name for c in cols] == ["pk", "val", "age"]


def test_retry_policies(spark, env):
    """NoRetry never resets; ManualRetry needs force; TimedRetry honors
    delay + attempt cap (error_policy.rs)."""
    from etl_spark.state import RetryPolicy, TableState

    p = make_pipeline(spark, env)
    c = p.control
    for name, pol in [("users", RetryPolicy.NO_RETRY)]:
        c.transition(name, TableState.ERRORED, error="boom", retry_policy=pol)
    assert p.retry_errored() == []                      # NoRetry: never
    assert p.retry_errored(force=True) == []            # even forced

    c.tables["users"].retry_policy = RetryPolicy.MANUAL_RETRY
    assert p.retry_errored() == []
    assert p.retry_errored(force=True) == ["users"]     # operator override

    c.transition("users", TableState.ERRORED, error="boom2",
                 retry_policy=RetryPolicy.TIMED_RETRY)
    assert p.retry_errored(retry_delay_sec=3600) == []  # too soon
    assert p.retry_errored(retry_delay_sec=0) == ["users"]

    c.transition("users", TableState.ERRORED, error="boom3",
                 retry_policy=RetryPolicy.TIMED_RETRY)
    c.tables["users"].attempts = 99
    assert p.retry_errored(retry_delay_sec=0) == []     # attempt cap


def test_replayed_batch_id_skips_rewrite(spark, env):
    """Re-delivering the already-applied batch id must not rewrite a new
    version (applied-batches fast path); a NEW batch id still applies."""
    write_events(spark, env["source"], [
        ev("INSERT", "users", 50, 0, after={"pk": 8, "val": "h"}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    sink = env["sink"]
    v_after = sink._current_version("users")
    applied_batch = sink._current_meta("users")["batch_id"]

    # replay the same batch id: version must not advance
    df = sink.read("users")
    sink.write_changes("users", df.limit(0), applied_batch)
    assert sink._current_version("users") == v_after

    # a different batch id applies normally: it is RECORDED as applied
    # (so its own replay is then skipped) — but an empty batch touches no
    # buckets, so no data version is written (incremental no-op)
    sink.write_changes("users", df.limit(0), applied_batch + 1)
    assert sink._current_meta("users")["batch_id"] == applied_batch + 1
    assert sink._current_version("users") == v_after
    # and a non-empty new batch advances the data version
    upd = df.withColumn("val", F.lit("h2")).withColumn(
        "event_seq", (F.col("event_seq") + 1).cast("decimal(38,0)"))
    sink.write_changes("users", upd, applied_batch + 2)
    assert sink._current_version("users") == v_after + 1
    assert {r.val for r in sink.read("users").filter(F.col("pk") == 8).collect()} == {"h2"}


def test_stop_then_resume(spark, env):
    """A second drain with nothing pending is safe; a new pipeline resumes
    from the queue record and only applies new events."""
    write_events(spark, env["source"], [
        ev("INSERT", "users", 60, 0, after={"pk": 12, "val": "x"}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    p.run_until_drained()  # nothing pending: applies nothing
    assert current(env)[12] == "x"

    write_events(spark, env["source"], [
        ev("UPDATE", "users", 61, 0, after={"pk": 12, "val": "y"}),
    ], "b2")
    p2 = make_pipeline(spark, env)
    p2.run_until_drained()
    p2.run_until_drained()
    assert current(env)[12] == "y"
    assert p2.status()["flush_lsn"] == 61


def test_row_filter_applies_to_stream(spark, tmp_path):
    """Publication WHERE (P2) filters both the snapshot copy and streamed
    changes; deletes always pass (key-only old image can't be evaluated)."""
    snap = str(tmp_path / "snap")
    source = str(tmp_path / "src")
    os.makedirs(source)
    spark.createDataFrame([(1, 5), (2, 50)], "pk long, val long").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val long", row_filter="val >= 10")
    write_events(spark, source, [
        ev("INSERT", "users", 10, 0, after={"pk": 3, "val": 7}),    # filtered out
        ev("INSERT", "users", 11, 0, after={"pk": 4, "val": 99}),   # kept
        ev("DELETE", "users", 12, 0, before={"pk": 2}, before_kind="KEY"),
    ], "b1")
    p = Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"))
    p.run_until_drained()
    got = {r.pk: r.val for r in sink.read("users").select("pk", "val").collect()}
    assert got == {4: 99}  # pk1 filtered at copy, pk2 deleted, pk3 filtered


def test_composite_replica_identity(spark, tmp_path):
    """Composite keys (REPLICA IDENTITY over two columns): LWW merge and
    deletes key on the tuple, not a single column."""
    snap = str(tmp_path / "snap")
    source = str(tmp_path / "src")
    os.makedirs(source)
    spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30)], "k1 long, k2 string, val long"
    ).write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["k1", "k2"], spark=spark)
    cfg = TableConfig(name="t", snapshot_path=snap, keys=["k1", "k2"],
                      payload_schema="k1 long, k2 string, val long")
    write_events(spark, source, [
        ev("UPDATE", "t", 10, 0, after={"k1": 1, "k2": "a", "val": 11}),
        ev("DELETE", "t", 11, 0, before={"k1": 1, "k2": "b"}, before_kind="KEY"),
    ], "b1")
    p = Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"))
    p.run_until_drained()
    got = {(r.k1, r.k2): r.val for r in sink.read("t").select("k1", "k2", "val").collect()}
    assert got == {(1, "a"): 11, (2, "a"): 30}


def test_malformed_row_image_rejected_not_poisoning(spark, env):
    """An event whose JSON row image doesn't parse decodes to all-NULL
    keys — it must be dropped, not merged as a NULL-key row."""
    write_events(spark, env["source"], [
        Row(op="INSERT", table="users", commit_lsn=70, start_lsn=70,
            tx_ordinal=0, after="{not valid json", before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=None),
        ev("INSERT", "users", 71, 0, after={"pk": 9, "val": "ok"}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    rows = env["sink"].read("users").select("pk", "val").collect()
    assert all(r.pk is not None for r in rows)
    assert {r.pk: r.val for r in rows}[9] == "ok"


def test_duckdb_warehouse_sink(spark, tmp_path):
    """External-warehouse destination: Spark stages parquet, DuckDB runs
    the keyed merge; batch-id replay dedup via applied_batches."""
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    db = str(tmp_path / "wh.duckdb")
    sink = DuckDBCurrentStateSink(db, keys={"users": ["pk"]},
                                  staging_dir=str(tmp_path / "stage"))
    snap = spark.createDataFrame([(1, "a"), (2, "b")], PAYLOAD)
    sink.write_snapshot("users", snap)

    batch = spark.createDataFrame([
        ("UPDATE", 2, "b2", 10, 0), ("INSERT", 3, "c", 11, 0), ("DELETE", 1, None, 12, 0),
    ], "op string, pk long, val string, commit_lsn long, tx_ordinal long").selectExpr(
        "op", "pk", "val", "commit_lsn", "tx_ordinal",
        "CAST(commit_lsn AS DECIMAL(38,0)) * 18446744073709551616 + tx_ordinal AS event_seq",
    )
    sink.write_changes("users", batch, batch_id=0)
    got = {r["pk"]: r["val"] for r in sink.read("users")}
    assert got == {2: "b2", 3: "c"}

    # replay the same batch id: no duplicate application
    sink.write_changes("users", batch, batch_id=0)
    assert {r["pk"]: r["val"] for r in sink.read("users")} == {2: "b2", 3: "c"}


def test_duckdb_sink_delivery_contract(spark, tmp_path):
    """Pins the documented delivery contract (duckdb_sink.py docstring):
    LWW protection spans ORDERED batches + WHOLE-BATCH REPLAYS of
    already-applied batches; it does NOT span a never-applied OLD batch
    arriving after a newer one (a key's _etl_seq dies with its tombstone,
    so a stale pre-image resurrects the key — the DuckLake stance,
    ducklake/core.rs:1133-1216, vs BigQuery's persisted
    _CHANGE_SEQUENCE_NUMBER which survives reordering)."""
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "op string, pk long, val string, commit_lsn long, tx_ordinal long",
        ).selectExpr(
            "op", "pk", "val", "commit_lsn", "tx_ordinal",
            "CAST(commit_lsn AS DECIMAL(38,0)) * 18446744073709551616"
            " + tx_ordinal AS event_seq",
        )

    db = str(tmp_path / "wh.duckdb")
    sink = DuckDBCurrentStateSink(db, keys={"users": ["pk"]},
                                  staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot("users", spark.createDataFrame([(1, "a")], PAYLOAD))

    b1 = batch([("UPDATE", 1, "a1", 10, 0), ("INSERT", 2, "b", 11, 0)])
    b2 = batch([("DELETE", 2, None, 20, 0), ("UPDATE", 1, "a2", 21, 0)])
    sink.write_changes("users", b1, batch_id=1)
    sink.write_changes("users", b2, batch_id=2)
    assert {r["pk"]: r["val"] for r in sink.read("users")} == {1: "a2"}

    # IN CONTRACT: replaying the OLDER already-applied batch after the
    # newer one is absorbed by the applied_batches ledger — the tombstoned
    # key 2 stays dead, key 1 keeps the newer value
    sink.write_changes("users", b1, batch_id=1)
    assert {r["pk"]: r["val"] for r in sink.read("users")} == {1: "a2"}

    # the surviving row's sequence ALSO protects in-row staleness from a
    # never-applied old batch: key 1's stale image loses to _etl_seq
    stale_update = batch([("UPDATE", 1, "a0", 5, 0)])
    sink.write_changes("users", stale_update, batch_id=3)
    assert {r["pk"]: r["val"] for r in sink.read("users")} == {1: "a2"}

    # OUT OF CONTRACT (documented): a never-applied old batch carrying a
    # pre-tombstone image for key 2 resurrects it — nothing in the
    # warehouse remembers the deleted key's sequence. The pipeline's frame
    # queue never delivers this shape; the assertion pins the
    # boundary so a silent behavior change is caught.
    stale_insert = batch([("INSERT", 2, "b-old", 12, 0)])
    sink.write_changes("users", stale_insert, batch_id=4)
    assert {r["pk"]: r["val"] for r in sink.read("users")} == {1: "a2", 2: "b-old"}


def test_duckdb_merge_failure_releases_connection(spark, tmp_path):
    """A merge statement that raises after BEGIN must close its connection,
    which rolls the transaction back: while the exception (and so the
    failed call's frames) is still held, a read-only connection — a
    different configuration, which DuckDB refuses while a read-write one
    is open on the same file — must open and see the table unchanged."""
    import duckdb

    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    db = str(tmp_path / "wh.duckdb")
    # the key names a column the batch lacks: the merge's window binds it
    sink = DuckDBCurrentStateSink(db, keys={"users": ["no_such_col"]},
                                  staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot("users", spark.createDataFrame([(1, "a")], PAYLOAD))
    batch = spark.createDataFrame(
        [("UPDATE", 1, "a1", 10, 0)],
        "op string, pk long, val string, commit_lsn long, tx_ordinal long",
    ).selectExpr(
        "op", "pk", "val", "commit_lsn", "tx_ordinal",
        "CAST(commit_lsn AS DECIMAL(38,0)) * 18446744073709551616"
        " + tx_ordinal AS event_seq",
    )
    with pytest.raises(duckdb.Error) as excinfo:
        sink.write_changes("users", batch, batch_id=0)
    con = duckdb.connect(db, read_only=True)
    try:
        assert con.execute('SELECT pk, val FROM "users"').fetchall() == [(1, "a")]
        assert con.execute("SELECT count(*) FROM applied_batches").fetchone() == (0,)
    finally:
        con.close()
    assert excinfo.value is not None  # held until the read-only checks ran


def test_duckdb_scd2_sink(spark, tmp_path):
    """SCD2 at the SQL warehouse: event history + touched-key re-derive
    in one transaction, whole-batch replays absorbed by the ledger and
    PARTIAL replays by the (key, seq) event dedup; DDL reaches both the
    version table and the event history so later re-derivations see it."""
    import math

    from etl_spark.streaming.duckdb_sink import DuckDBScd2Sink

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "op string, pk long, val string, commit_lsn long, tx_ordinal long",
        ).selectExpr(
            "op", "pk", "val", "commit_lsn", "tx_ordinal",
            "CAST(commit_lsn AS DECIMAL(38,0)) * 18446744073709551616"
            " + tx_ordinal AS event_seq",
        )

    def vt(r):
        v = r["valid_to"]
        return None if v is None or (isinstance(v, float) and math.isnan(v)) else int(v)

    sink = DuckDBScd2Sink(str(tmp_path / "wh.duckdb"), keys={"users": ["pk"]},
                          staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot("users", spark.createDataFrame([(1, "a")], PAYLOAD))
    sink.write_changes("users", batch([("UPDATE", 1, "a1", 10, 0),
                                       ("INSERT", 2, "b", 11, 0)]), 1)
    b2 = batch([("DELETE", 2, None, 20, 0), ("UPDATE", 1, "a2", 21, 0)])
    sink.write_changes("users", b2, 2)
    sink.write_changes("users", b2, 2)  # whole-batch replay: ledger no-op
    # PARTIAL replay under a NEW batch id: the event-history dedup keeps
    # the duplicate (key, seq) rows inert — versions unchanged
    sink.write_changes("users", b2, 3)
    got = [
        (r["pk"], r["op"], int(r["valid_from"]), vt(r),
         bool(r["is_current"]), r["val"])
        for r in sorted(sink.read("users"),
                        key=lambda r: (r["pk"], r["valid_from"]))
    ]
    assert got == [
        (1, "INSERT", 0, 10, False, "a"),
        (1, "UPDATE", 10, 21, False, "a1"),
        (1, "UPDATE", 21, None, True, "a2"),
        (2, "INSERT", 11, 20, False, "b"),  # closed by the tombstone
    ]
    # DDL: rename reaches the version table AND the event history, so a
    # later batch (new column name) re-derives old versions correctly
    sink.apply_schema_change("users", renames=[("val", "amount")])
    post = batch([("UPDATE", 1, "a3", 30, 0)]).withColumnRenamed("val", "amount")
    sink.write_changes("users", post, 4)
    rows = sorted(sink.read("users"), key=lambda r: (r["pk"], r["valid_from"]))
    assert all("amount" in r and "val" not in r for r in rows)
    k1 = [(r["op"], int(r["valid_from"]), vt(r), r["amount"])
          for r in rows if r["pk"] == 1]
    assert k1 == [("INSERT", 0, 10, "a"), ("UPDATE", 10, 21, "a1"),
                  ("UPDATE", 21, 30, "a2"), ("UPDATE", 30, None, "a3")]


def test_duckdb_changelog_sink(spark, tmp_path):
    """Append-only warehouse changelog: every event exactly once under
    whole-batch replays (ledger) AND partial replays (per-event sequence
    dedup); no keyed merge ever happens."""
    from etl_spark.streaming.duckdb_sink import DuckDBChangelogSink

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "op string, pk long, val string, commit_lsn long, tx_ordinal long",
        ).selectExpr(
            "op", "pk", "val", "commit_lsn", "tx_ordinal",
            "CAST(commit_lsn AS DECIMAL(38,0)) * 18446744073709551616"
            " + tx_ordinal AS event_seq",
        )

    sink = DuckDBChangelogSink(str(tmp_path / "wh.duckdb"),
                               staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot("users", spark.createDataFrame([(1, "a")], PAYLOAD))
    b1 = batch([("UPDATE", 1, "a1", 10, 0), ("DELETE", 1, None, 10, 1),
                ("INSERT", 1, "a2", 11, 0)])
    sink.write_changes("users", b1, 1)
    sink.write_changes("users", b1, 1)   # whole-batch replay
    sink.write_changes("users", b1, 2)   # partial replay, new batch id
    got = sorted(
        ((r["op"], int(r["commit_lsn"]), int(r["tx_ordinal"]), r["val"])
         for r in sink.read("users")),
        key=lambda t: (t[1], t[2]),
    )
    assert got == [
        ("INSERT", 0, 0, "a"),           # snapshot stamp
        ("UPDATE", 10, 0, "a1"),
        ("DELETE", 10, 1, None),         # deletes KEPT (changelog fidelity)
        ("INSERT", 11, 0, "a2"),
    ]


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Streaming-native event-time aggregation: watermarked 1-hour windows
    over the change stream (the watermark bounds state for late data —
    beyond the reference's surface, which has no event-time aggs)."""
    import time as _time

    from pyspark.sql import functions as F
    from etl_spark.envelope import GENERIC_ENVELOPE, with_sequence

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = 1_700_000_000  # epoch secs
    rows = []
    for i, hour in enumerate([0, 0, 1, 1, 1, 2]):
        rows.append(Row(op="INSERT", table="users", commit_lsn=100 + i,
                        start_lsn=100 + i, tx_ordinal=0,
                        after=json.dumps({"pk": i, "ts_sec": base + hour * 3600 + i}),
                        before=None, before_kind=None, missing_cols=None,
                        schema_snapshot_lsn=None))
    write_events(spark, src, rows, "b1")

    stream = with_sequence(
        spark.readStream.schema(GENERIC_ENVELOPE).parquet(src))
    decoded = stream.withColumn(
        "evt_ts",
        F.timestamp_seconds(F.get_json_object("after", "$.ts_sec").cast("long")),
    )
    agg = (
        decoded.withWatermark("evt_ts", "30 minutes")
        .groupBy(F.window("evt_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("long").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("win_agg").option(
            "checkpointLocation", str(tmp_path / "ckpt")
        ).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    # tumbling windows align to the epoch, not to the first event:
    # base % 3600 = 800, so each hour's window starts 800s before it
    got = {r.w_start - base: r.n for r in spark.table("win_agg").collect()}
    assert got == {-800: 2, 2800: 3, 6400: 1}


def test_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState high-watermark dedup: replays of already-
    applied sequences are dropped ACROSS micro-batches (state persists),
    and intra-batch duplicates collapse to one emission."""
    from etl_spark.streaming.stateful import dedup_by_sequence

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    ck = str(tmp_path / "ck")

    def batch(name, rows):
        write_events(spark, src, rows, name)

    batch("b0", [
        ev("INSERT", "public.users", 10, 0, after={"pk": 1, "val": "a"}),
        ev("UPDATE", "public.users", 10, 1, after={"pk": 1, "val": "b"}),
        ev("UPDATE", "public.users", 10, 1, after={"pk": 1, "val": "b"}),  # intra-batch dup
        ev("INSERT", "public.users", 11, 0, after={"pk": 2, "val": "x"}),
    ])

    events = (
        spark.readStream.schema(GENERIC_ENVELOPE).parquet(src)
        .withColumn("pk", F.get_json_object("after", "$.pk").cast("long"))
    )
    deduped = dedup_by_sequence(events, ["table", "pk"])
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", ck).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got1 = spark.sql("select commit_lsn, tx_ordinal, pk from dedup_out order by 1,2").collect()
        assert [(r.commit_lsn, r.tx_ordinal, r.pk) for r in got1] == [
            (10, 0, 1), (10, 1, 1), (11, 0, 2)
        ]
        # batch 2: full replay of batch 1 + one stale straggler + one new event
        batch("b1", [
            ev("INSERT", "public.users", 10, 0, after={"pk": 1, "val": "a"}),   # replay
            ev("UPDATE", "public.users", 10, 1, after={"pk": 1, "val": "b"}),   # replay
            ev("UPDATE", "public.users", 9, 5, after={"pk": 2, "val": "old"}),  # stale
            ev("UPDATE", "public.users", 12, 0, after={"pk": 1, "val": "c"}),   # new
        ])
        q.processAllAvailable()
        got2 = spark.sql("select commit_lsn, tx_ordinal, pk from dedup_out order by 1,2").collect()
        assert [(r.commit_lsn, r.tx_ordinal, r.pk) for r in got2] == [
            (10, 0, 1), (10, 1, 1), (11, 0, 2), (12, 0, 1)
        ]
    finally:
        q.stop()


def test_replication_status_and_restart(spark, env):
    """§2.12 replication-status + restart verbs: a drained pipeline reports
    its table replicating at zero lag; draining again resumes from the
    durable queue record and applies only the new batch."""
    write_events(spark, env["source"], [
        ev("INSERT", "users", 40, 0, after={"pk": 7, "val": "r1"}),
    ], "b1")
    p = make_pipeline(spark, env)
    p.run_until_drained()
    rs = p.replication_status()
    u = rs["tables"]["users"]
    assert u["replicating"] and u["copied"] and u["state"] == "Ready"
    assert u["apply_lag"] == 0 and u["error"] is None
    assert rs["flush_lsn"] == 40

    write_events(spark, env["source"], [
        ev("UPDATE", "users", 41, 0, after={"pk": 7, "val": "r2"}),
    ], "b2")
    p.run_until_drained()
    assert current(env)[7] == "r2"
    assert p.replication_status()["flush_lsn"] == 41


def test_multi_table_pipeline_per_table_keys(spark, tmp_path):
    """Tables that declare DIFFERENT replica-identity keys merge each on
    ITS OWN keys — one keyed sink per table behind a router (a round-5
    bug merged every non-first table on table[0]'s keys)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap_u = str(tmp_path / "snap_u")
    snap_o = str(tmp_path / "snap_o")
    orders_schema = "oid long, line long, amt double"
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap_u)
    spark.createDataFrame([(1, 2, 5.0), (1, 3, 7.0)],
                          orders_schema).write.parquet(snap_o)
    write_events(spark, src, [
        ev("UPDATE", "users", 10, 0, after={"pk": 1, "val": "a1"}),
        # composite-key upsert: replaces (1,2) ONLY — with the wrong keys
        # (pk absent → users' keys) this would corrupt or collapse rows
        ev("UPDATE", "orders", 11, 0, after={"oid": 1, "line": 2, "amt": 9.0}),
        ev("INSERT", "orders", 12, 0, after={"oid": 2, "line": 1, "amt": 1.0}),
    ], "b1")
    root = str(tmp_path / "sink")
    sink = TableRoutingSink({
        "users": ParquetCurrentStateSink(root, keys=["pk"], spark=spark),
        "orders": ParquetCurrentStateSink(root, keys=["oid", "line"],
                                          spark=spark),
    })
    tables = [
        TableConfig(name="users", snapshot_path=snap_u, keys=["pk"],
                    payload_schema=PAYLOAD),
        TableConfig(name="orders", snapshot_path=snap_o, keys=["oid", "line"],
                    payload_schema=orders_schema),
    ]
    Pipeline(spark, src, tables, sink, str(tmp_path / "work")).run_until_drained()
    users = {r.pk: r.val for r in sink.read("users").select("pk", "val").collect()}
    orders = {(r.oid, r.line): r.amt
              for r in sink.read("orders").select("oid", "line", "amt").collect()}
    assert users == {1: "a1"}
    assert orders == {(1, 2): 9.0, (1, 3): 7.0, (2, 1): 1.0}


def test_rollback_destination_verb(spark, tmp_path):
    """rollback_to re-points a parquet-state table at a prior version as a
    metadata-only re-commit (version numbers stay linear) and refuses
    expired/never-existed versions."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap)
    write_events(spark, src, [
        ev("INSERT", "users", 10, 0, after={"pk": 2, "val": "b"}),
    ], "b1")
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    p = make_pipeline(spark, {"source": src, "snap": snap,
                              "work": str(tmp_path / "work"), "sink": sink})
    p.run_until_drained()
    v_cur = sink._current_version("users")
    assert v_cur >= 1
    before = {r.pk: r.val for r in sink.read("users").select("pk", "val").collect()}
    assert before == {1: "a", 2: "b"}

    nv = sink.rollback_to("users", 0)
    assert nv == v_cur + 1  # linear, never rewinds
    after = {r.pk: r.val for r in sink.read("users").select("pk", "val").collect()}
    assert after == {1: "a"}  # the pre-stream snapshot state

    with pytest.raises(FileNotFoundError):
        sink.rollback_to("users", 99)
