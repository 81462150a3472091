"""Control-plane verbs (§2.12, reference etl-api routes/pipelines.rs):
CRUD + validate + lifecycle over the durable pipeline registry."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import Row

from etl_spark.control_plane import (
    InvalidConfig,
    PipelineActive,
    PipelineNotFound,
    PipelineRegistry,
    validate_config,
)
from etl_spark.envelope import GENERIC_ENVELOPE

PAYLOAD = "pk long, val string"


def _config(src, sink_root, snap=None):
    return {
        "source_dir": src,
        "tables": [{"name": "users", "keys": ["pk"],
                    "payload_schema": PAYLOAD, "snapshot_path": snap}],
        "sink": {"kind": "parquet_current_state", "root": sink_root},
    }


def test_validate_config_catches_problems():
    assert validate_config({"source_dir": "", "tables": [], "sink": {}}) != []
    bad_key = {
        "source_dir": "/x",
        "tables": [{"name": "t", "keys": ["nope"], "payload_schema": PAYLOAD}],
        "sink": {"kind": "memory"},
    }
    assert any("missing from payload_schema" in p for p in validate_config(bad_key))
    good = {
        "source_dir": "/x",
        "tables": [{"name": "t", "keys": ["pk"], "payload_schema": PAYLOAD}],
        "sink": {"kind": "memory"},
    }
    assert validate_config(good) == []


def test_crud_version_and_guards(tmp_path):
    reg = PipelineRegistry(str(tmp_path / "cp"), max_pipelines=2)
    pid = reg.create_pipeline(_config("/src", str(tmp_path / "s")))
    assert reg.read_pipeline(pid)["version"] == 1
    assert reg.get_version(pid) == 1
    v2 = reg.update_pipeline(pid, _config("/src2", str(tmp_path / "s")))
    assert v2 == 2 and reg.read_pipeline(pid)["source_dir"] == "/src2"
    with pytest.raises(InvalidConfig):
        reg.create_pipeline({"source_dir": "", "tables": [], "sink": {}})
    pid2 = reg.create_pipeline(_config("/other", str(tmp_path / "s2")))
    # max-per-tenant guard (pipelines.rs MAX_PIPELINES_PER_TENANT)
    with pytest.raises(Exception, match="max pipelines"):
        reg.create_pipeline(_config("/third", str(tmp_path / "s3")))
    assert [p["id"] for p in reg.read_all_pipelines()] == [pid, pid2]
    reg.delete_pipeline(pid2)
    with pytest.raises(PipelineNotFound):
        reg.read_pipeline(pid2)
    # registry state survives restart
    reg2 = PipelineRegistry(str(tmp_path / "cp"))
    assert reg2.get_version(pid) == 2


def _write_env(spark, src, rows, name):
    staging = os.path.join(src, f".__stage_{name}")
    spark.createDataFrame(rows, schema=GENERIC_ENVELOPE) \
        .coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(staging)


def _ev(op, commit, after=None, before=None, kind=None):
    return Row(op=op, table="users", commit_lsn=commit, start_lsn=commit,
               tx_ordinal=0,
               after=json.dumps(after) if after else None,
               before=json.dumps(before) if before else None,
               before_kind=kind, missing_cols=None, schema_snapshot_lsn=None)


def test_lifecycle_start_status_stop_delete(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap)
    _write_env(spark, src, [
        _ev("INSERT", 10, after={"pk": 2, "val": "b"}),
        _ev("UPDATE", 11, after={"pk": 1, "val": "a1"}),
    ], "b1")

    reg = PipelineRegistry(str(tmp_path / "cp"))
    pid = reg.create_pipeline(_config(src, str(tmp_path / "sink"), snap=snap))
    p = reg.start_pipeline(pid, spark)          # availableNow: drains
    with pytest.raises(PipelineActive):
        reg.update_pipeline(pid, _config(src, str(tmp_path / "sink"), snap=snap))
    with pytest.raises(PipelineActive):
        reg.delete_pipeline(pid)
    st = reg.pipeline_status(pid)
    assert st["flush_lsn"] == 11
    got = {r.pk: r.val for r in p.sink.read("users").select("pk", "val").collect()}
    assert got == {1: "a1", 2: "b"}

    assert reg.stop_all_pipelines() == [pid]
    # stopped: durable status still readable (from the work dir)
    st2 = reg.pipeline_status(pid)
    assert st2["flush_lsn"] == 11 and st2["active"] is False
    work = reg._work_dir(pid)
    assert os.path.exists(work)
    reg.delete_pipeline(pid)                    # removes durable state too
    assert not os.path.exists(work)


def test_lifecycle_with_scd2_sink(spark, tmp_path):
    """The declarative config materializes an SCD2 destination: after a
    run, read() returns version rows with validity bounds."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap)
    _write_env(spark, src, [
        _ev("UPDATE", 10, after={"pk": 1, "val": "a1"}),
    ], "b1")
    reg = PipelineRegistry(str(tmp_path / "cp"))
    cfg = _config(src, str(tmp_path / "sink"), snap=snap)
    cfg["sink"]["kind"] = "parquet_scd2"
    pid = reg.create_pipeline(cfg)
    p = reg.start_pipeline(pid, spark)
    rows = {(r.pk, r.valid_from): (r.val, r.valid_to, bool(r.is_current))
            for r in p.sink.read("users").collect()}
    assert rows[(1, 0)] == ("a", 10, False)       # snapshot version closed
    assert rows[(1, 10)] == ("a1", None, True)    # stream version current
    reg.stop_all_pipelines()


def _ev_t(table, op, commit, ordinal=0, after=None, before=None, kind=None):
    return Row(op=op, table=table, commit_lsn=commit, start_lsn=commit,
               tx_ordinal=ordinal,
               after=json.dumps(after) if after else None,
               before=json.dumps(before) if before else None,
               before_kind=kind, missing_cols=None, schema_snapshot_lsn=None)


def test_multi_table_pipeline_per_table_keys(spark, tmp_path):
    """A multi-table config whose tables declare DIFFERENT replica-identity
    keys must merge each table on ITS OWN keys — one keyed sink per table
    (the round-5 bug merged every non-first table on table[0]'s keys)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap_u = str(tmp_path / "snap_u")
    snap_o = str(tmp_path / "snap_o")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap_u)
    spark.createDataFrame([(1, 2, 5.0), (1, 3, 7.0)],
                          "oid long, line long, amt double").write.parquet(snap_o)
    _write_env(spark, src, [
        _ev_t("users", "UPDATE", 10, 0, after={"pk": 1, "val": "a1"}),
        # composite-key upsert: replaces (1,2) ONLY — with the wrong keys
        # (pk absent → users' keys) this would corrupt or collapse rows
        _ev_t("orders", "UPDATE", 11, 0, after={"oid": 1, "line": 2, "amt": 9.0}),
        _ev_t("orders", "INSERT", 12, 0, after={"oid": 2, "line": 1, "amt": 1.0}),
    ], "b1")
    cfg = {
        "source_dir": src,
        "tables": [
            {"name": "users", "keys": ["pk"], "payload_schema": PAYLOAD,
             "snapshot_path": snap_u},
            {"name": "orders", "keys": ["oid", "line"],
             "payload_schema": "oid long, line long, amt double",
             "snapshot_path": snap_o},
        ],
        "sink": {"kind": "parquet_current_state", "root": str(tmp_path / "sink")},
    }
    assert validate_config(cfg) == []
    reg = PipelineRegistry(str(tmp_path / "cp"))
    pid = reg.create_pipeline(cfg)
    p = reg.start_pipeline(pid, spark)
    users = {r.pk: r.val for r in p.sink.read("users").select("pk", "val").collect()}
    orders = {(r.oid, r.line): r.amt
              for r in p.sink.read("orders").select("oid", "line", "amt").collect()}
    assert users == {1: "a1"}
    assert orders == {(1, 2): 9.0, (1, 3): 7.0, (2, 1): 1.0}
    reg.stop_all_pipelines()


def test_lifecycle_with_changelog_sink(spark, tmp_path):
    """`parquet_changelog` as a declarative sink kind: config round-trip,
    start/stop, and the append-only changelog shape on read."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap)
    _write_env(spark, src, [
        _ev("UPDATE", 10, after={"pk": 1, "val": "a1"}),
        _ev("DELETE", 11, before={"pk": 1}, kind="KEY"),
    ], "b1")
    cfg = _config(src, str(tmp_path / "sink"), snap=snap)
    cfg["sink"]["kind"] = "parquet_changelog"
    assert validate_config(cfg) == []
    bad = dict(cfg, sink={"kind": "parquet_changelog"})
    assert any("requires root" in p for p in validate_config(bad))
    reg = PipelineRegistry(str(tmp_path / "cp"))
    pid = reg.create_pipeline(cfg)
    p = reg.start_pipeline(pid, spark)
    # registry round-trip preserved the sink kind
    assert reg.read_pipeline(pid)["sink"]["kind"] == "parquet_changelog"
    log = p.sink.read("users")
    ops = [r.cdc_operation for r in log.orderBy("cdc_sequence").collect()
           if r.cdc_operation in ("UPDATE", "DELETE")]
    assert ops == ["UPDATE", "DELETE"]   # every event kept, ordered
    reg.stop_all_pipelines()


def test_tenant_source_destination_registries(spark, tmp_path):
    """Resource routes (tenants.rs / sources.rs / destinations.rs):
    CRUD, per-tenant pipeline caps, reference resolution at start, and
    the in-use delete guards (SourceInUse / DestinationInUse analog)."""
    from etl_spark.control_plane import ResourceInUse, ResourceNotFound

    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap)
    _write_env(spark, src, [_ev("UPDATE", 10, after={"pk": 1, "val": "a1"})], "b1")

    reg = PipelineRegistry(str(tmp_path / "cp"), max_pipelines=1)
    # tenants
    reg.create_tenant("acme", "Acme Inc")
    with pytest.raises(Exception, match="already exists"):
        reg.create_tenant("acme", "dup")
    reg.update_tenant("acme", "Acme Renamed")
    assert reg.read_tenant("acme")["name"] == "Acme Renamed"
    # sources + destinations
    sid = reg.create_source("events feed", {"source_dir": src})
    did = reg.create_destination("warehouse", {
        "kind": "parquet_current_state", "root": str(tmp_path / "sink")})
    with pytest.raises(Exception, match="requires root"):
        reg.create_destination("bad", {"kind": "parquet_scd2"})
    assert reg.read_all_sources()[0]["name"] == "events feed"
    # pipeline BY REFERENCE: no inline source_dir/sink
    cfg = {
        "tenant_id": "acme", "source_id": sid, "destination_id": did,
        "tables": [{"name": "users", "keys": ["pk"],
                    "payload_schema": PAYLOAD, "snapshot_path": snap}],
    }
    pid = reg.create_pipeline(cfg)
    # per-tenant cap: a DIFFERENT tenant still has room at max_pipelines=1
    reg.create_tenant("other", "Other")
    cfg2 = dict(cfg, tenant_id="other")
    pid2 = reg.create_pipeline(cfg2)
    with pytest.raises(Exception, match="max pipelines"):
        reg.create_pipeline(dict(cfg))  # acme is full
    # resolution at start: the referenced source/destination materialize
    p = reg.start_pipeline(pid, spark)
    got = {r.pk: r.val for r in p.sink.read("users").select("pk", "val").collect()}
    assert got == {1: "a1"}
    # in-use guards
    with pytest.raises(Exception):           # active pipeline
        reg.delete_source(sid)
    reg.stop_all_pipelines()
    with pytest.raises(ResourceInUse):       # still referenced
        reg.delete_source(sid)
    with pytest.raises(ResourceInUse):
        reg.delete_destination(did)
    with pytest.raises(ResourceInUse):       # tenant owns pipelines
        reg.delete_tenant("acme")
    reg.delete_pipeline(pid)
    reg.delete_pipeline(pid2)
    reg.delete_source(sid)
    reg.delete_destination(did)
    reg.delete_tenant("acme")
    with pytest.raises(ResourceNotFound):
        reg.read_source(sid)
    # registry state (incl. resources) survives restart
    reg2 = PipelineRegistry(str(tmp_path / "cp"))
    assert reg2.read_all_tenants() == [{"id": "other", "name": "Other"}]


def test_source_update_repoints_referencing_pipeline(spark, tmp_path):
    """The stored-config model: updating a source re-points every
    referencing pipeline on its NEXT start (resolution is deploy-time,
    like the reference building a replicator from resource rows)."""
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    os.makedirs(src1), os.makedirs(src2)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap)
    _write_env(spark, src1, [_ev("UPDATE", 10, after={"pk": 1, "val": "from1"})], "b1")
    _write_env(spark, src2, [_ev("UPDATE", 20, after={"pk": 1, "val": "from2"})], "b1")
    reg = PipelineRegistry(str(tmp_path / "cp"))
    sid = reg.create_source("feed", {"source_dir": src1})
    pid = reg.create_pipeline({
        "source_id": sid,
        "tables": [{"name": "users", "keys": ["pk"],
                    "payload_schema": PAYLOAD, "snapshot_path": snap}],
        "sink": {"kind": "memory"},
    })
    p1 = reg.start_pipeline(pid, spark)
    vals1 = {r["val"] for _t, _b, rows in p1.sink.batches for r in rows}
    assert vals1 == {"from1"}
    reg.stop_pipeline(pid)
    reg.update_source(sid, "feed", {"source_dir": src2})
    # fresh work dir via delete/create would re-sync; here the checkpoint
    # is per-pipeline, so just verify materialization sees the new dir
    p2 = reg._materialize(pid, spark)
    assert p2.source_dir == src2


def test_run_maintenance_verb(spark, tmp_path):
    """External maintenance (ducklake/external_maintenance.rs analog):
    compaction folds the manifest chain, expiry reclaims superseded dirs,
    content survives, and the verb is refused while the pipeline runs."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(i, f"s{i}") for i in range(20)], PAYLOAD).write.parquet(snap)
    for b in range(3):  # three files -> three micro-batches of updates
        _write_env(spark, src, [
            _ev("UPDATE", 10 + b, after={"pk": b, "val": f"u{b}"})], f"b{b}")
    reg = PipelineRegistry(str(tmp_path / "cp"))
    pid = reg.create_pipeline(_config(src, str(tmp_path / "sink"), snap=snap))
    p = reg.start_pipeline(pid, spark)
    with pytest.raises(PipelineActive):
        reg.run_maintenance(pid, spark)
    reg.stop_pipeline(pid)
    sink_tdir = str(tmp_path / "sink" / "users")
    dirs_before = sorted(d for d in os.listdir(sink_tdir) if d.startswith("v"))
    report = reg.run_maintenance(pid, spark, keep_versions=1)
    assert report["users"]["compacted"]
    assert report["users"]["removed_dirs"]  # superseded dirs reclaimed
    # restart the pipeline: it reads the compacted table and still works
    p2 = reg.start_pipeline(pid, spark)
    got = {r.pk: r.val for r in p2.sink.read("users").select("pk", "val").collect()}
    want = {i: f"s{i}" for i in range(20)} | {b: f"u{b}" for b in range(3)}
    assert got == want
    reg.stop_all_pipelines()


def test_rollback_destination_verb(spark, tmp_path):
    """rollback_destination composes time-travel with the rollback verb:
    re-points a stopped pipeline's parquet-state table at a prior version
    (metadata-only re-commit — version numbers stay linear), refuses while
    running, and refuses expired/never-existed versions."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], PAYLOAD).write.parquet(snap)
    _write_env(spark, src, [
        _ev("INSERT", 10, after={"pk": 2, "val": "b"}),
    ], "b1")
    reg = PipelineRegistry(str(tmp_path / "cp"))
    pid = reg.create_pipeline(_config(src, str(tmp_path / "sink"), snap=snap))
    p = reg.start_pipeline(pid, spark)
    with pytest.raises(PipelineActive):
        reg.rollback_destination(pid, spark, "users", 0)
    reg.stop_all_pipelines()
    v_cur = p.sink._current_version("users")
    assert v_cur >= 1
    before = {r.pk: r.val for r in p.sink.read("users").select("pk", "val").collect()}
    assert before == {1: "a", 2: "b"}

    nv = reg.rollback_destination(pid, spark, "users", 0)
    assert nv == v_cur + 1  # linear, never rewinds
    after = {r.pk: r.val for r in p.sink.read("users").select("pk", "val").collect()}
    assert after == {1: "a"}  # the pre-stream snapshot state

    with pytest.raises(InvalidConfig, match="expired or never existed"):
        reg.rollback_destination(pid, spark, "users", 99)


def test_run_maintenance_rebucket(spark, tmp_path):
    """run_maintenance(rebucket_to=N) migrates every table of the parquet
    state destination to N buckets (bucket evolution for a table that
    outgrew its creation-time count), preserving content; the next
    pipeline run merges at the manifest-pinned new count."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(i, f"s{i}") for i in range(20)], PAYLOAD).write.parquet(snap)
    _write_env(spark, src, [
        _ev("UPDATE", 10, after={"pk": 1, "val": "u1"})], "b0")
    reg = PipelineRegistry(str(tmp_path / "cp"))
    pid = reg.create_pipeline(_config(src, str(tmp_path / "sink"), snap=snap))
    p = reg.start_pipeline(pid, spark)
    reg.stop_pipeline(pid)
    report = reg.run_maintenance(pid, spark, keep_versions=1, rebucket_to=64)
    assert report["users"]["n_buckets"] == 64
    tdir = str(tmp_path / "sink" / "users")
    with open(os.path.join(tdir, "VERSION")) as f:
        v = json.load(f)["version"]
    with open(os.path.join(tdir, f"manifest_v{v}.json")) as f:
        assert json.load(f)["n_buckets"] == 64
    _write_env(spark, src, [
        _ev("UPDATE", 11, after={"pk": 2, "val": "u2"})], "b1")
    p2 = reg.start_pipeline(pid, spark)
    got = {r.pk: r.val for r in p2.sink.read("users").select("pk", "val").collect()}
    want = {i: f"s{i}" for i in range(20)} | {1: "u1", 2: "u2"}
    assert got == want
    reg.stop_all_pipelines()
