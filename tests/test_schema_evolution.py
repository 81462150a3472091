"""DDL matrix (add / rename / drop / default) through the destination
sinks — the reference applies ``SchemaDiff`` at destinations
(crates/etl/src/schema.rs:729-784, docs schema-changes.md:20-30: rename is
detected by ordinal match, never treated as drop+add).

The bucket-manifest sinks apply RENAME/DROP/DEFAULT as a manifest-only
commit (``ddl_log`` + per-dir epochs, zero data rewrite); before this, a
mid-stream rename silently NULLed renamed values in touched buckets and
dropped the new column — the one silent-data-loss path the round-6 review
found."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from etl_spark.envelope import GENERIC_ENVELOPE, with_sequence
from etl_spark.streaming.sinks import (
    MemorySink,
    ParquetCurrentStateSink,
    ParquetScd2Sink,
    Sink,
    TableRoutingSink,
)

SCHEMA = "op string, commit_lsn long, tx_ordinal long, pk long, val string"


def _batch(spark, rows, schema=SCHEMA):
    return with_sequence(spark.createDataFrame(rows, schema))


@pytest.fixture()
def cs_sink(spark, tmp_path):
    sink = ParquetCurrentStateSink(str(tmp_path / "wh"), keys=["pk"], spark=spark)
    sink.write_snapshot(
        "t", _batch(spark, [("INSERT", 1, 0, 1, "a"), ("INSERT", 1, 1, 2, "b")])
    )
    return sink


def test_current_state_rename_preserves_stored_values(spark, cs_sink):
    """Rename val→amount mid-stream: post-DDL batches carry ``amount``;
    stored pre-DDL rows read back under ``amount`` (not NULL), including
    rows in buckets the post-DDL batch never touched."""
    cs_sink.apply_schema_change("t", renames=[("val", "amount")])
    cs_sink.write_changes(
        "t",
        _batch(spark, [("UPDATE", 2, 0, 1, "a2")],
               "op string, commit_lsn long, tx_ordinal long, pk long, amount string"),
        batch_id=0,
    )
    got = {r.pk: r.amount for r in cs_sink.read("t").select("pk", "amount").collect()}
    assert got == {1: "a2", 2: "b"}  # pk=2's bucket was never rewritten
    assert "val" not in cs_sink.read("t").columns


def test_current_state_rename_is_metadata_only(spark, cs_sink, tmp_path):
    """The rename commit writes NO data files — only a manifest + pointer."""
    tdir = str(tmp_path / "wh" / "t")
    files_before = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(tdir) for f in fs
        if f.endswith(".parquet")
    )
    cs_sink.apply_schema_change("t", renames=[("val", "amount")])
    files_after = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(tdir) for f in fs
        if f.endswith(".parquet")
    )
    assert files_after == files_before
    assert not os.path.isdir(os.path.join(tdir, "v1"))  # manifest-only
    manifest = json.load(open(os.path.join(tdir, "manifest_v1.json")))
    assert manifest["ddl_log"] == [{"op": "rename", "from": "val", "to": "amount"}]


def test_current_state_drop_then_readd(spark, cs_sink):
    """DROP projects the stored column away; a later re-ADD must NOT
    resurrect pre-drop values (old dirs' physical column stays dropped,
    new rows carry the fresh column)."""
    cs_sink.apply_schema_change("t", drops=["val"])
    assert "val" not in cs_sink.read("t").columns
    cs_sink.write_changes(
        "t", _batch(spark, [("UPDATE", 2, 0, 1, "NEW")]), batch_id=0
    )
    got = {r.pk: r.val for r in cs_sink.read("t").select("pk", "val").collect()}
    assert got == {1: "NEW", 2: None}  # pk=2: pre-drop "b" must NOT resurface


def test_current_state_add_default_backfills_old_rows(spark, cs_sink):
    """ADD COLUMN .. DEFAULT: pre-DDL rows read the default without any
    rewrite (PG attmissingval semantics); post-DDL rows keep their values."""
    cs_sink.apply_schema_change("t", defaults=[("tier", "basic", "string")])
    cs_sink.write_changes(
        "t",
        _batch(spark, [("INSERT", 2, 0, 3, "c", "gold")],
               SCHEMA + ", tier string"),
        batch_id=0,
    )
    got = {r.pk: r.tier for r in cs_sink.read("t").select("pk", "tier").collect()}
    assert got == {1: "basic", 2: "basic", 3: "gold"}


def test_key_rename_keeps_bucket_matching(spark, cs_sink):
    """Renaming the KEY column must keep hashing to the same buckets: a
    post-rename update of an existing key merges (no duplicate row)."""
    cs_sink.apply_schema_change("t", renames=[("pk", "id")])
    assert cs_sink.keys == ["id"]
    cs_sink.write_changes(
        "t",
        _batch(spark, [("UPDATE", 2, 0, 1, "a2")],
               "op string, commit_lsn long, tx_ordinal long, id long, val string"),
        batch_id=0,
    )
    rows = cs_sink.read("t").select("id", "val").collect()
    assert {r.id: r.val for r in rows} == {1: "a2", 2: "b"}
    assert len(rows) == 2  # merged, not duplicated under a new bucket


def test_drop_key_column_rejected(spark, cs_sink):
    with pytest.raises(ValueError, match="key column"):
        cs_sink.apply_schema_change("t", drops=["pk"])


def test_ddl_replay_is_idempotent(spark, cs_sink, tmp_path):
    """Re-delivery of the same DDL (crash between sink commit and registry
    commit) must not double-append to the log or re-rename."""
    cs_sink.apply_schema_change("t", renames=[("val", "amount")])
    v1 = cs_sink._current_version("t")
    cs_sink.keys = ["pk"]  # fresh-process state
    cs_sink.apply_schema_change("t", renames=[("val", "amount")])
    manifest = cs_sink._manifest("t", cs_sink._current_version("t"))
    assert manifest["ddl_log"] == [{"op": "rename", "from": "val", "to": "amount"}]
    assert cs_sink._current_version("t") == v1  # no new version committed
    assert {r.pk: r.amount for r in cs_sink.read("t").collect()} == {1: "a", 2: "b"}


def test_time_travel_reads_pre_rename_schema(spark, cs_sink):
    """read_version before the rename shows the OLD column name — each
    manifest carries its own ddl_log prefix."""
    v0 = cs_sink._current_version("t")
    cs_sink.apply_schema_change("t", renames=[("val", "amount")])
    assert "val" in cs_sink.read_version("t", v0).columns
    assert "amount" in cs_sink.read("t").columns


def test_scd2_rename_mid_stream(spark, tmp_path):
    """SCD2: versions opened before the rename and versions opened after
    both surface under the NEW name, with validity closure intact."""
    sink = ParquetScd2Sink(str(tmp_path / "scd2"), keys=["pk"], spark=spark)
    sink.write_snapshot("t", spark.createDataFrame([], "pk long, val string"))
    sink.write_changes(
        "t", _batch(spark, [("INSERT", 10, 0, 1, "a"), ("INSERT", 10, 1, 2, "b")]),
        batch_id=0,
    )
    sink.apply_schema_change("t", renames=[("val", "amount")])
    sink.write_changes(
        "t",
        _batch(spark, [("UPDATE", 20, 0, 1, "a2")],
               "op string, commit_lsn long, tx_ordinal long, pk long, amount string"),
        batch_id=1,
    )
    hist = sink.read("t").select(
        "pk", "amount", "valid_from", "valid_to", "is_current"
    ).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r.pk, []).append(r)
    v1 = sorted(by_key[1], key=lambda r: r.valid_from)
    assert [(r.amount, r.valid_to, r.is_current) for r in v1] == [
        ("a", 20, False), ("a2", None, True)
    ]
    assert [(r.amount, r.is_current) for r in by_key[2]] == [("b", True)]


def test_scd2_drop_column(spark, tmp_path):
    sink = ParquetScd2Sink(str(tmp_path / "scd2"), keys=["pk"], spark=spark)
    sink.write_snapshot("t", spark.createDataFrame([], "pk long, val string, extra string"))
    sink.write_changes(
        "t",
        _batch(spark, [("INSERT", 10, 0, 1, "a", "x")], SCHEMA + ", extra string"),
        batch_id=0,
    )
    sink.apply_schema_change("t", drops=["extra"])
    sink.write_changes(
        "t", _batch(spark, [("UPDATE", 20, 0, 1, "a2")]), batch_id=1
    )
    cols = sink.read("t").columns
    assert "extra" not in cols
    cur = [r for r in sink.read("t").collect() if r.is_current]
    assert [(r.pk, r.val) for r in cur] == [(1, "a2")]


def test_base_sink_refuses_rename_loudly(spark):
    class Dumb(Sink):
        def write_snapshot(self, table, df):  # pragma: no cover
            pass

        def write_changes(self, table, df, batch_id):  # pragma: no cover
            pass

    with pytest.raises(NotImplementedError, match="rename"):
        Dumb().apply_schema_change("t", renames=[("a", "b")])
    Dumb().apply_schema_change("t")  # empty diff: no-op, no error


def test_routing_sink_routes_ddl(spark):
    mem = MemorySink()
    routing = TableRoutingSink({"users": mem})
    routing.apply_schema_change("users", renames=[("a", "b")], drops=["c"])
    assert mem.ddl == [("users", [("a", "b")], ["c"], [])]


def test_duckdb_sink_alter_table(spark, tmp_path):
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    sink = DuckDBCurrentStateSink(
        str(tmp_path / "wh.duckdb"), keys={"t": ["pk"]},
        staging_dir=str(tmp_path / "stage"),
    )
    sink.write_snapshot("t", spark.createDataFrame([(1, "a"), (2, "b")], "pk long, val string"))
    sink.apply_schema_change(
        "t", renames=[("val", "amount")], defaults=[("tier", "basic", "VARCHAR")]
    )
    rows = {r["pk"]: (r["amount"], r["tier"]) for r in sink.read("t")}
    assert rows == {1: ("a", "basic"), 2: ("b", "basic")}
    # replayed DDL is a no-op (rename source gone, default column present)
    sink.apply_schema_change(
        "t", renames=[("val", "amount")], defaults=[("tier", "basic", "VARCHAR")]
    )
    assert {r["pk"]: r["amount"] for r in sink.read("t")} == {1: "a", 2: "b"}


def test_pipeline_relation_rename_reaches_sink(spark, tmp_path):
    """End-to-end: a mid-stream RELATION renaming val→val2 (same ordinal,
    same type — schema.rs:762-784 rename detection) must remap the
    destination, so pre-DDL rows surface under val2 alongside post-DDL
    values. This is the exact silent-data-loss scenario from the round-6
    review, now hash-exact."""
    import shutil

    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    source = str(tmp_path / "source")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a"), (2, "b")], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)

    newcols = {"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 1},
        {"name": "val2", "typ": "string"},
    ]}
    rows = [
        Row(op="UPDATE", table="users", commit_lsn=40, start_lsn=40,
            tx_ordinal=0, after=json.dumps({"pk": 1, "val": "a1"}), before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=None),
        Row(op="RELATION", table="users", commit_lsn=41, start_lsn=41,
            tx_ordinal=0, after=json.dumps(newcols), before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=41),
        Row(op="UPDATE", table="users", commit_lsn=42, start_lsn=42,
            tx_ordinal=0, after=json.dumps({"pk": 2, "val2": "b2"}), before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=None),
    ]
    staging = os.path.join(source, ".__stage")
    spark.createDataFrame(rows, schema=GENERIC_ENVELOPE).coalesce(1).write.parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(source, "b1.parquet"))
    shutil.rmtree(staging)

    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    p = Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"))
    p.run_until_drained()

    out = sink.read("users")
    assert "val" not in out.columns
    got = {r.pk: r.val2 for r in out.select("pk", "val2").collect()}
    # pk=1: pre-DDL value preserved UNDER THE NEW NAME; pk=2: post-DDL value
    assert got == {1: "a1", 2: "b2"}


@pytest.mark.parametrize("seed", [5, 31])
def test_ddl_log_matches_model_under_random_ops(spark, tmp_path, seed):
    """Model-based randomized check of the DDL log: a seeded interleaving
    of batches, renames (chained), drop/re-add with defaults, sink-object
    restarts, replays, and compaction drives ParquetCurrentStateSink and
    a driver-side model of the OBSERVABLE table (current column names +
    per-row values, with attmissingval default semantics); after every
    step the stored table must equal the model exactly."""
    import random

    from pyspark.sql import functions as F

    from etl_spark.envelope import with_sequence

    rng = random.Random(seed)
    root = str(tmp_path / f"ddl{seed}")
    sink = ParquetCurrentStateSink(root, keys=["pk"], spark=spark, n_buckets=8)
    sink.write_snapshot(
        "t",
        spark.createDataFrame([(pk, f"s{pk}") for pk in range(8)],
                              "pk long, val0 string"),
    )
    val_name = "val0"
    val_gen = 0
    has_extra = False
    model = {pk: {"v": f"s{pk}", "x": None} for pk in range(8)}
    lsn, batch_id = 10, 0
    last = None

    def read_back():
        df = sink.read("t")
        cols = set(df.columns)
        rows = {
            r["pk"]: {
                "v": r[val_name],
                "x": r["extra"] if "extra" in cols else None,
            }
            for r in df.collect()
        }
        return cols, rows

    model_nn: dict[str, bool] = {}  # expected current_nullability view
    for step in range(14):
        action = rng.choices(
            ["batch", "rename", "toggle_extra", "restart", "replay", "compact",
             "set_nullable"],
            weights=[6, 2, 2, 2, 1, 1, 1],
        )[0]
        if action == "batch" or last is None:
            schema = f"op string, commit_lsn long, tx_ordinal long, pk long, {val_name} string"
            if has_extra:
                schema += ", extra string"
            events = []
            for i in range(rng.randint(1, 4)):
                pk = rng.randint(0, 11)
                kind = rng.choice(["UPDATE", "DELETE"])
                if kind == "DELETE":
                    model.pop(pk, None)
                    row = ("DELETE", lsn, i, pk, None) + ((None,) if has_extra else ())
                else:
                    v = f"v{lsn}_{pk}"
                    x = f"x{lsn}_{pk}" if has_extra and rng.random() < 0.7 else None
                    model[pk] = {"v": v, "x": x if has_extra else None}
                    row = ("UPDATE", lsn, i, pk, v) + ((x,) if has_extra else ())
                events.append(row)
            lsn += 1
            batch_id += 1
            batch = with_sequence(spark.createDataFrame(events, schema))
            sink.write_changes("t", batch, batch_id)
            last = (batch_id, events, schema)
        elif action == "rename":
            new = f"val{val_gen + 1}"
            sink.apply_schema_change("t", renames=[(val_name, new)])
            if val_name in model_nn:
                model_nn[new] = model_nn.pop(val_name)
            val_name, val_gen = new, val_gen + 1
        elif action == "set_nullable":
            nn = rng.random() < 0.5
            sink.apply_schema_change("t", nullability=[(val_name, nn)])
            model_nn[val_name] = nn
        elif action == "toggle_extra":
            if has_extra:
                sink.apply_schema_change("t", drops=["extra"])
                has_extra = False
                model_nn.pop("extra", None)
                for r in model.values():
                    r["x"] = None
            else:
                sink.apply_schema_change(
                    "t", defaults=[("extra", "dflt", "string")]
                )
                has_extra = True
                for r in model.values():
                    r["x"] = "dflt"  # lazy default backfills existing rows
        elif action == "restart":
            sink = ParquetCurrentStateSink(root, keys=["pk"], spark=spark)
        elif action == "replay":
            bid, events, schema = last
            sink.write_changes(
                "t", with_sequence(spark.createDataFrame(events, schema)), bid
            )
        elif action == "compact":
            sink.compact("t")

        cols, rows = read_back()
        assert val_name in cols and ("extra" in cols) == has_extra, (
            f"seed={seed} step={step} action={action} cols={cols}"
        )
        want = {
            pk: {"v": r["v"], "x": r["x"] if has_extra else None}
            for pk, r in model.items()
        }
        got = {pk: {"v": r["v"], "x": r["x"] if has_extra else None}
               for pk, r in rows.items()}
        assert got == want, f"seed={seed} step={step} action={action}"
        assert sink.current_nullability("t") == model_nn, (
            f"seed={seed} step={step} action={action}"
        )


def test_pipeline_rename_survives_full_replay(spark, tmp_path):
    """Checkpoint wiped after a rename-bearing batch: the full replay
    re-delivers the RELATION and every row event. The registry dedups the
    version, the sink's DDL tail-idempotence absorbs the replayed rename,
    and the destination converges to the same state (the reference's
    missing-status-update failpoint scenario, applied to DDL)."""
    import shutil

    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    source = str(tmp_path / "source")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    newcols = {"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 1},
        {"name": "val2", "typ": "string"},
    ]}
    rows = [
        Row(op="RELATION", table="users", commit_lsn=41, start_lsn=41,
            tx_ordinal=0, after=json.dumps(newcols), before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=41),
        Row(op="UPDATE", table="users", commit_lsn=42, start_lsn=42,
            tx_ordinal=0, after=json.dumps({"pk": 1, "val2": "a2"}), before=None,
            before_kind=None, missing_cols=None, schema_snapshot_lsn=None),
    ]
    staging = os.path.join(source, ".__stage")
    spark.createDataFrame(rows, schema=GENERIC_ENVELOPE).coalesce(1).write.parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(source, "b1.parquet"))
    shutil.rmtree(staging)

    def mk():
        cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                          payload_schema="pk long, val string")
        return Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"))

    p = mk()
    p.run_until_drained()
    first = {r.pk: r.val2 for r in sink.read("users").select("pk", "val2").collect()}
    assert first == {1: "a2"}
    versions_first = {t: [lsn for lsn, _ in vs] for t, vs in p.schemas._versions.items()}
    log_first = sink._manifest("users", sink._current_version("users"))["ddl_log"]

    os.remove(p.frame_queue.path)  # missing status update → full replay
    p2 = mk()
    p2.run_until_drained()
    assert {r.pk: r.val2 for r in sink.read("users").select("pk", "val2").collect()} == first
    assert {t: [lsn for lsn, _ in vs] for t, vs in p2.schemas._versions.items()} \
        == versions_first
    # the replayed DDL did not double-append
    assert sink._manifest("users", sink._current_version("users"))["ddl_log"] == log_first


def _drop_batch(spark, source: str, rows, name: str) -> None:
    import shutil

    staging = os.path.join(source, ".__stage")
    spark.createDataFrame(rows, schema=GENERIC_ENVELOPE).coalesce(1) \
        .write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(source, name))
    shutil.rmtree(staging)


def _row(op, lsn, after=None, before=None, kind=None, rel=None):
    return Row(
        op=op, table="users", commit_lsn=lsn, start_lsn=lsn, tx_ordinal=0,
        after=json.dumps(after if rel is None else rel),
        before=json.dumps(before) if before else None,
        before_kind=kind, missing_cols=None,
        schema_snapshot_lsn=lsn if rel is not None else None,
    )


def test_pipeline_key_rename_mid_stream(spark, tmp_path):
    """Renaming the KEY column (pk→id, same ordinal) must remap cfg.keys
    alongside the sink and payload_schema: the decode looks up
    types[cfg.keys[i]] and builds __before_{key} images — a stale key
    name KeyErrors on the first post-DDL batch (stream crash-loop)."""
    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    source = str(tmp_path / "src")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a"), (2, "b")], "pk long, val string") \
        .write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)

    rel = {"columns": [
        {"name": "id", "typ": "long", "pk_ordinal": 1},
        {"name": "val", "typ": "string"},
    ]}
    _drop_batch(spark, source, [
        _row("UPDATE", 40, after={"pk": 1, "val": "a1"}),
        _row("RELATION", 41, rel=rel),
        _row("UPDATE", 42, after={"id": 2, "val": "b2"}),
        _row("DELETE", 43, before={"id": 1}, kind="KEY"),
    ], "b1.parquet")

    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    p = Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"))
    p.run_until_drained()

    assert cfg.keys == ["id"]
    assert sink.keys == ["id"]
    out = sink.read("users")
    assert "pk" not in out.columns
    got = {r.id: r.val for r in out.select("id", "val").collect()}
    assert got == {2: "b2"}  # id=1 deleted post-rename by its NEW key name


def test_pipeline_key_rename_survives_restart(spark, tmp_path):
    """A restarted pipeline is rebuilt from the STORED config, whose keys
    predate the mid-stream key rename; hydrate_schemas must walk the
    registry's rename chain so the restart decodes and merges on the
    current key name instead of KeyError-ing."""
    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    source = str(tmp_path / "src")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a"), (2, "b")], "pk long, val string") \
        .write.parquet(snap)
    sink_root = str(tmp_path / "sink")
    work = str(tmp_path / "work")
    rel = {"columns": [
        {"name": "id", "typ": "long", "pk_ordinal": 1},
        {"name": "val", "typ": "string"},
    ]}
    _drop_batch(spark, source, [
        _row("RELATION", 41, rel=rel),
        _row("UPDATE", 42, after={"id": 1, "val": "a1"}),
    ], "b1.parquet")
    sink = ParquetCurrentStateSink(sink_root, keys=["pk"], spark=spark)
    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    Pipeline(spark, source, [cfg], sink, work).run_until_drained()

    # restart from the ORIGINAL (now stale) config — fresh objects; the
    # pipeline's hydrate walks the registry rename chain and reconciles
    # BOTH cfg.keys and the freshly-built sink's keys (no manual sync)
    _drop_batch(spark, source, [
        _row("UPDATE", 50, after={"id": 2, "val": "b2"}),
    ], "b2.parquet")
    sink2 = ParquetCurrentStateSink(sink_root, keys=["pk"], spark=spark)
    cfg2 = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                       payload_schema="pk long, val string")
    p2 = Pipeline(spark, source, [cfg2], sink2, work)
    p2.run_until_drained()
    assert cfg2.keys == ["id"]
    assert sink2.keys == ["id"]
    got = {r.id: r.val for r in sink2.read("users").select("id", "val").collect()}
    assert got == {1: "a1", 2: "b2"}


def test_rename_then_readd_old_name(spark, tmp_path):
    """rename val→val2, then ADD a NEW column named val: the old name is
    live again, so it must leave val2's alias chain — keeping it would
    duplicate the from_json parse field (invalid schema) and bleed the
    new val's values into val2 on pre-DDL rows."""
    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    source = str(tmp_path / "src")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "old1"), (9, "old9")], "pk long, val string") \
        .write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    rel1 = {"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 1},
        {"name": "val2", "typ": "string"},
    ]}
    rel2 = {"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 1},
        {"name": "val2", "typ": "string"},
        {"name": "val", "typ": "string", "default": "fresh"},
    ]}
    _drop_batch(spark, source, [
        _row("RELATION", 41, rel=rel1),
        _row("INSERT", 42, after={"pk": 2, "val2": "two"}),
        _row("RELATION", 43, rel=rel2),
        # the new val column carries its own values; val2 must NOT read them
        _row("INSERT", 44, after={"pk": 3, "val2": "three", "val": "new3"}),
        _row("UPDATE", 45, after={"pk": 1, "val2": "one", "val": "new1"}),
    ], "b1.parquet")
    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    p = Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"))
    p.run_until_drained()
    out = {r.pk: (r.val2, r.val)
           for r in sink.read("users").select("pk", "val2", "val").collect()}
    assert out == {
        1: ("one", "new1"),
        2: ("two", "fresh"),   # pre-re-add row reads the ADD..DEFAULT
        3: ("three", "new3"),
        9: ("old9", "fresh"),  # snapshot row: renamed, then defaulted
    }


def test_duckdb_default_backfill_is_transactional(spark, tmp_path):
    """ADD COLUMN + backfill UPDATE commit atomically: a failing backfill
    (bad cast) must roll back the ADD too, so the retry actually re-runs
    both — autocommitted halves would leave the column added-but-NULL and
    the idempotent replay would skip it forever."""
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    sink = DuckDBCurrentStateSink(
        str(tmp_path / "wh.duckdb"), keys={"t": ["pk"]},
        staging_dir=str(tmp_path / "stage"),
    )
    sink.write_snapshot("t", spark.createDataFrame([(1, "a")], "pk long, val string"))
    with pytest.raises(Exception):
        sink.apply_schema_change("t", defaults=[("n", "not-a-number", "INTEGER")])
    # rollback removed the half-applied ADD — the retry with a good
    # default must add AND backfill
    sink.apply_schema_change("t", defaults=[("n", "7", "INTEGER")])
    assert {r["pk"]: r["n"] for r in sink.read("t")} == {1: 7}


def test_sync_keys_replays_rename_chain(spark, tmp_path):
    """A sink built from a stored config after a key rename (maintenance,
    rollback, restart) must re-derive the current key name from the
    manifest ddl_log before hashing buckets."""
    root = str(tmp_path / "wh")
    sink = ParquetCurrentStateSink(root, keys=["pk"], spark=spark)
    sink.write_snapshot("t", _batch(spark, [("INSERT", 1, 0, 1, "a"),
                                            ("INSERT", 1, 1, 2, "b")]))
    sink.apply_schema_change("t", renames=[("pk", "id")])
    # fresh instance from the stale config
    stale = ParquetCurrentStateSink(root, keys=["pk"], spark=spark)
    assert stale.sync_keys("t") == ["id"]
    stale.rebucket("t", 8)  # would KeyError / mis-hash with the stale key
    got = {r.id: r.val for r in stale.read("t").select("id", "val").collect()}
    assert got == {1: "a", 2: "b"}
    # idempotent: syncing an already-current sink is a no-op
    assert stale.sync_keys("t") == ["id"]


def test_nullability_recorded_in_ddl_log(spark, cs_sink):
    """SET/DROP NOT NULL is a metadata-only ledger op (the third member of
    the reference's ColumnModification set, schema.rs:762-784): recorded
    in the manifest ddl_log, replay-idempotent, readable back, and it
    follows later renames."""
    cs_sink.apply_schema_change("t", nullability=[("val", False)])
    assert cs_sink.current_nullability("t") == {"val": False}
    # replayed delivery is a no-op (no new version)
    v = cs_sink._current_version("t")
    cs_sink.apply_schema_change("t", nullability=[("val", False)])
    assert cs_sink._current_version("t") == v
    # data untouched
    got = {r.pk: r.val for r in cs_sink.read("t").collect()}
    assert got == {1: "a", 2: "b"}
    # the constraint record follows a later rename
    cs_sink.apply_schema_change("t", renames=[("val", "amount")])
    assert cs_sink.current_nullability("t") == {"amount": False}
    cs_sink.apply_schema_change("t", nullability=[("amount", True)])
    assert cs_sink.current_nullability("t") == {"amount": True}


def test_duckdb_nullability_alter(spark, tmp_path):
    import duckdb

    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    db = str(tmp_path / "wh.duckdb")
    sink = DuckDBCurrentStateSink(
        db, keys={"t": ["pk"]}, staging_dir=str(tmp_path / "stage"),
    )
    sink.write_snapshot("t", spark.createDataFrame([(1, "a")], "pk long, val string"))
    sink.apply_schema_change("t", nullability=[("val", False)])
    con = duckdb.connect(db)
    nn = con.execute(
        "SELECT is_nullable FROM information_schema.columns "
        "WHERE table_name='t' AND column_name='val'"
    ).fetchone()[0]
    con.close()
    assert nn == "NO"
    # idempotent replay + relax back
    sink.apply_schema_change("t", nullability=[("val", False)])
    sink.apply_schema_change("t", nullability=[("val", True)])
    con = duckdb.connect(db)
    nn = con.execute(
        "SELECT is_nullable FROM information_schema.columns "
        "WHERE table_name='t' AND column_name='val'"
    ).fetchone()[0]
    con.close()
    assert nn == "YES"


def test_pipeline_nullability_reaches_sink(spark, tmp_path):
    """A RELATION that only tightens a column to NOT NULL must drive
    apply_schema_change (nullability op) — previously diffed and recorded
    in the registry but never surfaced at the destination."""
    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    source = str(tmp_path / "src")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    rel = {"columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 1, "nullable": False},
        {"name": "val", "typ": "string", "nullable": False},
    ]}
    _drop_batch(spark, source, [
        _row("RELATION", 41, rel=rel),
        _row("UPDATE", 42, after={"pk": 1, "val": "a1"}),
    ], "b1.parquet")
    cfg = TableConfig(name="users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    Pipeline(spark, source, [cfg], sink, str(tmp_path / "work")).run_until_drained()
    assert sink.current_nullability("users") == {"pk": False, "val": False}
    assert {r.pk: r.val for r in sink.read("users").collect()} == {1: "a1"}


@pytest.mark.parametrize("seed", [13, 47])
def test_pipeline_ddl_matches_model_under_random_evolution(spark, tmp_path, seed):
    """END-TO-END randomized schema-evolution model test (the sink model
    tests drive the sink directly; this drives the FULL pipeline): a
    seeded script of RELATION changes — value-column renames, KEY
    renames, ADD..DEFAULT, drops, re-adds of previously-renamed-away
    names, nullability flips — interleaved with row events under the
    schema current at their LSN, split across several batch files, with
    the pipeline RESTARTED from the ORIGINAL (stale) config between
    files and randomly CRASHED at the durable-progress failpoint so
    whole batches (rows + DDL) replay at-least-once. A driver-side model applies the same events in LSN order with
    PG semantics; the destination must equal the model exactly under the
    final schema, and the registry's nullability view must match."""
    import random
    import shutil

    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    rng = random.Random(seed)
    source = str(tmp_path / "src")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    work = str(tmp_path / "work")
    sink_root = str(tmp_path / "sink")
    # initial schema: key k0 (long) + value columns c0, c1 (string)
    spark.createDataFrame(
        [(1, "s1a", "s1b"), (2, "s2a", "s2b")], "k0 long, c0 string, c1 string"
    ).write.parquet(snap)

    key = "k0"
    cols: list[tuple[str, str | None]] = [("c0", None), ("c1", None)]  # (name, default)
    retired: list[str] = []           # names renamed/dropped away (re-add pool)
    gen = 0
    model: dict[int, dict] = {
        1: {"c0": "s1a", "c1": "s1b"},
        2: {"c0": "s2a", "c1": "s2b"},
    }
    model_nn: dict[str, bool] = {}
    lsn = 100
    rows: list[Row] = []
    batch_files = 0

    def rel_event(l):
        spec = {"columns": (
            [{"name": key, "typ": "long", "pk_ordinal": 1,
              "nullable": model_nn.get(key, True)}]
            + [{"name": n, "typ": "string",
                **({"default": d} if d is not None else {}),
                "nullable": model_nn.get(n, True)}
               for n, d in cols]
        )}
        return Row(op="RELATION", table="t", commit_lsn=l, start_lsn=l,
                   tx_ordinal=0, after=json.dumps(spec), before=None,
                   before_kind=None, missing_cols=None, schema_snapshot_lsn=l)

    def row_event(l, op, pk, img=None, before=None, missing=None):
        return Row(op=op, table="t", commit_lsn=l, start_lsn=l, tx_ordinal=0,
                   after=json.dumps(img) if img else None,
                   before=json.dumps(
                       before if before is not None
                       else ({key: pk} if op == "DELETE" else None)
                   ) if (before is not None or op == "DELETE") else None,
                   before_kind=(
                       "FULL" if before is not None
                       else ("KEY" if op == "DELETE" else None)
                   ),
                   missing_cols=missing, schema_snapshot_lsn=None)

    def flush_batch():
        nonlocal rows, batch_files
        if not rows:
            return
        _drop_batch(spark, source, rows, f"b{batch_files}.parquet")
        rows = []
        batch_files += 1

    def run_pipeline():
        # ALWAYS from the ORIGINAL (stale) config — the restart path
        sink = ParquetCurrentStateSink(sink_root, keys=["k0"], spark=spark)
        cfg = TableConfig(name="t", snapshot_path=snap, keys=["k0"],
                          payload_schema="k0 long, c0 string, c1 string")
        Pipeline(spark, source, [cfg], sink, work).run_until_drained()
        return sink

    for step in range(16):
        action = rng.choices(
            ["row", "toast", "rename_val", "rename_key", "add_default", "drop",
             "readd", "nullable", "flush_restart", "flush_crash"],
            weights=[7, 2, 2, 1, 2, 1, 2, 1, 2, 2],
        )[0]
        lsn += 1
        if action == "toast":
            # unchanged-TOAST update: one column absent from the after
            # image, listed in missing_cols by its ORDINAL UNDER THE
            # EVENT'S schema (key is ordinal 0), FULL before image; the
            # column keeps its previous value — exercises ordinal
            # resolution when later DDL shifts positions mid-batch
            known = [pk for pk in model]
            if not known or not cols:
                continue
            pk = rng.choice(known)
            j = rng.randrange(len(cols))
            toast_col = cols[j][0]
            before = {key: pk, **model[pk]}
            img = {key: pk}
            vals = {}
            for n, _d in cols:
                if n == toast_col:
                    vals[n] = model[pk].get(n)  # unchanged
                else:
                    v = f"t{lsn}_{n}"
                    img[n] = v
                    vals[n] = v
            rows.append(row_event(lsn, "UPDATE", pk, img, before=before,
                                  missing=[j + 1]))
            model[pk] = vals
        elif action == "row" or not cols:
            pk = rng.randint(1, 6)
            op = rng.choice(["INSERT", "UPDATE", "UPDATE", "DELETE"])
            if op == "DELETE":
                rows.append(row_event(lsn, "DELETE", pk))
                model.pop(pk, None)
            else:
                img = {key: pk}
                vals = {}
                for n, _d in cols:
                    v = f"v{lsn}_{n}" if rng.random() < 0.85 else None
                    img[n] = v
                    vals[n] = v
                rows.append(row_event(lsn, op, pk, img))
                model[pk] = vals
        elif action == "rename_val":
            i = rng.randrange(len(cols))
            old, d = cols[i]
            new = f"r{gen}"
            gen += 1
            cols[i] = (new, d)
            retired.append(old)
            for v in model.values():
                v[new] = v.pop(old, None)
            if old in model_nn:
                model_nn[new] = model_nn.pop(old)
            rows.append(rel_event(lsn))
        elif action == "rename_key":
            nonloc = f"k{gen}"
            gen += 1
            retired.append(key)
            if key in model_nn:
                model_nn[nonloc] = model_nn.pop(key)
            key = nonloc
            rows.append(rel_event(lsn))
        elif action == "add_default":
            new = f"a{gen}"
            gen += 1
            d = f"d{gen}"
            cols.append((new, d))
            for v in model.values():
                v[new] = d  # lazy default backfills pre-DDL rows
            rows.append(rel_event(lsn))
        elif action == "drop":
            if len(cols) <= 1:
                continue
            i = rng.randrange(len(cols))
            old, _d = cols.pop(i)
            retired.append(old)
            for v in model.values():
                v.pop(old, None)
            model_nn.pop(old, None)
            rows.append(rel_event(lsn))
        elif action == "readd":
            pool = [n for n in retired if n not in [c for c, _ in cols] and n != key]
            if not pool:
                continue
            name = rng.choice(pool)
            d = f"rd{gen}" if rng.random() < 0.5 else None
            gen += 1
            cols.append((name, d))
            for v in model.values():
                v[name] = d  # default (or NULL) — old values never resurface
            rows.append(rel_event(lsn))
        elif action == "nullable":
            # always FLIP the effective nullability (default True): a
            # no-op "change" produces no SchemaDiff entry, so nothing
            # reaches the sink ledger — only real flips are observable
            targets = [key] + [n for n, _ in cols]
            n = rng.choice(targets)
            model_nn[n] = not model_nn.get(n, True)
            rows.append(rel_event(lsn))
        elif action == "flush_restart":
            flush_batch()
            run_pipeline()
        elif action == "flush_crash":
            # at-least-once CRASH-REPLAY composed with the DDL space: the
            # run fails at the durable-progress failpoint AFTER its first
            # batch applies (data + sink DDL already landed once); the
            # next incarnation replays that batch from the queue's pin.
            # Convergence relies on LSN-keyed schema versions (replayed
            # pre-DDL rows still resolve their identity timelines
            # exactly), idempotent sink DDL, and LWW row merge — the
            # model is untouched, so any replay-induced drift fails the
            # final equality
            from etl_spark import failpoints as fpp

            flush_batch()
            fpp.arm(fpp.STORE_REPLICATION_PROGRESS)
            try:
                run_pipeline()
            except Exception:
                pass  # the simulated crash (no pending batch -> no hit)
            finally:
                fpp.disarm_all()
            run_pipeline()  # replay must converge
    flush_batch()
    sink = run_pipeline()

    out = sink.read("t")
    live = [key] + [n for n, _ in cols]
    assert set(live) <= set(out.columns), (out.columns, live)
    got = {
        r[key]: {n: r[n] for n, _ in cols}
        for r in out.select(*live).collect()
    }
    assert got == model, f"seed={seed}\n got={got}\n want={model}"
    assert sink.current_nullability("t") == model_nn, seed


# --- warehouse-sink column-add alignment (ADVICE r9 medium) ------------------
#
# _alter_table's ADD COLUMN appends at the warehouse table's END (after
# _etl_seq / the envelope columns), while the staged batch carries the new
# column in the PIPELINE's order — a positional INSERT INTO..SELECT
# misaligned the first post-ADD batch (added value landed in op's slot,
# op failed the BIGINT commit_lsn cast). Every warehouse INSERT now names
# its target columns, and a PURE add (no default — SchemaDiff carries no
# ALTER for it, only the widened batch) is auto-ADDed from the staged
# parquet schema before the merge.

WIDE = ("op string, commit_lsn long, tx_ordinal long, "
        "pk long, val string, tier string")


def test_duckdb_current_state_add_default_then_batch(spark, tmp_path):
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    sink = DuckDBCurrentStateSink(
        str(tmp_path / "wh.duckdb"), keys={"t": ["pk"]},
        staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot(
        "t", spark.createDataFrame([(1, "a"), (3, "c")], "pk long, val string"))
    sink.apply_schema_change("t", defaults=[("tier", "basic", "string")])
    sink.write_changes("t", _batch(spark, [
        ("UPDATE", 5, 0, 1, "a2", "silver"),
        ("INSERT", 5, 1, 2, "b", "gold"),
    ], WIDE), batch_id=0)
    got = {r["pk"]: (r["val"], r["tier"]) for r in sink.read("t")}
    assert got == {1: ("a2", "silver"), 2: ("b", "gold"), 3: ("c", "basic")}


def test_duckdb_current_state_pure_add_via_wider_batch(spark, tmp_path):
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    sink = DuckDBCurrentStateSink(
        str(tmp_path / "wh.duckdb"), keys={"t": ["pk"]},
        staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot(
        "t", spark.createDataFrame([(1, "a"), (3, "c")], "pk long, val string"))
    # NO apply_schema_change: the widened batch alone must add the column
    sink.write_changes("t", _batch(spark, [
        ("UPDATE", 5, 0, 1, "a2", "silver"),
        ("INSERT", 5, 1, 2, "b", "gold"),
    ], WIDE), batch_id=0)
    got = {r["pk"]: (r["val"], r["tier"]) for r in sink.read("t")}
    import pandas as pd
    assert got[1] == ("a2", "silver") and got[2] == ("b", "gold")
    assert got[3][0] == "c" and (got[3][1] is None or pd.isna(got[3][1]))


def test_duckdb_scd2_add_column_then_batch(spark, tmp_path):
    from etl_spark.streaming.duckdb_sink import DuckDBScd2Sink

    sink = DuckDBScd2Sink(
        str(tmp_path / "wh.duckdb"), keys={"t": ["pk"]},
        staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot(
        "t", spark.createDataFrame([(1, "a")], "pk long, val string"))
    sink.apply_schema_change("t", defaults=[("tier", "basic", "string")])
    sink.write_changes("t", _batch(spark, [
        ("UPDATE", 5, 0, 1, "a2", "silver"),
        ("INSERT", 5, 1, 2, "b", "gold"),
    ], WIDE), batch_id=0)
    rows = {(r["pk"], bool(r["is_current"])): (r["val"], r["tier"], r["op"])
            for r in sink.read("t")}
    # pk=1: closed snapshot version (backfilled default) + open update
    assert rows[(1, False)] == ("a", "basic", "INSERT")
    assert rows[(1, True)] == ("a2", "silver", "UPDATE")
    assert rows[(2, True)] == ("b", "gold", "INSERT")


def test_duckdb_scd2_pure_add_via_wider_batch(spark, tmp_path):
    import pandas as pd

    from etl_spark.streaming.duckdb_sink import DuckDBScd2Sink

    sink = DuckDBScd2Sink(
        str(tmp_path / "wh.duckdb"), keys={"t": ["pk"]},
        staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot(
        "t", spark.createDataFrame([(1, "a")], "pk long, val string"))
    sink.write_changes("t", _batch(spark, [
        ("UPDATE", 5, 0, 1, "a2", "silver"),
    ], WIDE), batch_id=0)
    rows = {(r["pk"], bool(r["is_current"])): (r["val"], r["tier"])
            for r in sink.read("t")}
    assert rows[(1, True)] == ("a2", "silver")
    old_val, old_tier = rows[(1, False)]
    assert old_val == "a" and (old_tier is None or pd.isna(old_tier))


def test_duckdb_changelog_add_column_then_batch(spark, tmp_path):
    import pandas as pd

    from etl_spark.streaming.duckdb_sink import DuckDBChangelogSink

    sink = DuckDBChangelogSink(
        str(tmp_path / "wh.duckdb"), staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot(
        "t", spark.createDataFrame([(1, "a")], "pk long, val string"))
    sink.write_changes("t", _batch(spark, [
        ("UPDATE", 5, 0, 1, "a2", "silver"),
    ], WIDE), batch_id=0)
    by_op = {r["op"]: r for r in sink.read("t")}
    assert by_op["UPDATE"]["val"] == "a2"
    assert by_op["UPDATE"]["tier"] == "silver"
    assert int(by_op["UPDATE"]["commit_lsn"]) == 5
    snap_tier = by_op["INSERT"]["tier"]
    assert snap_tier is None or pd.isna(snap_tier)


def test_duckdb_alter_maps_spark_type_names(spark, tmp_path):
    """ADVICE r9 low: 'timestamp_ntz'/'float' are Spark type names, not
    DuckDB DDL — ADD..DEFAULT on such a column used to raise (quarantine).
    The ALTER path maps Spark names to DuckDB types."""
    import duckdb

    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    db = str(tmp_path / "wh.duckdb")
    sink = DuckDBCurrentStateSink(
        db, keys={"t": ["pk"]}, staging_dir=str(tmp_path / "stage"))
    sink.write_snapshot(
        "t", spark.createDataFrame([(1, "a")], "pk long, val string"))
    sink.apply_schema_change("t", defaults=[
        ("score", "1.5", "float"),
        ("seen", "2021-01-02 03:04:05", "timestamp_ntz"),
        ("n", "7", "long"),
    ])
    con = duckdb.connect(db)
    types = dict(con.execute(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name='t'").fetchall())
    con.close()
    assert types["score"] == "FLOAT"  # DuckDB reports REAL as FLOAT
    assert types["seen"].startswith("TIMESTAMP")
    assert types["n"] == "BIGINT"
    row = sink.read("t")[0]
    assert abs(row["score"] - 1.5) < 1e-6 and int(row["n"]) == 7


def test_deep_ddl_log_reads_flat_plan(spark, cs_sink):
    """1200 accumulated DDL ops must not grow the read plan: the replay
    folds driver-side into ONE select, so plan depth is O(1) in log
    length. The previous per-op withColumn chain overflowed the JVM
    analyzer stack near ~1000 ops (SCALE.md "manifest/DDL-log growth")."""
    cur = "val"
    for _ in range(1200):
        nxt = "val1" if cur == "val" else "val"
        cs_sink.apply_schema_change("t", renames=[(cur, nxt)])
        cur = nxt
    # read through the 1200-op log: correct values, no stack overflow
    got = {r.pk: r[cur] for r in cs_sink.read("t").select("pk", cur).collect()}
    assert got == {1: "a", 2: "b"}
    # and a post-log batch merges fine
    cs_sink.write_changes(
        "t",
        _batch(spark, [("INSERT", 9, 0, 3, "c")],
               f"op string, commit_lsn long, tx_ordinal long, pk long, {cur} string"),
        batch_id=1,
    )
    got = {r.pk: r[cur] for r in cs_sink.read("t").select("pk", cur).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_ddl_replay_rejects_rename_collision_and_backtick(spark):
    """A malformed DDL log (rename onto an existing column, or a physical
    name carrying a backtick the manual quoting can't escape) fails loudly
    instead of silently dropping a column (ADVICE r10)."""
    from etl_spark.streaming.sinks import _BucketedVersionedTable

    df = spark.createDataFrame([(1, "a", "b")], "pk long, x string, y string")
    with pytest.raises(ValueError, match="collides"):
        _BucketedVersionedTable._apply_ddl_ops(
            df, [{"op": "rename", "from": "x", "to": "y"}], epoch=0
        )
    with pytest.raises(ValueError, match="backtick"):
        _BucketedVersionedTable._apply_ddl_ops(
            df.withColumnRenamed("x", "x`q"),
            [{"op": "rename", "from": "x`q", "to": "z"}], epoch=0
        )
