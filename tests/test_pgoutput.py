"""pgoutput binary codec + distributed decode tests (F11,
reference codec/event.rs:303-985 and its test encoders :990-1145)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_spark.sources import pgoutput as pgo


def test_frame_roundtrip_begin_commit():
    b = pgo.parse_frame(pgo.encode_begin(final_lsn=77, commit_ts=123, xid=9))
    assert b == {"kind": "BEGIN", "final_lsn": 77, "commit_ts": 123, "xid": 9}
    c = pgo.parse_frame(pgo.encode_commit(commit_lsn=77, end_lsn=78, commit_ts=5))
    assert (c["kind"], c["commit_lsn"], c["end_lsn"]) == ("COMMIT", 77, 78)


def test_frame_roundtrip_relation():
    r = pgo.parse_frame(pgo.encode_relation(
        42, "public", "users", "d",
        [(1, "pk", 20, -1), (0, "val", 25, -1)],
    ))
    assert r["kind"] == "RELATION" and r["rel_id"] == 42
    assert r["namespace"] == "public" and r["name"] == "users"
    assert r["replident"] == "d"
    assert [c["name"] for c in r["columns"]] == ["pk", "val"]
    assert [c["flags"] for c in r["columns"]] == [1, 0]
    assert [c["type_oid"] for c in r["columns"]] == [20, 25]


def test_frame_roundtrip_dml_and_cells():
    ins = pgo.parse_frame(pgo.encode_insert(1, ["7", None, "x\ty"]))
    assert ins["kind"] == "INSERT" and ins["new"] == ["7", None, "x\ty"]

    # unchanged-TOAST cell survives the wire as 'u'
    upd = pgo.parse_frame(pgo.encode_update(1, ["7", pgo.UNCHANGED_TOAST], key=["7"]))
    assert upd["new"][0] == "7"
    assert isinstance(upd["new"][1], type(pgo.UNCHANGED_TOAST))
    assert upd["key"] == ["7"] and upd["old"] is None

    upd_full = pgo.parse_frame(pgo.encode_update(1, ["8", "n2"], old=["8", "n1"]))
    assert upd_full["old"] == ["8", "n1"] and upd_full["key"] is None

    dele = pgo.parse_frame(pgo.encode_delete(1, key=["9"]))
    assert dele["kind"] == "DELETE" and dele["key"] == ["9"]

    tr = pgo.parse_frame(pgo.encode_truncate([1, 2], options=1))
    assert tr == {"kind": "TRUNCATE", "rel_ids": [1, 2], "options": 1}


def test_encoder_guards():
    with pytest.raises(ValueError):
        pgo.encode_update(1, ["x"], old=["a"], key=["b"])
    with pytest.raises(ValueError):
        pgo.encode_delete(1)
    with pytest.raises(ValueError):
        pgo.parse_frame(b"Z???")


def test_sentinel_survives_pickle():
    import pickle

    assert pickle.loads(pickle.dumps(pgo.UNCHANGED_TOAST)) is pgo.UNCHANGED_TOAST


def _frames_df(spark, rows):
    return spark.createDataFrame(
        [(w, x, bytearray(f)) for w, x, f in rows],
        "wal_start long, xid long, frame binary",
    )


def test_decode_frames_end_to_end(spark):
    rel = pgo.encode_relation(1, "public", "users", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    frames = _frames_df(spark, [
        (-1, -1, rel),
        # tx 100 (xid 5): insert + toast update with key-only old row
        (10, 5, pgo.encode_begin(final_lsn=100, xid=5)),
        (11, 5, pgo.encode_insert(1, ["1", "a"])),
        (12, 5, pgo.encode_update(1, ["1", pgo.UNCHANGED_TOAST], key=["1"])),
        (13, 5, pgo.encode_commit(100, 101)),
        # tx 200 (xid 6): full-old update, delete, truncate
        (20, 6, pgo.encode_begin(final_lsn=200, xid=6)),
        (21, 6, pgo.encode_update(1, ["2", "n2"], old=["2", "n1"])),
        (22, 6, pgo.encode_delete(1, key=["2"])),
        (23, 6, pgo.encode_truncate([1])),
        # event on an unknown relation: dropped (P4)
        (24, 6, pgo.encode_insert(99, ["zz"])),
    ])
    env = pgo.decode_frames(frames)
    rows = {(r.op, r.start_lsn): r for r in env.collect()}

    ins = rows[("INSERT", 11)]
    assert ins.commit_lsn == 100 and ins.tx_ordinal == 0
    assert ins.after == '{"pk": "1", "val": "a"}' and ins.before_kind == "NONE"

    toast = rows[("UPDATE", 12)]
    assert toast.commit_lsn == 100 and toast.tx_ordinal == 1
    assert toast.missing_cols == [1]           # val was unchanged-TOAST
    assert toast.before == '{"pk": "1"}' and toast.before_kind == "KEY"

    full = rows[("UPDATE", 21)]
    assert full.commit_lsn == 200 and full.tx_ordinal == 0
    assert full.before == '{"pk": "2", "val": "n1"}' and full.before_kind == "FULL"

    dele = rows[("DELETE", 22)]
    assert dele.before == '{"pk": "2"}' and dele.before_kind == "KEY"
    assert dele.after is None

    trunc = rows[("TRUNCATE", 23)]
    assert trunc.table == "public.users"

    assert ("INSERT", 24) not in rows  # unknown relation dropped
    # relation frame surfaces as a RELATION control event
    assert any(op == "RELATION" for op, _ in rows)


def _write_frames(spark, path, rows, name):
    import os
    import shutil

    staging = os.path.join(path, f".__stage_{name}")
    df = spark.createDataFrame(
        [(w, x, bytearray(f)) for w, x, f in rows], pgo.FRAME_SCHEMA
    )
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(path, f"{name}.parquet"))
    shutil.rmtree(staging)


def _fold_tx(reg, tmp_path, rows, name):
    """Advance ``reg`` over one batch of frames as the pipeline does: the
    wire stats of the batch's frame file, then ``advance_parsed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table([list(c) for c in zip(*rows)],
                            schema=pgo.FRAME_ARROW_SCHEMA), path)
    w = pgo.collect_wire_stats([path])
    reg.advance_parsed(w.bc, w.env_counts, w.bounds)


def test_pipeline_pgoutput_source_end_to_end(spark, tmp_path):
    """Binary WAL-shipper files drive the full pipeline: decode → typed
    merge → current state. The restart batch contains NO relation frame —
    the persisted registry must carry it (store-backed schemas analog)."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    rel = pgo.encode_relation(1, "public", "users", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    _write_frames(spark, source, [
        (-1, -1, rel),
        (10, 1, pgo.encode_begin(final_lsn=100, xid=1)),
        (11, 1, pgo.encode_insert(1, ["1", "a"])),
        (12, 1, pgo.encode_insert(1, ["2", "b"])),
        (13, 1, pgo.encode_commit(100, 101)),
    ], "b1")

    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)  # empty table pre-stream
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    work = str(tmp_path / "work")
    p = Pipeline(spark, source, [cfg], sink, work, source_fmt="pgoutput")
    p.run_until_drained()
    got = {r.pk: r.val for r in sink.read("public.users").select("pk", "val").collect()}
    assert got == {1: "a", 2: "b"}
    assert p.status()["flush_lsn"] == 100
    assert not os.path.exists(os.path.join(work, "checkpoint"))

    # restart: new frames, no relation frame — persisted registry resolves
    _write_frames(spark, source, [
        (20, 2, pgo.encode_begin(final_lsn=200, xid=2)),
        (21, 2, pgo.encode_update(1, ["1", "a2"])),
        (22, 2, pgo.encode_delete(1, key=["2"])),
        (23, 2, pgo.encode_commit(200, 201)),
    ], "b2")
    p2 = Pipeline(spark, source, [cfg], sink, work, source_fmt="pgoutput")
    p2.run_until_drained()
    got = {r.pk: r.val for r in sink.read("public.users").select("pk", "val").collect()}
    assert got == {1: "a2"}
    assert p2.status()["flush_lsn"] == 200


def test_collect_wire_stats_matches_spark_collects(spark, tmp_path):
    """The driver-side wire stats equal the Spark collects they replace,
    on a batch with a mid-batch RELATION republish, a TYPE frame and an
    open trailing transaction."""
    import os
    from collections import Counter

    rel_v1 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1)])
    rel_v2 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1),
                                  (0, "mood", 9000, -1)])
    rows = [
        (5, -1, rel_v1),
        (6, -1, pgo.encode_type(9000, "public", "mood")),
        (10, 10, pgo.encode_begin(final_lsn=13, xid=1)),
        (11, 10, pgo.encode_insert(1, ["1", "a"])),
        (12, 10, pgo.encode_update(1, ["1", "a2"])),
        (13, 10, pgo.encode_commit(13, 14)),
        (15, -1, rel_v2),
        (20, 20, pgo.encode_begin(final_lsn=23, xid=2)),
        (21, 20, pgo.encode_insert(1, ["2", "b", "happy"])),
        (22, 20, pgo.encode_delete(1, key=["1"])),
        (23, 20, pgo.encode_commit(23, 24)),
        (30, 30, pgo.encode_begin(final_lsn=40, xid=3)),
        (31, 30, pgo.encode_insert(1, ["3", "c", "sad"])),
    ]
    source = str(tmp_path / "frames")
    os.makedirs(source)
    _write_frames(spark, source, rows, "b1")
    path = os.path.join(source, "b1.parquet")
    df = spark.read.schema(pgo.FRAME_SCHEMA).parquet(path)

    w = pgo.collect_wire_stats([path], max_tx=100)
    assert len(w.relations[1]) == 2
    assert w.relations == pgo.relation_registry_versioned(df)
    assert w.types == pgo.type_registry(df) == {9000: "public.mood"}
    lo, hi = df.agg(F.min("wal_start"), F.max("wal_start")).first()
    assert w.bounds == (lo, hi) == (5, 31)
    assert w.env_counts == dict(Counter(
        x for _w, x, f in rows if f[:1] in (b"I", b"U", b"D", b"R", b"T", b"M")))
    assert sorted(w.bc) == sorted(
        (x, f) for _w, x, f in rows if f[:1] in (b"B", b"C"))
    # four distinct xids (-1, 10, 20, 30) reach the ceiling of max_tx = 2
    with pytest.raises(RuntimeError, match="driver-collect budget"):
        pgo.collect_wire_stats([path], max_tx=2)


def test_decode_registry(spark):
    rel = pgo.encode_relation(7, "s", "t", "f", [(1, "a", 20, -1), (1, "b", 25, -1)])
    frames = _frames_df(spark, [(-1, -1, rel)])
    reg = pgo.relation_registry(frames)
    assert reg == {7: {"table": "s.t", "columns": ["a", "b"],
                       "key_cols": ["a", "b"], "type_oids": [20, 25],
                       "key_oids": [20, 25], "replident": "f"}}


def test_frame_roundtrip_message():
    f = pgo.encode_message(42, "supabase_etl_ddl", '{"x":1}', transactional=True)
    p = pgo.parse_frame(f)
    assert p == {"kind": "MESSAGE", "transactional": True, "lsn": 42,
                 "prefix": "supabase_etl_ddl", "content": '{"x":1}'}
    f2 = pgo.encode_message(7, "custom", "", transactional=False)
    p2 = pgo.parse_frame(f2)
    assert p2["transactional"] is False and p2["content"] == ""


def test_pipeline_ddl_message_evolves_schema(spark, tmp_path):
    """The reference's DDL protocol (apply.rs:2138-2184): a transactional
    `supabase_etl_ddl` logical message persists the new schema BEFORE the
    relcache-refreshed Relation + first post-DDL DML arrive; unknown
    prefixes are discarded."""
    import json as _json
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    rel_v1 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1)])
    ddl = _json.dumps({"table": "public.users", "columns": [
        {"name": "pk", "typ": "long", "pk_ordinal": 0},
        {"name": "val", "typ": "string"},
        {"name": "extra", "typ": "string"},
    ]})
    rel_v2 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1),
                                  (0, "extra", 25, -1)])
    _write_frames(spark, source, [
        (-1, -1, rel_v1),
        (10, 1, pgo.encode_begin(final_lsn=100, xid=1)),
        (11, 1, pgo.encode_insert(1, ["1", "a"])),
        # ... -> ddl Message -> Relation(new schema) -> first post-DDL DML
        (12, 1, pgo.encode_message(12, pgo.DDL_MESSAGE_PREFIX, ddl)),
        (13, 1, pgo.encode_message(13, "other_tool", "ignored")),  # discard
        (14, 1, rel_v2),
        (15, 1, pgo.encode_insert(1, ["2", "b", "wide"])),
        (16, 1, pgo.encode_commit(100, 101)),
    ], "b1")

    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    p = Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"),
                 source_fmt="pgoutput")
    p.run_until_drained()
    assert "extra" in cfg.payload_schema
    rows = {r.pk: (r.val, r.extra)
            for r in sink.read("public.users").select("pk", "val", "extra").collect()}
    assert rows == {1: ("a", None), 2: ("b", "wide")}
    # the DDL version is in the registry at the message LSN
    assert p.schemas.asof("public.users", 12) is not None


# ---------------------------------------------------------------------------
# Cross-batch transaction assembly (apply.rs:942-965,2311-2321)
# ---------------------------------------------------------------------------

def test_cross_batch_transaction_carries_begin_state(spark, tmp_path):
    """A transaction whose BEGIN landed in an earlier micro-batch keeps its
    commit_lsn and continues tx_ordinal where the prior batch stopped."""
    rel = pgo.encode_relation(1, "public", "users", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    reg = pgo.PersistentTxRegistry(str(tmp_path / "tx.json"))

    rows1 = [
        (-1, -1, rel),
        (10, 5, pgo.encode_begin(final_lsn=500, xid=5)),
        (11, 5, pgo.encode_insert(1, ["1", "a"])),
        (12, 5, pgo.encode_insert(1, ["2", "b"])),
    ]
    env1 = pgo.decode_frames(_frames_df(spark, rows1), carry_tx=reg.snapshot())
    got1 = {r.start_lsn: (r.commit_lsn, r.tx_ordinal)
            for r in env1.filter("op = 'INSERT'").collect()}
    assert got1 == {11: (500, 0), 12: (500, 1)}
    _fold_tx(reg, tmp_path, rows1, "b1")
    assert reg.snapshot() == {5: {"final_lsn": 500, "ordinal_offset": 2}}

    # restart simulation: a fresh registry instance rehydrates from disk
    reg2 = pgo.PersistentTxRegistry(str(tmp_path / "tx.json"))
    rows2 = [
        (13, 5, pgo.encode_update(1, ["1", "a2"], key=["1"])),
        (14, 5, pgo.encode_delete(1, key=["2"])),
        (15, 5, pgo.encode_commit(500, 501)),
    ]
    env2 = pgo.decode_frames(
        _frames_df(spark, rows2),
        relations={1: [(0, {"table": "public.users",
                            "columns": ["pk", "val"],
                            "key_cols": ["pk"], "replident": "d"})]},
        carry_tx=reg2.snapshot())
    got2 = {r.start_lsn: (r.commit_lsn, r.tx_ordinal)
            for r in env2.filter("op != 'RELATION'").collect()}
    assert got2 == {13: (500, 2), 14: (500, 3)}
    _fold_tx(reg2, tmp_path, rows2, "b2")
    assert reg2.snapshot() == {}  # COMMIT seen -> state dropped


def test_missing_begin_state_fails_loudly(spark):
    """DML for an xid with no BEGIN in-batch or carried must error — never
    silently borrow the xid as a commit LSN (wrong numbering domain)."""
    rel = pgo.encode_relation(1, "public", "users", "d", [(1, "pk", 20, -1)])
    frames = _frames_df(spark, [
        (-1, -1, rel),
        (11, 7, pgo.encode_insert(1, ["1"])),
    ])
    import pytest as _pytest

    with _pytest.raises(Exception, match="no BEGIN state"):
        pgo.decode_frames(frames).collect()


def test_benign_type_origin_frames_dropped(spark):
    """'Y' (Type) and 'O' (Origin) frames are dropped with a warning, not a
    decode failure (P4 policy; apply.rs:2113-2125)."""
    rel = pgo.encode_relation(1, "public", "users", "d", [(1, "pk", 20, -1)])
    frames = _frames_df(spark, [
        (-1, -1, rel),
        (9, 5, pgo.encode_origin(42, "region_a")),
        (10, 5, pgo.encode_begin(final_lsn=100, xid=5)),
        (11, 5, pgo.encode_type(99999, "public", "citext")),
        (12, 5, pgo.encode_insert(1, ["1"])),
        (13, 5, pgo.encode_commit(100, 101)),
    ])
    rows = pgo.decode_frames(frames).filter("op = 'INSERT'").collect()
    assert len(rows) == 1
    # Y/O frames emit no envelope rows and do not consume tx ordinals
    assert (rows[0].commit_lsn, rows[0].tx_ordinal) == (100, 0)


def test_parse_type_and_origin_roundtrip():
    t = pgo.parse_frame(pgo.encode_type(99999, "public", "citext"))
    assert t == {"kind": "TYPE", "type_oid": 99999,
                 "namespace": "public", "name": "citext"}
    o = pgo.parse_frame(pgo.encode_origin(1234567, "origin_1"))
    assert o == {"kind": "ORIGIN", "origin_lsn": 1234567, "name": "origin_1"}


def test_custom_typed_column_arrives_as_string(spark):
    """A column with a custom (non-builtin) type OID decodes as its text
    representation — Cell::String semantics (cell.rs:8-14)."""
    rel = pgo.encode_relation(1, "public", "t", "d",
                              [(1, "pk", 20, -1), (0, "tags", 99999, -1)])
    frames = _frames_df(spark, [
        (-1, -1, rel),
        (10, 5, pgo.encode_begin(final_lsn=100, xid=5)),
        (11, 5, pgo.encode_insert(1, ["1", "sensitive=>true"])),
        (12, 5, pgo.encode_commit(100, 101)),
    ])
    row = pgo.decode_frames(frames).filter("op = 'INSERT'").collect()[0]
    import json as _json

    assert _json.loads(row.after)["tags"] == "sensitive=>true"


# ---------------------------------------------------------------------------
# binary-format tuple cells (publications WITH (binary = true); F11,
# reference event.rs:552-680 TupleData::Binary)
# ---------------------------------------------------------------------------

def test_binary_cell_codec_roundtrip():
    """encode_binary_cell → decode_binary_cell lands on the canonical text
    form for every core OID."""
    import datetime as dt
    import uuid

    cases = [
        (16, True, "t"), (16, False, "f"),
        (21, -7, "-7"), (23, 123456, "123456"), (20, 2**40, str(2**40)),
        (701, 1.5, "1.5"), (701, float("inf"), "Infinity"),
        (701, float("nan"), "NaN"),
        (25, "héllo", "héllo"), (1043, "v", "v"), (1042, "c", "c"),
        (17, b"\x01\xab", "\\x01ab"),
        (2950, uuid.UUID("12345678-1234-5678-1234-567812345678"),
         "12345678-1234-5678-1234-567812345678"),
        (1082, dt.date(2024, 2, 29), "2024-02-29"),
        (1114, dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
         "2024-01-02 03:04:05.123456"),
        # PG trims trailing fractional zeros (binary + text paths must
        # land on the same destination string)
        (1184, dt.datetime(2024, 1, 2, 3, 4, 5, 0, tzinfo=dt.timezone.utc),
         "2024-01-02 03:04:05+00"),
        (1114, dt.datetime(2024, 1, 2, 3, 4, 5, 500000),
         "2024-01-02 03:04:05.5"),
        (114, '{"a": 1}', '{"a": 1}'), (3802, '{"b": 2}', '{"b": 2}'),
        # numeric: base-10000 words incl. specials (numeric.rs:70-100)
        (1700, "12345.6789", "12345.6789"),
        (1700, "-0.00012000", "-0.00012000"),
        (1700, "0", "0"), (1700, "NaN", "NaN"),
        (1700, "Infinity", "Infinity"), (1700, "-Infinity", "-Infinity"),
        (1700, "1" + "0" * 40, "1" + "0" * 40),  # >38 digits survives as text
        # time / timetz (µs since midnight; west-positive wire zone)
        (1083, dt.time(13, 14, 15, 123456), "13:14:15.123456"),
        (1083, dt.time(4, 5, 6), "04:05:06"),
        (1266, dt.time(4, 5, 6, 0, tzinfo=dt.timezone(dt.timedelta(hours=-8))),
         "04:05:06-08"),
        (1266, dt.time(23, 0, 0, 250000,
                       tzinfo=dt.timezone(dt.timedelta(hours=5, minutes=45))),
         "23:00:00.25+05:45"),
        # 1-D arrays: quoting, NULLs, empties (array_send wire)
        (1007, [1, None, 3], "{1,NULL,3}"),
        (1007, [], "{}"),
        (1009, ["a b", "", 'q"t', "x\\y", "NULL"],
         '{"a b","","q\\"t","x\\\\y","NULL"}'),
        (1231, ["1.50", None], "{1.50,NULL}"),
        (1016, [2**40], "{" + str(2**40) + "}"),
    ]
    for oid, val, want in cases:
        cell = pgo.encode_binary_cell(oid, val)
        assert pgo.decode_binary_cell(oid, cell.data) == want, (oid, val)
    # float4: shortest round-trip repr, PG-style ('0.1', not the double
    # expansion '0.10000000149011612')
    for v, want in [(0.25, "0.25"), (0.1, "0.1"), (3.14, "3.14")]:
        f4 = pgo.encode_binary_cell(700, v)
        assert pgo.decode_binary_cell(700, f4.data) == want


def test_binary_array_rejects_multidim():
    import struct

    wire = struct.pack(">iii", 2, 0, 23) + struct.pack(">iiii", 2, 1, 2, 1)
    with pytest.raises(ValueError, match="multidim"):
        pgo.decode_binary_cell(1007, wire)


def test_binary_cell_unsupported_oid_fails_loudly():
    with pytest.raises(ValueError, match="no binary-format decoder"):
        pgo.decode_binary_cell(99999, b"\x00")
    with pytest.raises(ValueError, match="no binary-format encoder"):
        pgo.encode_binary_cell(99999, "x")


def test_parse_tuple_binary_cells():
    """Frame-level parse: 'b' cells round-trip through _encode_tuple /
    parse_frame as BinaryCell wrappers."""
    cells = ["1", pgo.encode_binary_cell(20, 42), None]
    frame = pgo.encode_insert(1, cells)
    p = pgo.parse_frame(frame)
    assert p["new"] == ["1", pgo.BinaryCell(b"\x00" * 7 + b"\x2a"), None]


def test_decode_frames_binary_cells(spark):
    """Distributed decode: binary-format cells in new/old/key tuples are
    decoded via the RELATION frame's type OIDs into the same envelope text
    the text-format path produces."""
    import json as _json

    rel = pgo.encode_relation(1, "public", "m", "d",
                              [(1, "pk", 20, -1), (0, "flag", 16, -1),
                               (0, "score", 701, -1)])
    b = pgo.encode_binary_cell
    frames = _frames_df(spark, [
        (-1, -1, rel),
        (10, 5, pgo.encode_begin(final_lsn=100, xid=5)),
        (11, 5, pgo.encode_insert(1, [b(20, 7), b(16, True), b(701, 2.5)])),
        # mixed text + binary in one tuple; binary key-only old row
        (12, 5, pgo.encode_update(1, ["7", b(16, False), "3.5"],
                                  key=[b(20, 7)])),
        (13, 5, pgo.encode_delete(1, old=[b(20, 7), b(16, False), b(701, 3.5)])),
        (14, 5, pgo.encode_commit(100, 101)),
    ])
    rows = {r.start_lsn: r for r in pgo.decode_frames(frames).collect()}
    assert _json.loads(rows[11].after) == {"pk": "7", "flag": "t", "score": "2.5"}
    upd = rows[12]
    assert _json.loads(upd.after) == {"pk": "7", "flag": "f", "score": "3.5"}
    assert _json.loads(upd.before) == {"pk": "7"} and upd.before_kind == "KEY"
    dele = rows[13]
    assert _json.loads(dele.before) == {"pk": "7", "flag": "f", "score": "3.5"}
    assert dele.before_kind == "FULL"


def test_decode_frames_binary_unsupported_oid_fails_loudly(spark):
    """A binary cell whose OID has no decoder fails the decode (reference
    errors on unsupported binary types rather than corrupting)."""
    rel = pgo.encode_relation(1, "public", "m", "d", [(1, "pk", 99999, -1)])
    frames = _frames_df(spark, [
        (-1, -1, rel),
        (10, 5, pgo.encode_begin(final_lsn=100, xid=5)),
        (11, 5, pgo.encode_insert(1, [pgo.BinaryCell(b"\xde\xad")])),
        (12, 5, pgo.encode_commit(100, 101)),
    ])
    with pytest.raises(Exception, match="no binary-format decoder"):
        pgo.decode_frames(frames).collect()


# ---------------------------------------------------------------------------
# TYPE ('Y') frames → type registry → schema pg_type (cell.rs:8-14)
# ---------------------------------------------------------------------------

def test_type_registry_collects_type_frames(spark):
    frames = _frames_df(spark, [
        (9, 5, pgo.encode_type(99999, "public", "citext")),
        (10, 5, pgo.encode_type(88888, "public", "hstore")),
        (11, 5, pgo.encode_begin(final_lsn=100, xid=5)),
    ])
    assert pgo.type_registry(frames) == {
        99999: "public.citext", 88888: "public.hstore"}


def test_persistent_type_registry_survives_restart(spark, tmp_path):
    path = str(tmp_path / "types.json")
    reg = pgo.PersistentTypeRegistry(path)
    reg.ingest(pgo.type_registry(_frames_df(spark, [
        (9, 5, pgo.encode_type(99999, "public", "citext"))])))
    # fresh instance (simulated restart) still knows the type
    reg2 = pgo.PersistentTypeRegistry(path)
    assert reg2.snapshot() == {99999: "public.citext"}


def test_persistent_relation_registry_caps_versions(spark, tmp_path):
    """Growth bound: only the newest ``max_versions`` specs survive."""
    path = str(tmp_path / "rels.json")
    reg = pgo.PersistentRelationRegistry(path, max_versions=3)
    for i in range(5):
        reg.ingest(pgo.relation_registry_versioned(_frames_df(spark, [
            (10 + i, -1, pgo.encode_relation(
                1, "public", "t", "d",
                [(1, "pk", 20, -1), (0, f"c{i}", 25, -1)]))])))
    snap = reg.snapshot()
    assert [w for w, _s in snap[1]] == [12, 13, 14]


def test_pipeline_records_custom_type_in_schema(spark, tmp_path):
    """End-to-end 'Y' surfacing: a custom-typed column arrives as a string
    AND its schema-registry ColumnDef carries the PG type name from the
    TYPE frame (the r3/r4 stretch item; cell.rs:8-14 semantics)."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    src = str(tmp_path / "frames")
    os.makedirs(src)
    work = str(tmp_path / "work")
    rel = pgo.encode_relation(
        1, "public", "t", "d",
        [(1, "pk", 20, -1), (0, "tags", 99999, -1)])
    _write_frames(spark, src, [
        (1, 0, pgo.encode_type(99999, "public", "hstore")),
        (2, 0, rel),
        (10, 5, pgo.encode_begin(final_lsn=100, xid=5)),
        (11, 5, pgo.encode_insert(1, ["1", "a=>1"])),
        (12, 5, pgo.encode_commit(100, 101)),
    ], "b0")
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, tags string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, tags string")
    p = Pipeline(spark, src, [cfg], sink, work, source_fmt="pgoutput")
    p.run_until_drained()
    # value passed through as its text form
    got = {r.pk: r.tags for r in sink.read("public.t").select("pk", "tags").collect()}
    assert got == {1: "a=>1"}
    # type registry persisted the TYPE frame
    assert p.types.snapshot() == {99999: "public.hstore"}
    # schema registry marks the column string-pass-through with its PG
    # type name from the TYPE frame
    ver = p.schemas.asof("public.t", 10**9)
    assert ver is not None
    cols = {c.name: c for c in ver[1]}
    assert cols["tags"].pg_type == "public.hstore"
    assert cols["pk"].pg_type is None        # builtin OID untouched

    # --- RESTART: the r5 stretch item. A fresh pipeline incarnation over
    # the same work dir sees NO TYPE frame and NO RELATION frame in the
    # new batch — the PersistentTypeRegistry + relation registry must
    # carry the ns.name so a post-restart DML batch still records the
    # custom type on the stored ColumnDef and decodes pass-through.
    _write_frames(spark, src, [
        (20, 6, pgo.encode_begin(final_lsn=200, xid=6)),
        (21, 6, pgo.encode_insert(1, ["2", "b=>2"])),
        (22, 6, pgo.encode_commit(200, 201)),
    ], "b1")
    p2 = Pipeline(spark, src, [cfg], sink, work, source_fmt="pgoutput")
    p2.run_until_drained()
    got = {r.pk: r.tags for r in sink.read("public.t").select("pk", "tags").collect()}
    assert got == {1: "a=>1", 2: "b=>2"}
    # registry reloaded from disk, not from a frame in this incarnation
    assert p2.types.snapshot() == {99999: "public.hstore"}
    ver2 = p2.schemas.asof("public.t", 10**9)
    cols2 = {c.name: c for c in ver2[1]}
    assert cols2["tags"].pg_type == "public.hstore"


def test_relation_frame_types_columns_from_oids(spark, tmp_path):
    """Relation-derived schemas are TYPED: user-declared types win for
    their columns; columns the user did not declare get the OID-mapped
    engine type (int4 → int here) instead of degrading to string — so a
    changelog-fidelity destination stores typed values without needing
    the current-state merge's snapshot anchor."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import MemorySink

    src = str(tmp_path / "frames")
    os.makedirs(src)
    rel = pgo.encode_relation(
        1, "public", "t", "d",
        [(1, "pk", 20, -1), (0, "val", 25, -1), (0, "n", 23, -1),
         (0, "ok", 16, -1), (0, "at", 1184, -1)])
    _write_frames(spark, src, [
        (-1, -1, rel),
        (10, 1, pgo.encode_begin(final_lsn=100, xid=1)),
        (11, 1, pgo.encode_insert(1, ["7", "a", "42", "t",
                                      "2024-01-02 03:04:05.5+00"])),
        (12, 1, pgo.encode_commit(100, 101)),
    ], "b0")
    sink = MemorySink()
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long").write.parquet(snap)
    # user declares ONLY pk — val and n come from the relation frame
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long")
    p = Pipeline(spark, src, [cfg], sink, str(tmp_path / "work"),
                 source_fmt="pgoutput")
    p.run_until_drained()
    assert cfg.payload_schema == (
        "pk long, val string, n int, ok boolean, at timestamp")
    (_, _, rows), = [b for b in sink.batches if b[0] == "public.t"]
    (row,) = rows
    assert row["pk"] == 7 and row["val"] == "a" and row["n"] == 42
    assert row["ok"] is True          # 't' → boolean via CAST
    import datetime as dt

    assert row["at"] == dt.datetime(2024, 1, 2, 3, 4, 5, 500000)
    # the schema registry recorded the typed ColumnDefs
    ver = p.schemas.asof("public.t", 10**9)
    assert {c.name: c.typ for c in ver[1]} == {
        "pk": "long", "val": "string", "n": "int",
        "ok": "boolean", "at": "timestamp"}


def test_pipeline_pgoutput_relation_rename_remaps_destination(spark, tmp_path):
    """Positional-decode path: a Relation republish renaming val→val2
    (same ordinal, same type OID — schema.rs:762-784 rename detection)
    must remap the destination. Pre-DDL tuples decode under 'val',
    post-DDL under 'val2'; the rename-aware decode coalesces the chain
    and the sink applies the DDL, so pre-DDL values surface under the
    NEW name — never NULLed, never split across two columns."""
    import json as _json
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    rel_v1 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1)])
    rel_v2 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val2", 25, -1)])
    _write_frames(spark, source, [
        (-1, -1, rel_v1),
        (10, 1, pgo.encode_begin(final_lsn=100, xid=1)),
        (11, 1, pgo.encode_insert(1, ["1", "a"])),
        (14, 1, rel_v2),
        (15, 1, pgo.encode_insert(1, ["2", "b"])),
        (16, 1, pgo.encode_commit(100, 101)),
    ], "b1")

    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    p = Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"),
                 source_fmt="pgoutput")
    p.run_until_drained()
    assert "val2" in cfg.payload_schema and " val " not in f" {cfg.payload_schema} "
    out = sink.read("public.users")
    assert "val" not in out.columns
    rows = {r.pk: r.val2 for r in out.select("pk", "val2").collect()}
    assert rows == {1: "a", 2: "b"}  # pre-DDL value preserved under val2


def test_pgoutput_cross_tx_rename_in_one_batch(spark, tmp_path):
    """A batch containing a COMMITTED pre-rename transaction AND the
    rename: the pre-rename tuples must decode against the relation IN
    FORCE at their stream position (per-frame versioned selection) and
    the decode's stream-position gate must pick the OLD name for them —
    commit-LSN gating alone cannot separate them once both transactions
    are in one batch."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    rel_v1 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1)])
    rel_v2 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "val2", 25, -1)])
    _write_frames(spark, source, [
        (1, -1, rel_v1),
        # tx 1: commits at 50, entirely PRE-rename
        (10, 1, pgo.encode_begin(final_lsn=50, xid=1)),
        (11, 1, pgo.encode_insert(1, ["1", "a"])),
        (12, 1, pgo.encode_commit(50, 51)),
        # the rename republish, then tx 2 under the new name
        (60, 2, pgo.encode_begin(final_lsn=100, xid=2)),
        (61, 2, rel_v2),
        (62, 2, pgo.encode_insert(1, ["2", "b"])),
        (63, 2, pgo.encode_commit(100, 101)),
    ], "b1")
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"),
             source_fmt="pgoutput").run_until_drained()
    out = sink.read("public.users")
    assert "val" not in out.columns
    assert {r.pk: r.val2 for r in out.select("pk", "val2").collect()} == \
        {1: "a", 2: "b"}


def test_pgoutput_mid_batch_drop_keeps_positional_alignment(spark, tmp_path):
    """DROP of a MIDDLE column mid-batch: pre-drop tuples are one cell
    WIDER and their later cells sit at shifted positions — decoding them
    against the post-drop relation (the old newest-wins behavior) keys
    cell 2's value under cell 1's post-drop name, silently corrupting
    every column after the drop point. Per-frame versioned selection
    keeps each tuple aligned with ITS schema."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    # v1: pk, gone, keep   (drop the MIDDLE column)
    rel_v1 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "gone", 25, -1),
                                  (0, "keep", 25, -1)])
    rel_v2 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "keep", 25, -1)])
    _write_frames(spark, source, [
        (1, -1, rel_v1),
        (10, 1, pgo.encode_begin(final_lsn=50, xid=1)),
        # pre-drop tuple: keep='K1' sits at POSITION 2
        (11, 1, pgo.encode_insert(1, ["1", "G1", "K1"])),
        (12, 1, pgo.encode_commit(50, 51)),
        (60, 2, pgo.encode_begin(final_lsn=100, xid=2)),
        (61, 2, rel_v2),
        # post-drop tuple: keep='K2' at POSITION 1
        (62, 2, pgo.encode_insert(1, ["2", "K2"])),
        (63, 2, pgo.encode_commit(100, 101)),
    ], "b1")
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, gone string, keep string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, gone string, keep string")
    Pipeline(spark, source, [cfg], sink, str(tmp_path / "work"),
             source_fmt="pgoutput").run_until_drained()
    out = sink.read("public.t")
    assert "gone" not in out.columns
    got = {r.pk: r.keep for r in out.select("pk", "keep").collect()}
    assert got == {1: "K1", 2: "K2"}  # K1 must NOT land under 'gone'/'keep' swap


def test_pgoutput_crash_replay_keeps_pre_ddl_decode(spark, tmp_path):
    """ADVICE r9 regression (medium): the relation registry must advance
    only after the batch SUCCEEDS. Batch 1 teaches v1 (pk, gone, keep).
    Batch 2 carries a pre-DDL 3-cell tuple (its RELATION learned in batch
    1, so absent from batch 2's overlay), the mid-column DROP republish
    (v2: pk, keep), a post-DDL 2-cell tuple — and FAILS at
    STORE_REPLICATION_PROGRESS after apply. Advancing the registry before
    apply would persist v2 newest-only, and the restart's replay would
    decode the pre-DDL tuple against v2 via rel_at's base fallback,
    keying 'G1' under 'keep'. With the deferred advance, the persisted
    registry still holds v1 across the crash and the replay decodes
    exactly as the first run did."""
    import json as _json
    import os

    from etl_spark import failpoints as fp
    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    rel_v1 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "gone", 25, -1),
                                  (0, "keep", 25, -1)])
    rel_v2 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "keep", 25, -1)])
    _write_frames(spark, source, [
        (1, -1, rel_v1),
        (10, 1, pgo.encode_begin(final_lsn=50, xid=1)),
        (11, 1, pgo.encode_insert(1, ["0", "G0", "K0"])),
        (12, 1, pgo.encode_commit(50, 51)),
    ], "b1")
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, gone string, keep string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, gone string, keep string")
    work = str(tmp_path / "work")
    Pipeline(spark, source, [cfg], sink, work,
             source_fmt="pgoutput").run_until_drained()

    # batch 2: pre-DDL tuple + DROP republish + post-DDL tuple, then crash
    _write_frames(spark, source, [
        (60, 2, pgo.encode_begin(final_lsn=90, xid=2)),
        (61, 2, pgo.encode_insert(1, ["1", "G1", "K1"])),  # 3 cells, v1
        (62, 2, pgo.encode_commit(90, 91)),
        (100, 3, pgo.encode_begin(final_lsn=140, xid=3)),
        (101, 3, rel_v2),                                   # the DROP
        (102, 3, pgo.encode_insert(1, ["2", "K2"])),        # 2 cells, v2
        (103, 3, pgo.encode_commit(140, 141)),
    ], "b2")
    fp.arm(fp.STORE_REPLICATION_PROGRESS)
    p = Pipeline(spark, source, [cfg], sink, work, source_fmt="pgoutput")
    with pytest.raises(Exception):
        p.run_until_drained()
    fp.disarm_all()

    # the sharp assertion: the PERSISTED registry survived the crash at
    # v1 — the replay's base is the same base the first attempt saw
    # (versioned store: newest entry is [wal_start, spec])
    with open(os.path.join(work, "pgoutput_relations.json")) as f:
        persisted = _json.load(f)
    assert persisted["1"][-1][1]["columns"] == ["pk", "gone", "keep"]

    p2 = Pipeline(spark, source, [cfg], sink, work, source_fmt="pgoutput")
    p2.run_until_drained()
    out = sink.read("public.t")
    assert "gone" not in out.columns
    got = {r.pk: r.keep for r in out.select("pk", "keep").collect()}
    assert got == {0: "K0", 1: "K1", 2: "K2"}  # K1 never keyed under v2
    # and the registry advanced with the successful replay: BOTH versions
    # retained, newest is v2 (the versioned store is what makes the
    # advance order crash-insensitive — see the next test)
    with open(os.path.join(work, "pgoutput_relations.json")) as f:
        advanced = _json.load(f)
    assert advanced["1"][-1][1]["columns"] == ["pk", "keep"]
    assert advanced["1"][0][1]["columns"] == ["pk", "gone", "keep"]


def test_pgoutput_crash_after_registry_advance_replays_correctly(spark, tmp_path):
    """ADVICE r9 regression (low): the frame queue marks the batch done
    only after ``_apply_batch`` RETURNS, so deferring the registry advance
    to batch success still leaves a residual window — registry advanced,
    commit mark not yet written. A crash there replays the batch against
    the ADVANCED registry. Same frames as the deferred-advance test, but
    the failpoint fires AFTER ``relations.ingest``: the persisted
    registry holds v2 when the replay decodes the pre-DDL 3-cell tuple.
    The versioned base must bisect that tuple (wal 61) to v1 (wal 1),
    not the newest v2 — a newest-only base would key 'G1' under 'keep'."""
    import json as _json
    import os

    from etl_spark import failpoints as fp
    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    rel_v1 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "gone", 25, -1),
                                  (0, "keep", 25, -1)])
    rel_v2 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "keep", 25, -1)])
    _write_frames(spark, source, [
        (1, -1, rel_v1),
        (10, 1, pgo.encode_begin(final_lsn=50, xid=1)),
        (11, 1, pgo.encode_insert(1, ["0", "G0", "K0"])),
        (12, 1, pgo.encode_commit(50, 51)),
    ], "b1")
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, gone string, keep string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, gone string, keep string")
    work = str(tmp_path / "work")
    Pipeline(spark, source, [cfg], sink, work,
             source_fmt="pgoutput").run_until_drained()

    # batch 2: pre-DDL tuple + DROP republish + post-DDL tuple, then
    # crash AFTER the registry advance (the residual window)
    _write_frames(spark, source, [
        (60, 2, pgo.encode_begin(final_lsn=90, xid=2)),
        (61, 2, pgo.encode_insert(1, ["1", "G1", "K1"])),  # 3 cells, v1
        (62, 2, pgo.encode_commit(90, 91)),
        (100, 3, pgo.encode_begin(final_lsn=140, xid=3)),
        (101, 3, rel_v2),                                   # the DROP
        (102, 3, pgo.encode_insert(1, ["2", "K2"])),        # 2 cells, v2
        (103, 3, pgo.encode_commit(140, 141)),
    ], "b2")
    fp.arm(fp.ADVANCE_RELATION_REGISTRY)
    p = Pipeline(spark, source, [cfg], sink, work, source_fmt="pgoutput")
    with pytest.raises(Exception):
        p.run_until_drained()
    fp.disarm_all()

    # the registry DID advance before the crash: v2 is persisted
    with open(os.path.join(work, "pgoutput_relations.json")) as f:
        persisted = _json.load(f)
    assert persisted["1"][-1][1]["columns"] == ["pk", "keep"]
    # ... and v1 is retained at its wal position for the replay's bisect
    assert persisted["1"][0][1]["columns"] == ["pk", "gone", "keep"]

    p2 = Pipeline(spark, source, [cfg], sink, work, source_fmt="pgoutput")
    p2.run_until_drained()
    out = sink.read("public.t")
    assert "gone" not in out.columns
    got = {r.pk: r.keep for r in out.select("pk", "keep").collect()}
    assert got == {0: "K0", 1: "K1", 2: "K2"}  # K1 never keyed under v2


@pytest.mark.parametrize(
    "seed",
    [int(s) for s in __import__("os").environ.get(
        "PGO_MODEL_SEEDS", "5,17,29,47").split(",")],
)
def test_pgoutput_random_ddl_crash_model(spark, tmp_path, seed):
    """Randomized end-to-end model over the PGOUTPUT pipeline's DDL x
    crash space (round-10 hardening of the versioned relation registry):
    a seeded script interleaves positional DML (one tx per event, cells
    under the schema in force at the event's LSN), ADD/DROP-last
    RELATION republishes, batch flushes, and crashes at BOTH
    registry-sensitive points — STORE_REPLICATION_PROGRESS (before the
    registry advance: replay sees the PRE-batch base) and
    ADVANCE_RELATION_REGISTRY (after it: replay sees the ADVANCED base
    and must bisect per frame). A driver-side LWW model applies the
    same events in LSN order; after every drain the destination must
    equal the model exactly under the current schema — any
    replay-induced positional mis-decode or schema drift fails the
    equality.

    Round-11 extension (round-10 verdict item #6): PUBLICATION
    MEMBERSHIP changes compose with the same action space. A second
    table ``public.u`` toggles in/out of the pipeline config mid-stream
    (always with an immediate drain, as a config change is): an
    unpublish drain must purge u's state + destination data
    (``reconcile_membership``, pipeline.rs:354-421) and DROP u's
    still-streaming frames (unrouted events never apply); a republish
    drain must re-copy from a fresh snapshot and apply only the events
    consumed from then on — events consumed while unpublished stay
    gone, exactly the reference's re-add semantics."""
    import os
    import random

    from etl_spark import failpoints as fp
    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    rng = random.Random(seed)
    source = str(tmp_path / "frames")
    os.makedirs(source)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "s1"), (2, "s2")],
                          "pk long, c0 string").write.parquet(snap)
    snap_u = str(tmp_path / "snap_u")
    spark.createDataFrame([(1, "u1"), (2, "u2")],
                          "pk long, v string").write.parquet(snap_u)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"],
                                   spark=spark)
    work = str(tmp_path / "work")
    published_u = [True]
    SNAP_U = {1: "u1", 2: "u2"}

    def mk_cfgs():
        # deliberately the ORIGINAL (stale) config every incarnation:
        # restarts must resync schema state from the persisted registry
        cfgs = [TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                            payload_schema="pk long, c0 string")]
        if published_u[0]:
            cfgs.append(TableConfig(
                name="public.u", snapshot_path=snap_u, keys=["pk"],
                payload_schema="pk long, v string"))
        return cfgs

    cols = ["c0"]                     # value columns; ADD appends, DROP pops
    model = {1: {"c0": "s1"}, 2: {"c0": "s2"}}
    model_u: dict | None = dict(SNAP_U)   # None = purged (unpublished)
    lsn = 100
    xid = 10
    gen = 1
    pend: list[tuple] = []
    pend_u_mut: list[tuple] = []      # u mutations not yet flushed
    consumable_u_mut: list[tuple] = []  # flushed, not yet consumed
    batch_no = 0

    def rel_frame():
        nonlocal lsn
        lsn += 1
        cdefs = [(1, "pk", 20, -1)] + [(0, c, 25, -1) for c in cols]
        return (lsn, -1, pgo.encode_relation(1, "public", "t", "d", cdefs))

    def dml_frames(op, pk, vals, rel=1):
        nonlocal lsn, xid
        xid += 1
        b, d, c = lsn + 1, lsn + 2, lsn + 3
        lsn += 3
        if op == "DELETE":
            body = pgo.encode_delete(rel, key=[str(pk)])
        elif op == "INSERT":
            body = pgo.encode_insert(rel, [str(pk)] + vals)
        else:
            body = pgo.encode_update(rel, [str(pk)] + vals)
        return [(b, xid, pgo.encode_begin(final_lsn=c, xid=xid)),
                (d, xid, body),
                (c, xid, pgo.encode_commit(c, c + 1))]

    def flush():
        nonlocal batch_no
        if pend:
            batch_no += 1
            _write_frames(spark, source, list(pend), f"b{batch_no:03d}")
            pend.clear()
            consumable_u_mut.extend(pend_u_mut)
            pend_u_mut.clear()

    def drain():
        nonlocal model_u
        Pipeline(spark, source, mk_cfgs(), sink, work,
                 source_fmt="pgoutput").run_until_drained()
        # everything flushed so far is consumed now: u's events apply
        # only if u is routed (published); otherwise they are DROPPED
        # for good — a later re-add must not resurrect them
        if published_u[0] and model_u is not None:
            for op, pk, val in consumable_u_mut:
                if op == "DELETE":
                    model_u.pop(pk, None)
                else:
                    model_u[pk] = val
        consumable_u_mut.clear()

    def check_u():
        try:
            rows = {r.pk: r.v for r in
                    sink.read("public.u").select("pk", "v").collect()}
        except Exception:
            rows = {}
        want = model_u if published_u[0] and model_u is not None else {}
        assert rows == want, f"seed={seed} u: got={rows} want={want}"

    def check():
        check_u()
        out = sink.read("public.t")
        # a pure pgoutput ADD (no default) materializes at the sink on
        # the FIRST post-ADD write (documented engine behavior) — a
        # column may be absent only while every model value for it is
        # still NULL
        present = [c for c in cols if c in out.columns]
        for c in cols:
            if c not in present:
                assert all(v.get(c) is None for v in model.values()), (
                    seed, c, model)
        got = {r["pk"]: {c: r[c] for c in present}
               for r in out.select("pk", *present).collect()}
        want = {pk: {c: v.get(c) for c in present} for pk, v in model.items()}
        assert got == want, f"seed={seed}\n got={got}\n want={want}"

    pend.append(rel_frame())          # initial RELATION: registry learns v1
    lsn += 1                          # u's RELATION: rel_id 2, fixed schema
    pend.append((lsn, -1, pgo.encode_relation(
        2, "public", "u", "d", [(1, "pk", 20, -1), (0, "v", 25, -1)])))

    for _step in range(14):
        action = rng.choices(
            ["dml", "add", "drop", "truncate", "flush_run", "crash_early",
             "crash_late", "crash_post", "toggle_u"],
            weights=[7, 2, 1, 1, 2, 2, 2, 2, 2])[0]
        if action == "toggle_u":
            # membership change + immediate drain (a config change IS a
            # restart): unpublish purges state+destination; republish
            # re-copies the snapshot, then applies this drain's consumed
            # events on top
            published_u[0] = not published_u[0]
            model_u = dict(SNAP_U) if published_u[0] else None
            flush()
            drain()
            check()
        elif action == "add":
            cols.append(f"c{gen}")
            gen += 1
            pend.append(rel_frame())  # pgoutput plain ADD: NULL backfill
        elif action == "drop" and len(cols) > 1:
            dropped = cols.pop()      # drop-last: unambiguous ordinal diff
            for v in model.values():
                v.pop(dropped, None)
            pend.append(rel_frame())
        elif action == "truncate":
            # transactional TRUNCATE frame: destination resets; replays
            # of the containing batch must stay convergent
            xid += 1
            b, d, c = lsn + 1, lsn + 2, lsn + 3
            lsn += 3
            pend.extend([
                (b, xid, pgo.encode_begin(final_lsn=c, xid=xid)),
                (d, xid, pgo.encode_truncate([1])),
                (c, xid, pgo.encode_commit(c, c + 1)),
            ])
            model.clear()
        elif action in ("flush_run", "crash_early", "crash_late", "crash_post"):
            fresh = bool(pend)  # a crash needs an unprocessed batch to hit
            flush()
            crash = {"crash_early": fp.STORE_REPLICATION_PROGRESS,
                     "crash_late": fp.ADVANCE_RELATION_REGISTRY,
                     "crash_post": fp.ADVANCE_TX_REGISTRY}.get(action)
            if crash and fresh:
                fp.arm(crash)
                try:
                    with pytest.raises(Exception):
                        drain()
                finally:
                    fp.disarm_all()
            drain()                   # (re)play to convergence
            check()
        else:  # dml
            pk = rng.randint(1, 5)
            op = rng.choice(["INSERT", "UPDATE", "UPDATE", "DELETE"])
            if rng.random() < 0.3:
                # u's stream keeps flowing regardless of membership —
                # the engine must drop unrouted frames, not choke on them
                if op == "DELETE":
                    pend.extend(dml_frames("DELETE", pk, [], rel=2))
                    pend_u_mut.append(("DELETE", pk, None))
                else:
                    val = f"w{lsn}"
                    pend.extend(dml_frames(op, pk, [val], rel=2))
                    pend_u_mut.append((op, pk, val))
            elif op == "DELETE":
                pend.extend(dml_frames("DELETE", pk, []))
                model.pop(pk, None)
            else:
                vals = [f"v{lsn}_{c}" if rng.random() < 0.85 else None
                        for c in cols]
                pend.extend(dml_frames(op, pk, vals))
                model[pk] = dict(zip(cols, vals))
    flush()
    drain()
    check()


def test_pgoutput_crash_after_tx_advance_replays_correctly(spark, tmp_path):
    """Round-10 hardening (sibling of the relation-registry window): a
    crash AFTER txs.advance_parsed but before the queue's commit mark
    replays the batch against the ADVANCED tx state. For a cross-batch
    transaction whose COMMIT was in the crashed batch, the advanced
    state has the xid POPPED — the strict no-begin-state decode would
    fail every replay (crash loop) — and a still-open continuation
    would re-number its ordinals. The generational registry's
    ``snapshot_for(first wal)`` hands the replay the exact pre-batch
    state: the replay decodes identically (same commit_lsn, same
    tx_ordinals) and sink dedup absorbs it."""
    import os

    from etl_spark import failpoints as fp
    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    source = str(tmp_path / "frames")
    os.makedirs(source)
    rel = pgo.encode_relation(1, "public", "t", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    # batch 1: tx 5 OPENS and stays open (BEGIN + one INSERT, no COMMIT)
    _write_frames(spark, source, [
        (1, -1, rel),
        (10, 5, pgo.encode_begin(final_lsn=500, xid=5)),
        (11, 5, pgo.encode_insert(1, ["1", "a"])),
    ], "b1")
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"],
                                   spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    work = str(tmp_path / "work")
    Pipeline(spark, source, [cfg], sink, work,
             source_fmt="pgoutput").run_until_drained()

    # batch 2: tx 5 CONTINUES (no BEGIN here) and COMMITS; crash fires
    # after BOTH registry advances (xid 5 now popped from the newest
    # tx generation), before the batch's commit mark is written
    _write_frames(spark, source, [
        (20, 5, pgo.encode_update(1, ["1", "a2"])),
        (21, 5, pgo.encode_insert(1, ["2", "b"])),
        (22, 5, pgo.encode_commit(500, 501)),
    ], "b2")
    fp.arm(fp.ADVANCE_TX_REGISTRY)
    p = Pipeline(spark, source, [cfg], sink, work, source_fmt="pgoutput")
    with pytest.raises(Exception):
        p.run_until_drained()
    fp.disarm_all()

    # replay converges: no crash loop, exact values, and the ordinals
    # CONTINUE the pre-crash numbering (offset 1 from batch 1) — a
    # newest-state carry would have re-numbered or failed outright
    Pipeline(spark, source, [cfg], sink, work,
             source_fmt="pgoutput").run_until_drained()
    out = sink.read("public.t")
    got = {r.pk: (r.val, int(r.commit_lsn), int(r.tx_ordinal))
           for r in out.select("pk", "val", "commit_lsn", "tx_ordinal").collect()}
    assert got == {1: ("a2", 500, 1), 2: ("b", 500, 2)}, got


def test_tx_registry_refolds_on_transport_replay(spark, tmp_path):
    """Same-batch replay (superseding exactly the newest generation)
    re-folds idempotently; a fold undercutting MORE generations is the
    transport-replay path (slot re-send from the durable flush LSN):
    warned for visibility and re-folded from the LSN-exact base (ADVICE
    r10, relaxed in r11 when the randomized pump-replay model proved
    the strict guard mis-fires on legitimate slot replays)."""
    reg = pgo.PersistentTxRegistry(str(tmp_path / "tx.json"))
    b1 = [
        (10, 5, pgo.encode_begin(final_lsn=500, xid=5)),
        (11, 5, pgo.encode_insert(1, ["1", "a"])),
    ]
    b2 = [
        (20, 5, pgo.encode_insert(1, ["2", "b"])),
    ]
    _fold_tx(reg, tmp_path, b1, "b1")
    _fold_tx(reg, tmp_path, b2, "b2")
    assert [g[0] for g in reg._gens] == [11, 20]
    # legit replay of the newest batch: idempotent re-fold
    _fold_tx(reg, tmp_path, b2, "b2")
    assert [g[0] for g in reg._gens] == [11, 20]
    assert reg.snapshot()[5]["ordinal_offset"] == 2
    # a fold undercutting BOTH generations = transport replay from the
    # durable flush LSN (the slot re-sends whole transactions): warn for
    # visibility and RE-FOLD from the LSN-exact pre-batch base — the
    # replayed stream rebuilds everything the dropped generations held
    replay = [
        (10, 5, pgo.encode_begin(final_lsn=500, xid=5)),
        (11, 5, pgo.encode_insert(1, ["1", "a"])),
    ]
    import warnings as _w

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        _fold_tx(reg, tmp_path, replay, "replay")
    assert any("multi-generation WAL re-fold" in str(r.message) for r in rec)
    # state converged to the same fold the first delivery produced
    assert reg.snapshot()[5]["ordinal_offset"] == 1
    assert [g[0] for g in reg._gens][-1] == 11
