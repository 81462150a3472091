"""The live-source boundary: interface shape, wire codecs, recorded
transport, distributed decode, pump loops (LIVE_SOURCE.md; the socket
transport itself is covered in tests/test_socket_transport.py)."""

from __future__ import annotations

import inspect

import pytest

from etl_spark.sources.live import (
    PostgresReplicationSource,
    ReplicationFrameSource,
    SlotInfo,
)


def test_dsn_source_constructs_offline_and_fails_loudly_unreachable():
    """Round 12: PostgresReplicationSource is a REAL transport (socket),
    no longer a stub. Constructing records the wiring without touching
    the network; a verb against an unreachable server fails with a
    normal connection error, never a silent simulation."""
    src = PostgresReplicationSource("postgres://u:pw@127.0.0.1:1/db", "pub")
    assert src.dsn == "postgres://u:pw@127.0.0.1:1/db"
    assert src._inner.user == "u" and src._inner.database == "db"
    assert src._inner.password == "pw" and src._inner.port == 1
    with pytest.raises(OSError):
        src.create_slot("s1")
    with pytest.raises(ValueError, match="not a postgres DSN"):
        PostgresReplicationSource("mysql://h/db", "pub")


def test_interface_contract_shape():
    """The engine-facing surface is exactly these four verbs; a live
    implementation that subclasses without all of them cannot even
    instantiate (ABC), and SlotInfo carries the handoff fields."""
    abstract = {
        name
        for name, m in inspect.getmembers(ReplicationFrameSource)
        if getattr(m, "__isabstractmethod__", False)
    }
    assert abstract == {
        "create_slot", "start", "poll_frames", "send_status_update",
    }
    info = SlotInfo(slot_name="s", consistent_point=42)
    assert info.snapshot_name is None and info.consistent_point == 42

    class Incomplete(ReplicationFrameSource):
        def create_slot(self, slot_name, export_snapshot=False):
            return SlotInfo(slot_name, 0)

    with pytest.raises(TypeError):
        Incomplete()  # missing the other three verbs


# ---------------------------------------------------------------------------
# Round-11: wire-level copy-both framing over recorded byte streams
# ---------------------------------------------------------------------------

from etl_spark.sources import live
from etl_spark.sources import pgoutput as pgo


def test_wire_codec_roundtrip():
    f = pgo.encode_insert(1, ["1", "a"])
    x = live.parse_copy_payload(live.encode_xlog_data(7, 9, 1234, f))
    assert x == {"kind": "XLogData", "wal_start": 7, "wal_end": 9,
                 "clock": 1234, "frame": f}
    k = live.parse_copy_payload(live.encode_keepalive(42, 5, reply_requested=True))
    assert k == {"kind": "KeepAlive", "wal_end": 42, "clock": 5,
                 "reply_requested": True}
    r = live.parse_copy_payload(live.encode_status_update(10, 8, 8, 77))
    assert r["kind"] == "StatusUpdate" and r["flush_lsn"] == 8


def test_wire_codec_roundtrip_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    lsn = st.integers(min_value=0, max_value=2**62)

    @settings(max_examples=200, deadline=None)
    @given(ws=lsn, we=lsn, clk=lsn, frame=st.binary(max_size=200),
           reply=st.booleans())
    def go(ws, we, clk, frame, reply):
        p = live.parse_copy_payload(live.encode_xlog_data(ws, we, clk, frame))
        assert (p["wal_start"], p["wal_end"], p["clock"], p["frame"]) == (
            ws, we, clk, frame)
        k = live.parse_copy_payload(live.encode_keepalive(we, clk, reply))
        assert (k["wal_end"], k["reply_requested"]) == (we, reply)
        # stream framing survives arbitrary message mixes
        msgs = [live.encode_xlog_data(ws, we, clk, frame),
                live.encode_keepalive(we, clk, reply)]
        assert list(live.iter_copy_messages(live.encode_copy_stream(msgs))) == msgs

    go()


def test_wire_stream_desync_fails_loudly():
    f = live.encode_copy_stream([live.encode_keepalive(1, 1)])
    with pytest.raises(ValueError, match="desync"):
        list(live.iter_copy_messages(b"X" + f))
    with pytest.raises(ValueError, match="truncated"):
        list(live.iter_copy_messages(f[:-3]))
    with pytest.raises(ValueError, match="unknown replication message"):
        live.parse_copy_payload(b"z123")


def _recorded_two_tx_stream():
    """RELATION outside any tx, two back-to-back transactions, keepalives
    (one requesting a reply) mixed through — the copy-both stream shape a
    live server produces (replication_message.rs)."""
    rel = pgo.encode_relation(1, "public", "users", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    msgs = [
        live.encode_xlog_data(5, 6, 0, rel),
        live.encode_xlog_data(10, 11, 1, pgo.encode_begin(final_lsn=19, xid=701)),
        live.encode_xlog_data(11, 12, 2, pgo.encode_insert(1, ["1", "a"])),
        live.encode_keepalive(12, 3, reply_requested=True),
        live.encode_xlog_data(12, 13, 4, pgo.encode_insert(1, ["2", "b"])),
        live.encode_xlog_data(19, 20, 5, pgo.encode_commit(19, 20)),
        live.encode_xlog_data(30, 31, 6, pgo.encode_begin(final_lsn=39, xid=702)),
        live.encode_xlog_data(31, 32, 7, pgo.encode_update(1, ["1", "a2"], key=["1"])),
        live.encode_xlog_data(39, 40, 8, pgo.encode_commit(39, 40)),
        live.encode_keepalive(40, 9, reply_requested=False),
    ]
    return live.encode_copy_stream(msgs)


def test_recorded_source_end_to_end_with_keepalive_reply():
    src = live.RecordedReplicationSource(_recorded_two_tx_stream())
    src.start("slot", 0)
    src.send_status_update(0, 19)  # engine reports a durable flush point
    rows = src.poll_frames(1 << 20)
    # every XLogData became one FRAME_SCHEMA row; keepalives did not.
    # xid = the BEGIN's wal position (u32-wrap-proof synthetic identity,
    # matching assign_xids), never the wire field (701/702 here)
    assert [(w, x, f[:1]) for w, x, f in rows] == [
        (5, -1, b"R"),                     # outside any tx
        (10, 10, b"B"), (11, 10, b"I"), (12, 10, b"I"), (19, 10, b"C"),
        (30, 30, b"B"), (31, 30, b"U"), (39, 30, b"C"),
    ]
    # the reply-requested keepalive triggered a standby status update
    # carrying the engine's ack-gated flush LSN — byte-checked
    ups = [live.parse_copy_payload(u) for u in src.sent_updates]
    assert ups[-1]["kind"] == "StatusUpdate"
    assert ups[-1]["flush_lsn"] == 19          # never ahead of the ack
    assert ups[-1]["write_lsn"] == 12          # max wal_end seen at reply time
    # monotonic: a stale (lower) report never regresses the sent LSNs —
    # exact values pinned (write stays at the clamped 12, flush at 19)
    src.send_status_update(1, 2)
    last = live.parse_copy_payload(src.sent_updates[-1])
    assert (last["write_lsn"], last["flush_lsn"]) == (12, 19)


def test_recorded_source_start_lsn_replays_midstream():
    """START_REPLICATION from the durable flush LSN: transactions whose
    COMMIT is confirmed are skipped WHOLE; out-of-transaction metadata
    (RELATION re-sends per connection) always re-delivers."""
    src = live.RecordedReplicationSource(_recorded_two_tx_stream())
    src.start("slot", 30)
    rows = src.poll_frames(1 << 20)
    assert [(w, f[:1]) for w, _, f in rows] == [
        (5, b"R"), (30, b"B"), (31, b"U"), (39, b"C")]
    with pytest.raises(RuntimeError, match="before start"):
        live.RecordedReplicationSource(b"").poll_frames(1)


def test_recorded_source_replays_whole_tx_across_flush_boundary():
    """A transaction that BEGAN before the confirmed point but COMMITTED
    after it re-delivers IN FULL — logical decoding fences on commit
    positions, not per-record positions; skipping its early records would
    silently lose committed data."""
    msgs = [
        # tx A: commit 20 — fully confirmed at start_lsn 25
        live.encode_xlog_data(10, 11, 0, pgo.encode_begin(final_lsn=20, xid=1)),
        live.encode_xlog_data(11, 12, 0, pgo.encode_insert(1, ["1", "a"])),
        live.encode_xlog_data(20, 21, 0, pgo.encode_commit(20, 21)),
        # tx B: began at 15 (BELOW the flush point) but committed at 40
        live.encode_xlog_data(15, 16, 0, pgo.encode_begin(final_lsn=40, xid=2)),
        live.encode_xlog_data(16, 17, 0, pgo.encode_insert(1, ["2", "b"])),
        live.encode_xlog_data(40, 41, 0, pgo.encode_commit(40, 41)),
    ]
    src = live.RecordedReplicationSource(live.encode_copy_stream(msgs))
    src.start("slot", 25)
    rows = src.poll_frames(1 << 20)
    # tx A gone whole; tx B re-delivered whole, records below 25 included
    assert [(w, x, f[:1]) for w, x, f in rows] == [
        (15, 15, b"B"), (16, 15, b"I"), (40, 15, b"C")]


def test_recorded_source_max_bytes_budget():
    src = live.RecordedReplicationSource(_recorded_two_tx_stream())
    src.start("slot", 0)
    a = src.poll_frames(1)          # one frame per poll at a 1-byte budget
    assert len(a) == 1 and a[0][2][:1] == b"R"
    rest = src.poll_frames(1 << 20)
    assert len(rest) == 7           # drain continues where the poll stopped


def test_distributed_unwrap_matches_sequential_source(spark):
    """The distributed chunk unwrap + BEGIN-span xid recovery produces the
    same frames as the sequential RecordedReplicationSource, and the
    decoded envelope matches decoding the sequential rows directly —
    whether the xids come from assign_xids or from the decoder itself
    (unwrapped frames with no xid column)."""
    stream = _recorded_two_tx_stream()
    src = live.RecordedReplicationSource(stream)
    src.start("slot", 0)
    seq_rows = src.poll_frames(1 << 20)

    chunks = spark.createDataFrame([(bytearray(stream),)], "chunk binary")
    dist = live.assign_xids(live.unwrap_xlog_chunks(chunks))
    got = sorted((r.wal_start, r.frame) for r in dist.collect())
    want = sorted((w, f) for w, _, f in seq_rows)
    assert [(w, bytes(f)) for w, f in got] == [(w, bytes(f)) for w, f in want]

    seq_df = spark.createDataFrame(
        [(w, x, bytearray(f)) for w, x, f in seq_rows], pgo.FRAME_SCHEMA)
    env_a = pgo.decode_frames(dist).filter("op != 'RELATION'")
    env_b = pgo.decode_frames(seq_df).filter("op != 'RELATION'")
    unwrapped = live.unwrap_xlog_chunks(chunks)
    assert "xid" not in unwrapped.columns
    env_c = pgo.decode_frames(unwrapped).filter("op != 'RELATION'")
    ka, kb, kc = (
        sorted((r.op, r.commit_lsn, r.tx_ordinal, r.start_lsn, r.after)
               for r in e.collect())
        for e in (env_a, env_b, env_c))
    assert ka == kb == kc and len(ka) == 3


def test_frame_pump_recorded_stream_to_pipeline_end_to_end(spark, tmp_path):
    """The full transport→engine loop over a recorded copy-both stream:
    FrameFilePump polls the RecordedReplicationSource, ships frame files
    into the pipeline's source queue, the pgoutput pipeline applies them,
    and the pump acks the ENGINE's durable flush LSN back to the
    transport — the status updates must track the advancing flush point
    and never run ahead of it."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    rel = pgo.encode_relation(1, "public", "t", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    msgs = [live.encode_xlog_data(5, 6, 0, rel)]
    lsn = 10
    for pk, val in [(1, "a"), (2, "b"), (1, "a2"), (3, "c")]:
        xid = lsn
        msgs += [
            live.encode_xlog_data(lsn, lsn + 1, 0,
                                  pgo.encode_begin(final_lsn=lsn + 2, xid=xid)),
            live.encode_xlog_data(lsn + 1, lsn + 2, 0,
                                  pgo.encode_insert(1, [str(pk), val])
                                  if val in ("a", "b", "c")
                                  else pgo.encode_update(1, [str(pk), val])),
            live.encode_xlog_data(lsn + 2, lsn + 3, 0,
                                  pgo.encode_commit(lsn + 2, lsn + 3)),
        ]
        lsn += 10
    stream = live.encode_copy_stream(msgs)

    src_dir = str(tmp_path / "frames")
    os.makedirs(src_dir)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"],
                                   spark=spark)
    # the slot's exported snapshot of a (here: empty) table seeds the
    # destination before the stream applies (T6 handoff)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    pipe = Pipeline(spark, src_dir, [cfg], sink, str(tmp_path / "work"),
                    source_fmt="pgoutput")

    source = live.RecordedReplicationSource(stream)
    source.start("slot", 0)
    # small byte budget => multiple pump batches => multiple acks
    pump = live.FrameFilePump(source, spark, src_dir, control=pipe.control,
                              batch_bytes=60)
    pump.run_until_source_drained(pipe)

    got = {r.pk: r.val for r in
           sink.read("public.t").select("pk", "val").collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}

    ups = [live.parse_copy_payload(u) for u in source.sent_updates]
    assert ups, "no status updates sent"
    flushes = [u["flush_lsn"] for u in ups]
    # monotone, advances with the applied batches, ends at the final
    # commit's LSN, and write position never lags the flush position
    assert flushes == sorted(flushes)
    assert flushes[-1] == int(pipe.control.flush_lsn) > 0
    assert all(u["write_lsn"] >= u["flush_lsn"] for u in ups)


def test_unwrap_all_keepalive_chunk_yields_zero_rows(spark):
    """A chunk carrying only keepalives unwraps to zero rows (no Arrow
    empty-frame breakage) and xid assignment degrades gracefully with no
    BEGINs in sight."""
    stream = live.encode_copy_stream(
        [live.encode_keepalive(5, 1), live.encode_keepalive(9, 2)])
    df = live.unwrap_xlog_chunks(
        spark.createDataFrame([(bytearray(stream),)], "chunk binary"))
    assert live.assign_xids(df).count() == 0


def test_frame_pump_restart_never_reuses_file_names(spark, tmp_path):
    """A restarted pump must not reuse pump file names: the frame
    queue records applied file names, so a reused name's replayed frames
    would be silently ignored (at-least-once replay lost)."""
    import os

    src_dir = str(tmp_path / "frames")
    os.makedirs(src_dir)
    stream = live.encode_copy_stream([
        live.encode_xlog_data(10, 11, 0, pgo.encode_begin(final_lsn=12, xid=1)),
        live.encode_xlog_data(11, 12, 0, pgo.encode_insert(1, ["1", "a"])),
        live.encode_xlog_data(12, 13, 0, pgo.encode_commit(12, 13)),
    ])
    s1 = live.RecordedReplicationSource(stream)
    s1.start("slot", 0)
    live.FrameFilePump(s1, spark, src_dir).drain_once()
    assert sorted(os.listdir(src_dir)) == ["pump000001.parquet"]
    # crash-restart: new pump incarnation, transport replays from 0
    s2 = live.RecordedReplicationSource(stream)
    s2.start("slot", 0)
    live.FrameFilePump(s2, spark, src_dir).drain_once()
    assert sorted(os.listdir(src_dir)) == [
        "pump000001.parquet", "pump000002.parquet"]


def test_frame_pump_crash_restart_replays_from_flush_lsn(spark, tmp_path):
    """The full at-least-once loop across the transport boundary: pump a
    prefix, apply it, 'crash' (lose the pump + source), restart with a
    FRESH source positioned at the engine's durable flush LSN — the
    transport replays the unconfirmed suffix (plus per-connection
    metadata), the pipeline absorbs the overlap idempotently, and the
    destination converges to the full-stream state."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    rel = pgo.encode_relation(1, "public", "t", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    msgs = [live.encode_xlog_data(5, 6, 0, rel)]
    lsn = 10
    expected = {}
    for pk, val in [(1, "a"), (2, "b"), (1, "a2"), (3, "c"), (2, "b2")]:
        op = pgo.encode_insert(1, [str(pk), val]) if pk not in expected \
            else pgo.encode_update(1, [str(pk), val])
        expected[pk] = val
        msgs += [
            live.encode_xlog_data(lsn, lsn + 1, 0,
                                  pgo.encode_begin(final_lsn=lsn + 2, xid=1)),
            live.encode_xlog_data(lsn + 1, lsn + 2, 0, op),
            live.encode_xlog_data(lsn + 2, lsn + 3, 0,
                                  pgo.encode_commit(lsn + 2, lsn + 3)),
        ]
        lsn += 10
    stream = live.encode_copy_stream(msgs)

    src_dir = str(tmp_path / "frames")
    os.makedirs(src_dir)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"],
                                   spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    pipe = Pipeline(spark, src_dir, [cfg], sink, str(tmp_path / "work"),
                    source_fmt="pgoutput")

    # incarnation 1: pump TWO small batches, apply, then crash
    s1 = live.RecordedReplicationSource(stream)
    s1.start("slot", 0)
    p1 = live.FrameFilePump(s1, spark, src_dir, control=pipe.control,
                            batch_bytes=80)
    p1.drain_once()
    p1.drain_once()
    pipe.run_until_drained()
    p1.report_progress()
    flush_mid = int(pipe.control.flush_lsn)
    assert 0 < flush_mid < lsn - 8  # genuinely mid-stream

    # incarnation 2: fresh source + pump; START_REPLICATION from the
    # durable flush point (what a reconnect does against the slot)
    pipe2 = Pipeline(spark, src_dir, [cfg], sink, str(tmp_path / "work"),
                     source_fmt="pgoutput")
    s2 = live.RecordedReplicationSource(stream)
    s2.start("slot", flush_mid)
    p2 = live.FrameFilePump(s2, spark, src_dir, control=pipe2.control,
                            batch_bytes=1 << 20)
    p2.run_until_source_drained(pipe2)

    got = {r.pk: r.val for r in
           sink.read("public.t").select("pk", "val").collect()}
    assert got == expected
    # the restart's final ack reaches the last commit
    last = live.parse_copy_payload(s2.sent_updates[-1])
    assert last["flush_lsn"] == int(pipe2.control.flush_lsn) == lsn - 8


@pytest.mark.parametrize("seed", [3, 11, 23, 42])
def test_pump_random_replay_model(spark, tmp_path, seed):
    """Randomized transport-replay model: a seeded random stream (mixed
    ops over a small key space, keepalives, metadata re-sends) is pumped
    through RANDOM crash/restart points, each restart positioning a fresh
    source at the engine's durable flush LSN. Any mis-fencing in the
    transaction-granular replay (lost records, re-decoded partials,
    dropped metadata) diverges the destination from the driver-side LWW
    model."""
    import os
    import random

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    rng = random.Random(seed)
    rel = pgo.encode_relation(1, "public", "t", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    msgs = [live.encode_xlog_data(5, 6, 0, rel)]
    model: dict[int, str] = {}
    lsn = 10
    for _ in range(rng.randint(8, 16)):
        n_dml = rng.randint(1, 3)  # multi-record transactions
        tx_msgs = [live.encode_xlog_data(
            lsn, lsn + 1, 0,
            pgo.encode_begin(final_lsn=lsn + n_dml + 1, xid=1))]
        staged = {}
        for i in range(1, n_dml + 1):
            pk = rng.randint(1, 4)
            kind = rng.choice(["up", "up", "del"])
            if kind == "del" and (pk in model or pk in staged):
                body = pgo.encode_delete(1, key=[str(pk)])
                staged[pk] = None
            else:
                val = f"v{lsn + i}"
                cur = staged.get(pk, model.get(pk))
                body = (pgo.encode_update(1, [str(pk), val], key=[str(pk)])
                        if cur is not None
                        else pgo.encode_insert(1, [str(pk), val]))
                staged[pk] = val
            tx_msgs.append(live.encode_xlog_data(lsn + i, lsn + i + 1, 0, body))
        tx_msgs.append(live.encode_xlog_data(
            lsn + n_dml + 1, lsn + n_dml + 2, 0,
            pgo.encode_commit(lsn + n_dml + 1, lsn + n_dml + 2)))
        if rng.random() < 0.3:
            tx_msgs.insert(rng.randint(1, len(tx_msgs) - 1),
                           live.encode_keepalive(lsn, 0, rng.random() < 0.5))
        msgs.extend(tx_msgs)
        for pk, v in staged.items():
            if v is None:
                model.pop(pk, None)
            else:
                model[pk] = v
        lsn += n_dml + 10
    stream = live.encode_copy_stream(msgs)

    src_dir = str(tmp_path / "frames")
    os.makedirs(src_dir)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"],
                                   spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    work = str(tmp_path / "work")

    # random crash/restart loop: each incarnation pumps a random number
    # of random-size batches, applies, acks, then "crashes"
    for _incarnation in range(4):
        pipe = Pipeline(spark, src_dir, [cfg], sink, work,
                        source_fmt="pgoutput")
        src = live.RecordedReplicationSource(stream)
        src.start("slot", int(pipe.control.flush_lsn))
        pump = live.FrameFilePump(src, spark, src_dir, control=pipe.control,
                                  batch_bytes=rng.choice([60, 150, 400]))
        for _ in range(rng.randint(1, 3)):
            if pump.drain_once() == 0:
                break
            pipe.run_until_drained()
            pump.report_progress()
    # final incarnation drains whatever remains
    pipe = Pipeline(spark, src_dir, [cfg], sink, work, source_fmt="pgoutput")
    src = live.RecordedReplicationSource(stream)
    src.start("slot", int(pipe.control.flush_lsn))
    pump = live.FrameFilePump(src, spark, src_dir, control=pipe.control)
    pump.run_until_source_drained(pipe)

    got = {r.pk: r.val for r in
           sink.read("public.t").select("pk", "val").collect()}
    assert got == model, f"seed={seed} got={got} want={model}"


def test_frame_pump_ddl_republish_across_crash_boundary(spark, tmp_path):
    """Wire transport × DDL: a RELATION republish (ADD column) rides the
    recorded stream between two transactions, with a crash/restart
    straddling the DDL — the restarted transport re-delivers the
    republish (out-of-tx metadata always re-sends) plus the unconfirmed
    transactions, and the destination lands on the post-DDL schema with
    pre-DDL rows NULL-backfilled."""
    import os

    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    rel_v1 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1)])
    rel_v2 = pgo.encode_relation(1, "public", "t", "d",
                                 [(1, "pk", 20, -1), (0, "val", 25, -1),
                                  (0, "extra", 25, -1)])
    msgs = [
        live.encode_xlog_data(5, 6, 0, rel_v1),
        live.encode_xlog_data(10, 11, 0, pgo.encode_begin(final_lsn=12, xid=1)),
        live.encode_xlog_data(11, 12, 0, pgo.encode_insert(1, ["1", "a"])),
        live.encode_xlog_data(12, 13, 0, pgo.encode_commit(12, 13)),
        # DDL: ADD COLUMN extra -> republish, between transactions
        live.encode_xlog_data(15, 16, 0, rel_v2),
        live.encode_xlog_data(20, 21, 0, pgo.encode_begin(final_lsn=22, xid=2)),
        live.encode_xlog_data(21, 22, 0, pgo.encode_insert(1, ["2", "b", "x2"])),
        live.encode_xlog_data(22, 23, 0, pgo.encode_commit(22, 23)),
        live.encode_xlog_data(30, 31, 0, pgo.encode_begin(final_lsn=32, xid=3)),
        live.encode_xlog_data(31, 32, 0,
                              pgo.encode_update(1, ["1", "a2", "x1"], key=["1"])),
        live.encode_xlog_data(32, 33, 0, pgo.encode_commit(32, 33)),
    ]
    stream = live.encode_copy_stream(msgs)

    src_dir = str(tmp_path / "frames")
    os.makedirs(src_dir)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = ParquetCurrentStateSink(str(tmp_path / "sink"), keys=["pk"],
                                   spark=spark)
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    work = str(tmp_path / "work")

    # incarnation 1: pump just past the FIRST transaction, apply, crash
    pipe = Pipeline(spark, src_dir, [cfg], sink, work, source_fmt="pgoutput")
    s1 = live.RecordedReplicationSource(stream)
    s1.start("slot", 0)
    p1 = live.FrameFilePump(s1, spark, src_dir, control=pipe.control,
                            batch_bytes=100)
    p1.drain_once()
    pipe.run_until_drained()
    assert int(pipe.control.flush_lsn) == 12  # only tx1 applied

    # incarnation 2: restart from the flush LSN; the replay carries the
    # v2 republish + both post-DDL transactions
    pipe2 = Pipeline(spark, src_dir, [cfg], sink, work, source_fmt="pgoutput")
    s2 = live.RecordedReplicationSource(stream)
    s2.start("slot", int(pipe2.control.flush_lsn))
    p2 = live.FrameFilePump(s2, spark, src_dir, control=pipe2.control)
    p2.run_until_source_drained(pipe2)

    out = sink.read("public.t")
    assert "extra" in out.columns
    got = {r.pk: (r.val, r.extra) for r in
           out.select("pk", "val", "extra").collect()}
    assert got == {1: ("a2", "x1"), 2: ("b", "x2")}


def test_pinned_batch_replays_alone_after_crash(spark, tmp_path):
    """A crash after the DuckDB commit and before the flush advance
    leaves batch 0 pinned but not committed. The restarted pump writes a
    second file holding the re-sent transaction plus a new one. The
    pinned batch must re-apply alone, under its own id (the DuckDB
    ledger skips it), and the new file as the next batch: folded into
    batch 0, the ledger would skip the new transaction too."""
    import os

    from etl_spark import failpoints as fp
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink
    from etl_spark.streaming.pipeline import Pipeline, TableConfig

    rel = live.encode_xlog_data(5, 6, 0, pgo.encode_relation(
        1, "public", "t", "d", [(1, "pk", 20, -1), (0, "val", 25, -1)]))

    def tx(lsn, pk, val):
        return [
            live.encode_xlog_data(lsn, lsn + 1, 0,
                                  pgo.encode_begin(final_lsn=lsn + 2, xid=1)),
            live.encode_xlog_data(lsn + 1, lsn + 2, 0,
                                  pgo.encode_insert(1, [str(pk), val])),
            live.encode_xlog_data(lsn + 2, lsn + 3, 0,
                                  pgo.encode_commit(lsn + 2, lsn + 3)),
        ]

    src_dir = str(tmp_path / "frames")
    os.makedirs(src_dir)
    snap = str(tmp_path / "snap")
    spark.createDataFrame([], "pk long, val string").write.parquet(snap)
    sink = DuckDBCurrentStateSink(str(tmp_path / "wh.duckdb"),
                                  keys={"public.t": ["pk"]},
                                  staging_dir=str(tmp_path / "stage"))
    cfg = TableConfig(name="public.t", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, val string")
    work = str(tmp_path / "work")

    pipe = Pipeline(spark, src_dir, [cfg], sink, work, source_fmt="pgoutput")
    s1 = live.RecordedReplicationSource(
        live.encode_copy_stream([rel] + tx(10, 1, "a")))
    s1.start("slot", 0)
    live.FrameFilePump(s1, spark, src_dir, control=pipe.control).drain_once()
    fp.arm(fp.STORE_REPLICATION_PROGRESS)
    try:
        with pytest.raises(Exception):
            pipe.run_until_drained()
    finally:
        fp.disarm_all()
    assert {r["pk"]: r["val"] for r in sink.read("public.t")} == {1: "a"}
    assert int(pipe.control.flush_lsn) == 0

    # restart: the slot re-sends the unacknowledged transaction + a new one
    pipe2 = Pipeline(spark, src_dir, [cfg], sink, work, source_fmt="pgoutput")
    s2 = live.RecordedReplicationSource(
        live.encode_copy_stream([rel] + tx(10, 1, "a") + tx(20, 2, "b")))
    s2.start("slot", int(pipe2.control.flush_lsn))
    live.FrameFilePump(s2, spark, src_dir, control=pipe2.control).drain_once()
    pipe2.run_until_drained()
    assert {r["pk"]: r["val"] for r in sink.read("public.t")} == {1: "a", 2: "b"}
    assert int(pipe2.control.flush_lsn) == 22


# ---------------------------------------------------------------------------
# Round-12: xid recovery parity (ADVICE r11 medium) + tx-window ceiling
# ---------------------------------------------------------------------------


def _seq_rows(stream):
    src = live.RecordedReplicationSource(stream)
    src.start("slot", 0)
    return src.poll_frames(1 << 20)


def test_assign_xids_post_commit_metadata_matches_sequential(spark):
    """A RELATION re-sent BETWEEN a COMMIT and the next BEGIN is
    out-of-transaction: the sequential source resets to xid -1 after the
    COMMIT, and position-mode assign_xids must agree (ADVICE r11: it used
    to attribute the frame to the prior BEGIN)."""
    rel = pgo.encode_relation(1, "public", "users", "d",
                              [(1, "pk", 20, -1), (0, "val", 25, -1)])
    msgs = [
        live.encode_xlog_data(10, 11, 0, pgo.encode_begin(final_lsn=19, xid=1)),
        live.encode_xlog_data(11, 12, 1, pgo.encode_insert(1, ["1", "a"])),
        live.encode_xlog_data(19, 20, 2, pgo.encode_commit(19, 20)),
        live.encode_xlog_data(25, 26, 3, rel),  # out-of-tx re-send
        live.encode_xlog_data(30, 31, 4, pgo.encode_begin(final_lsn=39, xid=2)),
        live.encode_xlog_data(31, 32, 5, pgo.encode_insert(1, ["2", "b"])),
        live.encode_xlog_data(39, 40, 6, pgo.encode_commit(39, 40)),
    ]
    stream = live.encode_copy_stream(msgs)
    want = {(w, bytes(f)): x for w, x, f in _seq_rows(stream)}
    assert want[(25, rel)] == -1  # the sequential convention under test

    chunks = spark.createDataFrame([(bytearray(stream),)], "chunk binary")
    dist = live.assign_xids(live.unwrap_xlog_chunks(chunks))
    got = {(r.wal_start, bytes(r.frame)): r.xid for r in dist.collect()}
    assert got == want
    assert got[(25, rel)] == -1
    assert got[(19, pgo.encode_commit(19, 20))] == 10  # C carries its tx


def test_assign_xids_delivery_mode_concurrent_positions(spark):
    """Concurrent-workload capture: pgoutput delivers in COMMIT order, so
    frame wal positions interleave across BEGIN positions (tx at wal 100
    commits LAST and is delivered last). Position-space recovery is wrong
    by construction here; delivery mode (chunk_seq/msg_seq from the
    ordered unwrap) must match the sequential source exactly."""
    msgs = [
        # tx B (began later in wal, committed first) delivered first
        live.encode_xlog_data(200, 201, 0, pgo.encode_begin(final_lsn=300, xid=2)),
        live.encode_xlog_data(210, 211, 1, pgo.encode_insert(1, ["2", "b"])),
        live.encode_xlog_data(300, 301, 2, pgo.encode_commit(300, 301)),
        # tx A (began earlier in wal, committed second)
        live.encode_xlog_data(100, 101, 3, pgo.encode_begin(final_lsn=400, xid=1)),
        live.encode_xlog_data(110, 111, 4, pgo.encode_insert(1, ["1", "a"])),
        live.encode_xlog_data(400, 401, 5, pgo.encode_commit(400, 401)),
    ]
    stream = live.encode_copy_stream(msgs)
    want = sorted((w, x, bytes(f)) for w, x, f in _seq_rows(stream))
    assert {x for _, x, _ in want} == {200, 100}
    # split the capture into two ordered chunks mid-transaction
    payloads = list(live.iter_copy_messages(stream))
    c0 = live.encode_copy_stream(payloads[:4])
    c1 = live.encode_copy_stream(payloads[4:])
    chunks = spark.createDataFrame(
        [(0, bytearray(c0)), (1, bytearray(c1))], "seq long, chunk binary")
    dist = live.assign_xids(
        live.unwrap_xlog_chunks(chunks, order_col="seq"),
        order_cols=("chunk_seq", "msg_seq"),
    )
    got = sorted((r.wal_start, r.xid, bytes(r.frame)) for r in dist.collect())
    assert got == want
    # the I@110 frame belongs to the tx that BEGAN at 100 (delivery
    # truth), not to the latest begin at position <= 110
    assert [x for w, x, _ in got if w == 110] == [100]


def test_assign_xids_tx_window_ceiling(spark):
    stream = _recorded_two_tx_stream()
    chunks = spark.createDataFrame([(bytearray(stream),)], "chunk binary")
    frames = live.unwrap_xlog_chunks(chunks)
    with pytest.raises(RuntimeError, match="driver-collect budget"):
        live.assign_xids(frames, max_tx_per_window=1)
    # at/under budget: fine
    assert live.assign_xids(frames, max_tx_per_window=2).count() == 8


def test_tx_registry_fold_window_ceiling(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(live, "MAX_TX_PER_WINDOW", 1)
    rows = []
    for t in range(3):
        base = 100 * (t + 1)
        rows.append((base, base, pgo.encode_begin(final_lsn=base + 9, xid=t)))
        rows.append((base + 9, base, pgo.encode_commit(base + 9, base + 10)))
    path = str(tmp_path / "frames.parquet")
    pq.write_table(pa.table([list(c) for c in zip(*rows)],
                            schema=pgo.FRAME_ARROW_SCHEMA), path)
    reg = pgo.PersistentTxRegistry(str(tmp_path / "txs.json"))
    with pytest.raises(RuntimeError, match="driver-collect budget"):
        w = pgo.collect_wire_stats([path], max_tx=live.MAX_TX_PER_WINDOW)
        reg.advance_parsed(w.bc, w.env_counts, w.bounds)


def test_run_live_proactive_keepalive_deadline():
    """Idle transport: the pump self-sends status updates at 60% of
    wal_sender_timeout since its last send (apply.rs:96-116 policy) —
    the server must never see a silent client approach its timeout."""
    import threading
    import time

    class IdleSource:
        def __init__(self):
            self.sent_updates = []

        def poll_frames(self, max_bytes):
            return []

        def send_status_update(self, write_lsn, flush_lsn):
            self.sent_updates.append((write_lsn, flush_lsn, time.monotonic()))

    src = IdleSource()
    pump = live.FrameFilePump(src, spark=None, source_dir="/nonexistent-dir")
    stop = threading.Event()
    t = threading.Thread(
        target=pump.run_live,
        args=(None, stop),
        kwargs={"wal_sender_timeout_s": 0.5},  # deadline = 0.3 s
        daemon=True,
    )
    t.start()
    time.sleep(1.1)
    stop.set()
    t.join(timeout=5)
    # ~3 proactive updates in 1.1 s at a 0.3 s cadence (timing slack: 2-4)
    assert 2 <= len(src.sent_updates) <= 4
    gaps = [b[2] - a[2] for a, b in zip(src.sent_updates, src.sent_updates[1:])]
    assert all(g >= 0.25 for g in gaps), gaps  # never spams below deadline


def test_run_live_deadline_clamped_to_100ms():
    """A pathological 1 ms wal_sender_timeout must not spin the loop:
    the deadline clamps to >= 100 ms (apply.rs MIN_KEEP_ALIVE_DEADLINE)."""
    import threading
    import time

    class IdleSource:
        def __init__(self):
            self.sent_updates = []

        def poll_frames(self, max_bytes):
            return []

        def send_status_update(self, write_lsn, flush_lsn):
            self.sent_updates.append(time.monotonic())

    src = IdleSource()
    pump = live.FrameFilePump(src, spark=None, source_dir="/nonexistent-dir")
    stop = threading.Event()
    t = threading.Thread(target=pump.run_live, args=(None, stop),
                         kwargs={"wal_sender_timeout_s": 0.001}, daemon=True)
    t.start()
    time.sleep(0.45)
    stop.set()
    t.join(timeout=5)
    assert len(src.sent_updates) <= 5  # 100 ms clamp: ~4 sends in 0.45 s
