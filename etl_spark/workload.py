"""Driver-facing workload: named queries over the testdata tables.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame; each has a
DuckDB-SQL twin in ``__spark_entry__.oracle_sql`` computing the same result
(same column names — the correctness gate hash-compares values after
sorting columns by name). The CDC queries run on the deterministic envelope
derived from ``events.parquet`` (:func:`etl_spark.sources.cdc.envelope_from_events`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.envelope import event_seq, event_seq_hex
from etl_spark.io import read_table
from etl_spark.operators import materialize
from etl_spark.operators.asof import asof_lookup_literal
from etl_spark.sources.cdc import envelope_from_events


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# CDC core (reference parity)
# ---------------------------------------------------------------------------

def cdc_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state (LWW) materialization of the sim CDC stream.

    Reference semantics: ReplacingMergeTree current view
    (clickhouse/core.rs:94-110) / BigQuery CDC upsert
    (bigquery/core.rs:1409-1478). One shuffle on the replica identity.
    """
    env = envelope_from_events(spark, sf_dir)
    cur = materialize.current_state(env, keys=["pk"])
    return cur.select("pk", "op", "commit_lsn", "tx_ordinal", "value", "props")


def cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only changelog with destination sequence metadata.

    Mirrors the Iceberg/ClickHouse changelog shape (iceberg/core.rs:27-70)
    and the hex `_CHANGE_SEQUENCE_NUMBER` rendering (event.rs:353-375).
    Pure projection — no shuffle.
    """
    env = envelope_from_events(spark, sf_dir)
    out = materialize.changelog(env)
    return out.select(
        F.col("start_lsn"),
        F.col("table"),
        F.col("cdc_operation"),
        F.col("event_seq").cast("string").alias("seq_dec"),
        event_seq_hex().alias("seq_hex"),
    )


def cdc_tx_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-transaction event metrics (reference A4, apply.rs:2323-2332)."""
    env = envelope_from_events(spark, sf_dir)
    return env.groupBy("commit_lsn").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("op") == "INSERT", 1).otherwise(0)).alias("n_inserts"),
        F.sum(F.when(F.col("op") == "DELETE", 1).otherwise(0)).alias("n_deletes"),
        F.min("tx_ordinal").alias("first_ordinal"),
        F.max("tx_ordinal").alias("last_ordinal"),
    )


def cdc_toast_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOAST partial-update resolution then LWW current state.

    Sim rule: UPDATEs whose ``start_lsn % 3 == 0`` arrive without the
    ``value`` column (UnchangedToast). Resolution fills it from the latest
    prior image of the same key (codec/event.rs:594-680 semantics as a
    per-key ordered window, SURVEY J1).
    """
    env = envelope_from_events(spark, sf_dir)
    masked = env.withColumn(
        "value",
        F.when((F.col("op") == "UPDATE") & (F.col("start_lsn") % 3 == 0), F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    resolved = materialize.resolve_toast(masked, keys=["pk"], value_cols=["value"])
    cur = materialize.current_state(resolved, keys=["pk"])
    return cur.select("pk", "op", "start_lsn", "value")


def cdc_snapshot_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot→stream handoff: initial copy + overlapping change stream.

    The snapshot (customer, taken at LSN 0) unions with post-snapshot
    UPDATE events re-keyed to customers; LWW dedup by sequence resolves the
    overlap — the reference's SyncWait/Catchup correctness argument
    (SURVEY T6): overlap is harmless because the merge is keyed by
    ``event_seq``.
    """
    cust = _t(spark, sf_dir, "customer")
    snap = cust.select(
        F.col("c_custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit(0).cast("long").alias("commit_lsn"),
        F.lit(0).cast("long").alias("tx_ordinal"),
        F.lit("INSERT").alias("op"),
    )
    env = envelope_from_events(spark, sf_dir)
    updates = (
        env.filter(F.col("op") == "UPDATE")
        .withColumn("c_custkey", F.col("pk") + 1)
        .join(cust.select("c_custkey"), "c_custkey", "left_semi")
        .select(
            "c_custkey",
            F.col("value").alias("acctbal"),
            "commit_lsn",
            "tx_ordinal",
            "op",
        )
    )
    merged = snap.unionByName(updates)
    merged = merged.withColumn(
        "event_seq", event_seq("commit_lsn", "tx_ordinal")
    )
    cur = materialize.current_state(merged, keys=["c_custkey"])
    return cur.select("c_custkey", "acctbal", "commit_lsn", "tx_ordinal")


def cdc_schema_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time schema-version resolution (store/schema/base.rs:20-34):
    largest ``snapshot_lsn <= commit_lsn``.

    The registry (from ``nation``) is driver-side tiny, so the lookup
    compiles to a CASE chain inside the scan — zero shuffle at any scale
    (:func:`etl_spark.operators.asof.asof_lookup_literal`).
    """
    nation = _t(spark, sf_dir, "nation")
    versions = [
        (int(r["n_nationkey"]) * 100, r["n_name"]) for r in nation.collect()
    ]
    env = envelope_from_events(spark, sf_dir)
    looked = asof_lookup_literal(env, versions, left_ts="commit_lsn")
    return looked.select("start_lsn", "commit_lsn", "snapshot_lsn", "schema_version")


def cdc_truncate_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate-aware current state (SURVEY T8): rows at or before the last
    TRUNCATE of their table are discarded before materialization.

    Sim rule: events with ``start_lsn % 500 == 250`` are TRUNCATEs.
    """
    env = envelope_from_events(spark, sf_dir)
    env = env.withColumn(
        "op", F.when(F.col("start_lsn") % 500 == 250, F.lit("TRUNCATE")).otherwise(F.col("op"))
    )
    alive = materialize.apply_truncates(env)
    rows = alive.filter(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
    cur = materialize.current_state(rows, keys=["pk"])
    return cur.select("pk", "op", "start_lsn", "value")


def cdc_pk_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-changing updates expand to DELETE(old)+UPSERT(new), old-first
    (bigquery/core.rs:1421-1478; ordinal tiebreaker :1391-1407).

    Sim rule: UPDATEs with ``start_lsn % 7 == 0`` moved the row from key
    ``pk - 1`` (old image) to ``pk``.
    """
    env = envelope_from_events(spark, sf_dir)
    env = env.withColumn(
        "before_pk",
        F.when(
            (F.col("op") == "UPDATE") & (F.col("start_lsn") % 7 == 0), F.col("pk") - 1
        ).otherwise(F.col("pk")),
    )
    expanded = materialize.expand_pk_change(env, keys=["pk"], before_prefix="before_")
    cur = materialize.current_state(
        expanded, keys=["pk"], tie_breakers=["sub_ordinal"]
    )
    return cur.select("pk", "op", "start_lsn", "sub_ordinal", "value")


def cdc_replica_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current state under REPLICA IDENTITY DEFAULT old-row semantics.

    The envelope carries the identity in JSON before/after images with the
    reference's old-row kinds (tests/pipeline_replica_identity.rs):
    DELETEs and identity-changing UPDATEs have KEY-ONLY old rows; other
    UPDATEs have none. The materialization must (a) address DELETEs via
    the old image, (b) expand identity changes into DELETE(old)+UPSERT(new)
    old-first, (c) LWW per identity. All JSON extraction + addressing is
    scan-stage Column algebra; the one shuffle is the LWW window.
    """
    from etl_spark.operators import identity
    from etl_spark.sources.cdc import envelope_with_identity

    env = envelope_with_identity(spark, sf_dir)
    typed = env.select(
        "op", "commit_lsn", "start_lsn", "tx_ordinal", "event_seq", "value",
        F.get_json_object("after", "$.user_id").cast("long").alias("user_id"),
        F.when(
            F.col("before_kind") == identity.BEFORE_KEY,
            F.get_json_object("before", "$.user_id").cast("long"),
        ).alias("before_user_id"),
    )
    cur = identity.current_state_with_identity(
        typed, identity.IDENTITY_PRIMARY_KEY, ["user_id"]
    )
    return cur.select("user_id", "op", "commit_lsn", "tx_ordinal", "value")


def cdc_partition_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-table routing (publish_via_partition_root).

    Sim: the users table is hash-partitioned into 4 leaves
    ``public.users_p{pk % 4}``; the publication names the ROOT with a row
    filter ``value >= 10``; leaf p3 is DETACHED. Expected reference
    behavior (pipeline_with_partitioned_table.rs): leaf events route to
    the root id, the root's row filter applies to every leaf
    (filter_table_id, copy.rs:100-110), detached-partition events stop
    replicating. DELETEs carry no after image, so the filter passes them
    through keyed by identity (transaction.rs:51-55,654-690 filters
    deletes against the OLD image; absent one, dropping the event would
    leave a stale destination row). Routing is a broadcast map in the
    scan stage; the only shuffle is the LWW window.
    """
    from etl_spark.operators import partitions

    env = envelope_from_events(spark, sf_dir)
    env = env.withColumn(
        "table", F.concat(F.lit("public.users_p"), (F.col("pk") % 4).cast("string"))
    )
    tree = {f"public.users_p{i}": "public.users" for i in range(4)}
    routed = partitions.route_events(
        env,
        tree,
        published={"public.users"},
        detached={"public.users_p3"},
        row_filters={"public.users": "value >= 10"},
    )
    cur = materialize.current_state(routed, keys=["pk"])
    return cur.select("table", "pk", "op", "commit_lsn", "tx_ordinal", "value")


def pgoutput_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pgoutput BINARY frame decode end-to-end (F11, codec/event.rs:303-985).

    Events are rendered as real pgoutput wire frames (Begin per tx +
    Insert/Update/Delete with text TupleData cells; key-only old tuples
    for deletes and PK-carrying updates; unchanged-TOAST cells on every
    5th plain update) in an Arrow-batched encoder, then decoded by the
    distributed frame decoder — relation registry broadcast, per-frame
    parse in ``mapInPandas``, transactions assembled by xid broadcast-join
    + per-xid window (no global sort). Output is the typed envelope the
    oracle reconstructs directly from ``events``.
    """
    from collections.abc import Iterator

    from etl_spark.sources import pgoutput as pgo

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")

    def enc(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"wal_start": [], "xid": [], "frame": []}
            for eid, uid, et, val in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"], pdf["value"]
            ):
                eid, uid = int(eid), int(uid)
                tx = eid // 10
                pk, v = str(uid), str(float(val))
                if et == "signup":
                    frame = pgo.encode_insert(1, [pk, v])
                elif et == "error":
                    frame = pgo.encode_delete(1, key=[pk])
                elif et == "purchase":
                    frame = pgo.encode_update(1, [pk, v], key=[pk])
                else:  # click/view: plain update; every 5th value is TOASTed
                    cell = pgo.UNCHANGED_TOAST if eid % 5 == 0 else v
                    frame = pgo.encode_update(1, [pk, cell])
                out["wal_start"].append(eid)
                out["xid"].append(tx)
                out["frame"].append(frame)
            yield pd.DataFrame(out)

    dml = ev.mapInPandas(enc, schema="wal_start long, xid long, frame binary")

    def enc_begin(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "wal_start": [int(x) * 10 - 1 for x in pdf["xid"]],
                "xid": [int(x) for x in pdf["xid"]],
                # wire xid is u32 and WRAPS (PG xid semantics);
                # transaction identity rides the envelope xid COLUMN
                # (int64) — the wire field is informational, so replicated
                # id spaces beyond 2^32 (the 100x stress set) stay valid
                "frame": [pgo.encode_begin(final_lsn=int(x), xid=int(x) % 4294967296)
                          for x in pdf["xid"]],
            })

    begins = (
        ev.select((F.col("event_id") / 10).cast("long").alias("xid"))
        .distinct()
        .mapInPandas(enc_begin, schema="wal_start long, xid long, frame binary")
    )
    rel = spark.createDataFrame(
        [(-100, -1, bytearray(pgo.encode_relation(
            1, "public", "users", "d", [(1, "pk", 20, -1), (0, "value", 701, -1)]
        )))],
        "wal_start long, xid long, frame binary",
    )
    # cut point (same as the wire gate): decode_frames' relation-registry
    # pre-pass collects over `frames`, which would re-run the Python
    # encoder end-to-end; checkpointing makes that pre-pass a JVM scan of
    # the materialized frames and the encoder runs exactly once
    frames = (
        dml.unionByName(begins).unionByName(rel).localCheckpoint(eager=True)
    )
    env = pgo.decode_frames(
        frames, assemble_partitions=spark.sparkContext.defaultParallelism
    )
    rows = env.filter(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
    return rows.select(
        "op", "commit_lsn", "tx_ordinal", "start_lsn",
        F.coalesce(
            F.get_json_object("after", "$.pk"), F.get_json_object("before", "$.pk")
        ).cast("long").alias("pk"),
        F.get_json_object("after", "$.value").cast("double").alias("value"),
        "before_kind",
    )


def pgoutput_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-level replication decode end-to-end (round-11: the transport
    boundary one layer down from :func:`pgoutput_decode`): events are
    rendered as pgoutput frames WRAPPED in the copy-both wire protocol —
    XLogData ('w') messages with interleaved PrimaryKeepAlive ('k')
    heartbeats, CopyData-framed into recorded byte-stream chunks exactly
    as captured off a socket (replication_message.rs:1-245 shapes) — then
    decoded by the distributed wire path: per-chunk CopyData/XLogData
    unwrap (``live.unwrap_xlog_chunks``), BEGIN-span xid recovery
    (``live.assign_xids`` — driver collect bounded by transaction count,
    vectorized searchsorted; pgoutput never interleaves transactions),
    and the same frame decoder the sim gate proves.

    Sim wal layout (the only harness arithmetic): DML for event ``eid``
    sits at wal ``16*eid + 8``; the BEGIN of transaction ``eid // 10``
    at wal ``160*(eid // 10)`` — begins strictly precede their DML and
    never collide with a neighbor's. The final select folds the layout
    back so the oracle is IDENTICAL to ``pgoutput_decode``'s.
    """
    from collections.abc import Iterator

    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")

    def enc(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            msgs: list[bytes] = []
            wal_max = 0
            for eid, uid, et, val in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"], pdf["value"]
            ):
                eid, uid = int(eid), int(uid)
                pk, v = str(uid), str(float(val))
                if et == "signup":
                    frame = pgo.encode_insert(1, [pk, v])
                elif et == "error":
                    frame = pgo.encode_delete(1, key=[pk])
                elif et == "purchase":
                    frame = pgo.encode_update(1, [pk, v], key=[pk])
                else:  # click/view: plain update; every 5th value TOASTed
                    cell = pgo.UNCHANGED_TOAST if eid % 5 == 0 else v
                    frame = pgo.encode_update(1, [pk, cell])
                wal = 16 * eid + 8
                wal_max = max(wal_max, wal + 1)
                msgs.append(live.encode_xlog_data(wal, wal + 1, eid, frame))
                if eid % 50 == 0:  # heartbeat traffic mixed into the stream
                    msgs.append(live.encode_keepalive(wal_max, eid))
            yield pd.DataFrame({"chunk": [live.encode_copy_stream(msgs)]})

    dml_chunks = ev.mapInPandas(enc, schema="chunk binary")

    def enc_begin(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            msgs = [
                live.encode_xlog_data(
                    160 * int(x),
                    160 * int(x) + 1,
                    int(x),
                    # wire xid is u32 and WRAPS; transaction identity is
                    # recovered by BEGIN position (assign_xids ordinal)
                    pgo.encode_begin(final_lsn=int(x), xid=int(x) % 4294967296),
                )
                for x in pdf["xid"]
            ]
            yield pd.DataFrame({"chunk": [live.encode_copy_stream(msgs)]})

    begin_chunks = (
        ev.select((F.col("event_id") / 10).cast("long").alias("xid"))
        .distinct()
        .mapInPandas(enc_begin, schema="chunk binary")
    )
    rel_chunk = spark.createDataFrame(
        [(bytearray(live.encode_copy_stream([
            live.encode_xlog_data(-100, -99, 0, pgo.encode_relation(
                1, "public", "users", "d",
                [(1, "pk", 20, -1), (0, "value", 701, -1)],
            ))
        ])),)],
        "chunk binary",
    )
    chunks = dml_chunks.unionByName(begin_chunks).unionByName(rel_chunk)
    # cut point: unwrap once; reused by the BEGIN-span collect, the
    # relation pre-pass, and the decode. xid recovery is FUSED into the
    # decoder's own Python stage (decode_frames over xid-less frames): the
    # former assign_xids ArrowEvalPython pass + the full checkpoint
    # materialization of the xid'd frames are gone — one Python stage
    # decodes AND attributes transactions in a single traversal
    # (identical searchsorted over the same driver-collected spans).
    frames = live.unwrap_xlog_chunks(chunks).localCheckpoint(eager=True)
    env = pgo.decode_frames(
        frames,
        assemble_partitions=spark.sparkContext.defaultParallelism,
    )
    rows = env.filter(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
    return rows.select(
        "op", "commit_lsn", "tx_ordinal",
        ((F.col("start_lsn") - 8) / 16).cast("long").alias("start_lsn"),
        F.coalesce(
            F.get_json_object("after", "$.pk"), F.get_json_object("before", "$.pk")
        ).cast("long").alias("pk"),
        F.get_json_object("after", "$.value").cast("double").alias("value"),
        "before_kind",
    )


def pgoutput_socket_decode(spark: SparkSession, sf_dir: str,
                           tls: bool = False) -> DataFrame:
    """Replication decode THROUGH A REAL TCP SOCKET end-to-end (round 12:
    the last transport layer, closing VERDICT r11 item #1): events are
    rendered as a recorded copy-both capture, served by a loopback TCP
    server speaking the backend half of the replication protocol
    (startup, START_REPLICATION, CopyBoth, CopyDone), consumed by
    ``SocketReplicationSource`` (stdlib socket; startup handshake,
    CopyData framing, keepalive replies acked ON THE WIRE, BEGIN-span
    xid tracking via the shared ``CopyBothConsumer``), shipped into a
    frame-file queue by ``FrameFilePump``, and decoded by the same
    distributed frame decoder every pgoutput gate proves. The oracle is
    IDENTICAL to ``pgoutput_decode``: the socket, like the framing, must
    be invisible in the result.

    Reference parity: the command/consume loop of
    ``crates/etl/src/runtime/apply/worker.rs:366-430`` over the message
    shapes of ``postgres/stream/replication_message.rs``.

    Scale note: the capture encode + socket pump are DRIVER-side by
    protocol design — one replication connection is a single serialized
    byte stream (the reference consumes it on one task too). Spark
    parallelism starts at the frame files the pump ships; everything
    from there is the distributed decode. The harness term is the
    O(events) encode loop, linear and allocation-light.
    """
    import tempfile

    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo
    from etl_spark.sources.socket_transport import (
        LoopbackReplicationServer,
        SocketReplicationSource,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )  # sort driver-side: cheaper than a Spark sort feeding one collect
    # sim wal layout, identical to pgoutput_wire_decode: DML for event
    # ``eid`` at wal 16*eid + 8; its transaction's BEGIN at 160*(eid//10)
    # (strictly before its DML, never colliding with a neighbor's)
    msgs: list[bytes] = []
    rel = pgo.encode_relation(
        1, "public", "users", "d", [(1, "pk", 20, -1), (0, "value", 701, -1)]
    )
    msgs.append(live.encode_xlog_data(-100, -99, 0, rel))
    cur_tx = -1

    def _commit(tx: int) -> bytes:
        # Commit at 160*tx + 155: above every DML of the transaction
        # (which top out at 160*tx + 152), below the next BEGIN — the
        # fence (tx-granularity re-send) needs the COMMIT to deliver the
        # transaction at all, exactly like a real walsender stream
        wal = 160 * tx + 155
        return live.encode_xlog_data(wal, wal + 1, tx,
                                     pgo.encode_commit(tx, tx + 1))

    for eid, uid, et, val in zip(
        ev["event_id"], ev["user_id"], ev["event_type"], ev["value"]
    ):
        eid, uid = int(eid), int(uid)
        tx = eid // 10
        if tx != cur_tx:
            if cur_tx >= 0:
                msgs.append(_commit(cur_tx))
            cur_tx = tx
            msgs.append(live.encode_xlog_data(
                160 * tx, 160 * tx + 1, tx,
                pgo.encode_begin(final_lsn=tx, xid=tx % 4294967296),
            ))
        pk, v = str(uid), str(float(val))
        if et == "signup":
            frame = pgo.encode_insert(1, [pk, v])
        elif et == "error":
            frame = pgo.encode_delete(1, key=[pk])
        elif et == "purchase":
            frame = pgo.encode_update(1, [pk, v], key=[pk])
        else:  # click/view: plain update; every 5th value TOASTed
            cell = pgo.UNCHANGED_TOAST if eid % 5 == 0 else v
            frame = pgo.encode_update(1, [pk, cell])
        wal = 16 * eid + 8
        msgs.append(live.encode_xlog_data(wal, wal + 1, eid, frame))
        if eid % 1000 == 0:  # heartbeats requesting acks, mid-stream
            msgs.append(live.encode_keepalive(wal + 1, eid, reply_requested=True))
    if cur_tx >= 0:
        msgs.append(_commit(cur_tx))
    stream = live.encode_copy_stream(msgs)

    src_dir = tempfile.mkdtemp(prefix="socket_frames_")
    server_kw: dict = {}
    client_kw: dict = {}
    if tls:
        # gate-local self-signed cert: the TLS hop must be exactly as
        # invisible as the plaintext one (round 13; SSLRequest preamble +
        # verify-full against the minted root)
        import subprocess

        d = tempfile.mkdtemp(prefix="socket_tls_")
        cert, key = f"{d}/cert.pem", f"{d}/key.pem"
        subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048",
             "-keyout", key, "-out", cert, "-days", "2", "-nodes",
             "-subj", "/CN=localhost",
             "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1"],
            check=True, capture_output=True)
        server_kw = {"tls_cert": cert, "tls_key": key, "tls_required": True}
        client_kw = {"ssl_mode": "verify-full", "ssl_root_cert": cert}
    with LoopbackReplicationServer(stream, **server_kw) as srv:
        source = SocketReplicationSource("127.0.0.1", srv.port, **client_kw)
        slot = source.create_slot("gate_slot")
        source.start(slot.slot_name, slot.consistent_point)
        pump = live.FrameFilePump(source, spark, src_dir,
                                  batch_bytes=4 << 20)
        while pump.drain_once() > 0:
            pump.report_progress()
        source.close()
        if tls:
            assert srv.tls_connections == 1

    frames = spark.read.schema(
        "wal_start long, xid long, frame binary").parquet(src_dir)
    env = pgo.decode_frames(
        frames, assemble_partitions=spark.sparkContext.defaultParallelism
    )
    rows = env.filter(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
    return rows.select(
        "op", "commit_lsn", "tx_ordinal",
        ((F.col("start_lsn") - 8) / 16).cast("long").alias("start_lsn"),
        F.coalesce(
            F.get_json_object("after", "$.pk"), F.get_json_object("before", "$.pk")
        ).cast("long").alias("pk"),
        F.get_json_object("after", "$.value").cast("double").alias("value"),
        "before_kind",
    )


def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Structured-Streaming run of the stateful in-stream dedup
    (:func:`etl_spark.streaming.stateful.dedup_by_sequence`).

    The envelope is split into two change-log files; the second file
    REPLAYS the first in full before adding the rest (the at-least-once
    delivery the reference's architecture.md:119-136 promises downstream
    consumers will see). ``maxFilesPerTrigger=1`` forces separate
    micro-batches, so the replay is filtered by state persisted across
    batches, not by intra-batch dedup. The final emitted set is therefore
    every unique sequence exactly once — deterministic, with an exact SQL
    oracle (the envelope itself).
    """
    import os
    import tempfile
    import uuid

    from etl_spark.streaming.stateful import dedup_by_sequence

    env = envelope_from_events(spark, sf_dir).select(
        "op", "table", "commit_lsn", "tx_ordinal", "pk", "value"
    ).filter(F.col("pk").isNotNull()).localCheckpoint()
    mid = env.agg(F.expr("percentile(commit_lsn, 0.5)").alias("m")).collect()[0]["m"]
    first = env.filter(F.col("commit_lsn") <= mid)
    rest = env.filter(F.col("commit_lsn") > mid)

    work = tempfile.mkdtemp(prefix="stream_dedup_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    emit(first, "b0")
    emit(first.unionByName(rest), "b1")  # b1 = full replay of b0 + the rest

    stream = spark.readStream.schema(env.schema).option("maxFilesPerTrigger", 1).parquet(src)
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_by_sequence(stream, ["table", "pk"])
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("op", "commit_lsn", "tx_ordinal", "pk", "value")


def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: the hourly value rollup kept
    fresh incrementally across three micro-batches
    (:mod:`etl_spark.streaming.rollup`).

    Per batch the work is O(batch + touched buckets) — partial agg of the
    batch, partition-pruned read-back of ONLY the touched bucket
    partitions, dynamic-partition-overwrite rewrite. Decimal partials make
    the incremental result bit-identical to a from-scratch GROUP BY, which
    is exactly what the oracle runs.
    """
    import tempfile

    from etl_spark.streaming.rollup import IncrementalRollup

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.expr("ts div 1000000000 div 3600 * 3600").alias("hour_epoch"),
    ).localCheckpoint()
    work = tempfile.mkdtemp(prefix="rollup_")
    # storage partitioned by DAY, bucketed by HOUR: the pruning unit is
    # the batch's time span, not its bucket count — 24x fewer dirs per
    # dynamic-overwrite commit and per read-back (profiled round 9: the
    # per-dir filesystem toll WAS the query's cost; see SCALE.md)
    roll = IncrementalRollup(
        spark, f"{work}/rollup", "hour_epoch", ["event_type"], "value",
        partition_of=lambda c: c - (c % 86400),
    )
    # three deterministic micro-batches by event_id band (overlapping
    # hours across batches exercise the read-back merge path)
    bounds = ev.agg(F.max("event_id").alias("m")).collect()[0]["m"]
    cut1, cut2 = bounds // 3, 2 * bounds // 3
    roll.update(ev.filter(F.col("event_id") <= cut1))
    roll.update(ev.filter((F.col("event_id") > cut1) & (F.col("event_id") <= cut2)))
    roll.update(ev.filter(F.col("event_id") > cut2))
    out = roll.read()
    return out.select(
        F.col("hour_epoch").cast("long").alias("hour_epoch"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


def stream_windowed_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed streaming aggregation with watermark-dropped late data,
    run bounded (``availableNow`` over three deterministic batch files).

    The event stream is split into: on-time first half, on-time second
    half, then a LATE batch (a deterministic slice from the 25-35% band
    of the time range) that arrives after the watermark — max(ts) - 12h —
    has passed it, so every late row is dropped. Append-mode emission
    finalizes exactly the 1-day windows whose end ≤ the final watermark;
    the trailing windows stay in state and never emit. Both effects (late
    drop + unemitted tail) are deterministic given the file order, so the
    final table has an exact SQL oracle. Decimal partial sums keep the
    value aggregate order-independent.
    """
    import os
    import tempfile
    import uuid

    # all band arithmetic in MICROS: DuckDB reads TIMESTAMP(NANOS) parquet
    # truncated to micros, so micro-resolution bounds are the shared grid
    # both engines compute identically (`ts div 1000` == epoch_us(ts))
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", F.expr("ts div 1000").alias("us"), "event_type", "value"
    ).localCheckpoint()
    bounds = ev.agg(
        F.min("us").alias("lo"), F.max("us").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = hi - lo
    late_lo, late_hi = lo + span // 4, lo + (span * 35) // 100
    is_late = (
        (F.col("us") >= late_lo) & (F.col("us") <= late_hi)
        & (F.col("event_id") % 5 == 0)
    )
    mid = lo + span // 2
    work = tempfile.mkdtemp(prefix="stream_wm_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    emit(ev.filter(~is_late & (F.col("us") < mid)).drop("us"), "b0")
    emit(ev.filter(~is_late & (F.col("us") >= mid)).drop("us"), "b1")
    emit(ev.filter(is_late).drop("us"), "b2")

    stream = (
        spark.readStream.schema(ev.drop("us").schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        # ts is TIMESTAMP(NANOS) read as long; truncate to micros with
        # integer div (nanos exceed double precision)
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "12 hours")
    )
    agg = (
        stream.groupBy(F.window("event_time", "1 day"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type", "n_events", "sum_value",
        )
    )
    name = f"stream_wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream windowed inner join (clicks ⋈ purchases within 30
    minutes, per user), run bounded over two deterministic batch files.

    Both sides branch off ONE file stream (self-join), so micro-batches
    stay aligned; each side carries its own watermark and the join
    condition bounds purchase_time to [click_time, click_time + 30 min].
    State-safety argument for an exact oracle: files split at the time
    midpoint and the 1-hour watermark delay exceeds the 30-minute join
    window, so a click is only evicted once no future purchase can match
    it (eviction threshold click_ts + 30min < watermark = mid - 1h, while
    batch-2 purchases all have ts ≥ mid) — the streamed result equals the
    batch join row-for-row. At scale this is Spark's canonical bounded-
    state join: state size is O(events in the watermark horizon), keyed
    and shuffled on user_id.

    Reference scope: beyond-reference op (SURVEY §2.13, streaming
    family); the reference's apply loop has no cross-stream correlation.
    """
    import os
    import tempfile
    import uuid

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", F.expr("ts div 1000").alias("us"), "user_id", "event_type"
    ).localCheckpoint()
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 2
    work = tempfile.mkdtemp(prefix="stream_ssj_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    emit(ev.filter(F.col("us") < mid).drop("us"), "b0")
    emit(ev.filter(F.col("us") >= mid).drop("us"), "b1")

    stream = (
        spark.readStream.schema(ev.drop("us").schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user_id = p_user_id"
            " AND purchase_time >= click_time"
            " AND purchase_time <= click_time + interval 30 minutes"
        ),
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_event_id",
        "purchase_event_id",
        (F.unix_micros("purchase_time") - F.unix_micros("click_time")).alias("lag_us"),
    )
    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    # profiled round 9 (SCALE.md): the per-trigger floor was state-store
    # commit overhead, not join compute — 32 shuffle partitions x 4 join
    # state stores per trigger, plus a 3.7s ZERO-ROW finalization batch.
    # (a) state partitions sized to the trigger's data (8 here; at
    # cluster scale this knob grows with trigger volume — state commits
    # are per-partition-per-store); (b) the no-data batch only EVICTS
    # state — an INNER join's rows all emit on match arrival, so output
    # is complete without it (NOT safe for watermark-finalized append
    # aggregations, which need it to emit). Both restored after the run.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", old_nodata
        )
    return spark.table(name)


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via ``session_window`` (30-minute gap),
    run bounded over two deterministic batch files — the streaming twin
    of the batch ``sessionize_events`` operator.

    Append-mode emission finalizes exactly the sessions whose window end
    (last event + gap) is at or below the final watermark (max event time
    - 12h); later sessions stay in state and never emit. Determinism
    argument: a session that emits has ``last_ts + 30min ≤ wm``, and any
    subsequent batch's events have ``ts > wm`` (on-time split at the time
    midpoint), so the gap to the emitted session always exceeds 30
    minutes — no merge-after-emit is possible and the streamed result
    equals batch sessionization filtered to the emission horizon. State
    is per (user, open session) inside the watermark — bounded; the
    shuffle key is user_id.
    """
    import os
    import tempfile
    import uuid

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", F.expr("ts div 1000").alias("us"), "user_id"
    ).localCheckpoint()
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 2
    work = tempfile.mkdtemp(prefix="stream_sw_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    emit(ev.filter(F.col("us") < mid).drop("us"), "b0")
    emit(ev.filter(F.col("us") >= mid).drop("us"), "b1")

    stream = (
        spark.readStream.schema(ev.drop("us").schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "12 hours")
    )
    agg = (
        stream.groupBy(
            F.session_window("event_time", "30 minutes"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events", "first_event", "last_event",
        )
    )
    name = f"stream_sw_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history materialization of the CDC stream: one row per
    key VERSION with ``valid_from`` / ``valid_to`` validity bounds and an
    ``is_current`` flag — the destination shape warehouses build from a
    changelog (beyond-reference: the reference emits the changelog;
    versioned-dimension assembly is left to the warehouse).

    Semantics: every INSERT/UPDATE event opens a version at its commit
    LSN; the next event on the same key (update OR delete) closes it.
    DELETE events emit no version row — they only close the prior one, so
    a deleted key has no current version. One shuffle (the per-key window
    on the replica identity), order total via (commit_lsn, tx_ordinal).
    """
    from pyspark.sql import Window

    env = envelope_from_events(spark, sf_dir)
    w = Window.partitionBy("pk").orderBy("commit_lsn", "tx_ordinal")
    h = (
        env.withColumn("valid_to", F.lead("commit_lsn").over(w))
        .filter(F.col("op") != "DELETE")
        .select(
            "pk",
            "op",
            F.col("commit_lsn").alias("valid_from"),
            "tx_ordinal",
            # nullable int degrades to float through pandas in the gate's
            # compare — pin DOUBLE on both sides (verify-skill gotcha)
            F.col("valid_to").cast("double").alias("valid_to"),
            F.col("valid_to").isNull().alias("is_current"),
            "value",
        )
    )
    return h


def cdc_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: reconstruct the current-state table AS OF the LSN
    midpoint of the stream — the changelog's payoff query (any past state
    is one filter away; Iceberg/Delta expose the same thing as snapshot
    time travel).

    The as-of LSN is derived from the stream bounds (1-row aggregate,
    broadcast — no driver-side constant baked into the plan's semantics),
    the filter lands in the scan stage, and the LWW materialization is
    the standard one shuffle on the replica identity.
    """
    env = envelope_from_events(spark, sf_dir)
    bounds = env.agg(
        ((F.min("commit_lsn") + F.max("commit_lsn")) / 2).cast("long").alias("asof")
    )
    asof = bounds.collect()[0]["asof"]
    cur = materialize.current_state(
        env.filter(F.col("commit_lsn") <= F.lit(asof)), keys=["pk"]
    )
    return cur.select(
        "pk", "op", "commit_lsn", "tx_ordinal", "value",
        F.lit(asof).alias("asof_lsn"),
    )


def stream_native_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay dedup via the BUILT-IN
    ``dropDuplicatesWithinWatermark`` — the native counterpart of the
    custom ``applyInPandasWithState`` operator (`stream_stateful_dedup`),
    demonstrating built-in-first: where Spark grew a native stateful
    operator, the engine uses it and keeps the Pandas-state path only for
    semantics the built-in can't express (per-key high-watermark
    sequencing).

    Setup mirrors the stateful variant: batch 2 fully REPLAYS batch 1
    before adding the rest (the at-least-once delivery downstream
    consumers see). The watermark delay exceeds the stream's whole time
    span, so dedup state is never evicted within the run and every replayed
    event drops — emitted set = each event exactly once, with an exact SQL
    oracle (the source table). State is keyed by event_id and bounded by
    the watermark horizon at scale.
    """
    import os
    import tempfile
    import uuid

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", F.expr("ts div 1000").alias("us"),
        "user_id", "event_type", "value",
    ).localCheckpoint()
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 2
    span_sec = max(1, (bounds["hi"] - bounds["lo"]) // 1_000_000)
    first = ev.filter(F.col("us") < mid).drop("us")
    rest = ev.filter(F.col("us") >= mid).drop("us")

    work = tempfile.mkdtemp(prefix="stream_nd_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    emit(first, "b0")
    emit(first.unionByName(rest), "b1")  # b1 = full replay of b0 + the rest

    stream = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", f"{2 * span_sec} seconds")
    )
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    name = f"stream_nd_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the most common Structured
    Streaming production join: a fact stream enriched per micro-batch
    against a slowly-changing dimension snapshot (reference analog: the
    destination-side lookups the reference does per batch; Spark analog:
    stream ⋈ static is stateless, re-planned every micro-batch, and the
    static side broadcasts).

    Run bounded: the events stream arrives as two deterministic batch
    files; each micro-batch left-joins the static customer dim
    (market segment keyed by ``user_id + 1 = c_custkey``) and feeds a
    complete-mode aggregate per (segment, event_type). The final
    complete-mode table equals the batch join+agg exactly, independent
    of the file split — exact SQL oracle. Decimal partial sums keep the
    value aggregate order-independent.
    """
    import os
    import tempfile
    import uuid

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).localCheckpoint()
    work = tempfile.mkdtemp(prefix="stream_enrich_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    half = ev.agg(F.max("event_id")).collect()[0][0] // 2
    emit(ev.filter(F.col("event_id") <= half), "b0")
    emit(ev.filter(F.col("event_id") > half), "b1")

    dim = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), F.col("c_mktsegment")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    enriched = stream.join(F.broadcast(dim), "user_id", "left")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def cdc_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-integrity audit: transactions that arrived with missing
    ordinals — the consumer-side check that an at-least-once CDC feed
    actually delivered every change (reference analog: the dense
    ``(commit_lsn, tx_ordinal)`` numbering of F13 makes loss DETECTABLE;
    this operator is the detector).

    A deterministic 5% "loss" is injected by an exact-integer md5-uniform
    cut on ``start_lsn`` (the same 52-bit numerator both engines compute
    identically — no float boundary). Each sim transaction carries
    exactly ``TX_SIZE`` ordinals 0..9, so any transaction observed with
    fewer rows has lost events, including head/tail loss. One
    map-combined shuffle on ``commit_lsn``; scan-stage everything else.
    """
    from etl_spark.sources.cdc import TX_SIZE

    env = envelope_from_events(spark, sf_dir).select(
        "commit_lsn", "tx_ordinal", "start_lsn"
    )
    m = F.conv(
        F.substring(F.md5(F.col("start_lsn").cast("string")), 1, 13), 16, 10
    ).cast("long")
    cut = (1 << 52) // 20  # exactly 5%
    kept = env.filter(m >= F.lit(cut))
    per_tx = kept.groupBy("commit_lsn").agg(
        F.count("*").alias("n_received"),
        F.max("tx_ordinal").alias("max_ordinal"),
    )
    return per_tx.filter(F.col("n_received") < TX_SIZE).select(
        "commit_lsn",
        "n_received",
        "max_ordinal",
        (F.lit(TX_SIZE) - F.col("n_received")).alias("n_missing"),
    )


def cdc_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog net-effect compaction — collapse each key's events within
    a batch to ONE net change before the sink (the Flink/Debezium batch
    compaction that cuts destination write amplification; reference
    analog: the per-batch merge reduction the apply loop performs before
    writing, apply.rs's batch accumulation).

    Net-op rule per (batch, key), with first/last in ``start_lsn`` order:
    INSERT..DELETE → nothing (the key never existed for downstream);
    INSERT..non-DELETE → INSERT carrying the last image;
    other..DELETE → DELETE (no after image);
    other..non-DELETE → UPDATE carrying the last image.

    Shape: ONE map-combined shuffle — first/last resolve via ``min_by``/
    ``max_by`` aggregates on the total order, no window, no sort. Batches
    here are 10-transaction blocks of the sim envelope.
    """
    env = envelope_from_events(spark, sf_dir).select(
        (F.col("commit_lsn") / 10).cast("long").alias("batch_id"),
        F.col("pk"),
        "op",
        "value",
        "props",
        "start_lsn",
    )
    per_key = env.groupBy("batch_id", "pk").agg(
        F.min_by("op", "start_lsn").alias("first_op"),
        F.max_by("op", "start_lsn").alias("last_op"),
        F.max_by("value", "start_lsn").alias("last_value"),
        F.max_by("props", "start_lsn").alias("last_props"),
        F.max("start_lsn").alias("last_lsn"),
    )
    net_op = (
        F.when((F.col("first_op") == "INSERT") & (F.col("last_op") == "DELETE"), F.lit(None))
        .when(F.col("first_op") == "INSERT", F.lit("INSERT"))
        .when(F.col("last_op") == "DELETE", F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
    )
    out = per_key.withColumn("net_op", net_op).filter(F.col("net_op").isNotNull())
    keep_img = F.col("net_op") != "DELETE"
    return out.select(
        "batch_id",
        "pk",
        "net_op",
        F.when(keep_img, F.col("last_value")).alias("value"),
        F.when(keep_img, F.col("last_props")).alias("props"),
        "last_lsn",
    )


def cdc_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation: row-level diff of the materialized
    current state against a (deterministically corrupted) destination
    copy — the source↔destination consistency audit every CDC operator
    runs before trusting a pipeline (reference analog: the test suite's
    destination-equality assertions, made a first-class operator).

    Destination simulation from the same current state: drop pks with
    md5-uniform < 15% (missing rows) and perturb value by +1 where the
    uniform lands in [15%, 30%) (mismatches) — exact-integer cuts, so both
    engines corrupt identically. Diff = full outer join on pk:
    ``missing_in_dest`` / ``extra_in_dest`` / ``value_mismatch``; equal
    rows are suppressed (at 100 TB the diff output is the anomaly set,
    not the table).

    Shape: one shuffle per side on pk (co-partitioned by the join), the
    comparison is join-local. With both tables bucketed by pk
    (layout.bucket_table) the exchange disappears entirely.
    """
    cur = cdc_current_state(spark, sf_dir).select("pk", "value")
    m = F.conv(
        F.substring(F.md5(F.col("pk").cast("string")), 1, 13), 16, 10
    ).cast("long")
    cut_drop = (1 << 52) * 15 // 100
    cut_perturb = (1 << 52) * 30 // 100
    dest = (
        cur.withColumn("__m", m)
        .filter(F.col("__m") >= cut_drop)
        .withColumn(
            "value",
            F.when(
                F.col("__m") < cut_perturb, F.col("value") + F.lit(1).cast("double")
            ).otherwise(F.col("value")),
        )
        .select("pk", F.col("value").alias("dest_value"), F.lit(True).alias("__in_dest"))
    )
    # Classify by SIDE PRESENCE (explicit per-side markers), not value
    # nullness: a key present with a NULL value must classify as a
    # mismatch/equal row, never as missing/extra.
    j = cur.withColumn("__in_src", F.lit(True)).join(dest, "pk", "full_outer")
    diff_kind = (
        F.when(F.col("__in_dest").isNull(), "missing_in_dest")
        .when(F.col("__in_src").isNull(), "extra_in_dest")
        .when(
            ~F.col("value").eqNullSafe(F.col("dest_value")), "value_mismatch"
        )
    )
    return (
        j.withColumn("diff_kind", diff_kind)
        .filter(F.col("diff_kind").isNotNull())
        .select("pk", "diff_kind", "value", "dest_value")
    )


def cdc_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel state DIFF: what changed between the 1/3- and 2/3-LSN
    snapshots of the stream — the audit/debug query a changelog makes
    one join away (Iceberg/Delta expose it as snapshot diff; the
    reference's changelog semantics are what make it answerable at all).

    Two as-of LWW materializations (each: scan-stage LSN filter + one
    replica-identity shuffle) full-outer-joined on the key; equal rows
    are suppressed so the output is the change set, not the table:
    ``added`` (key only in the later state), ``removed`` (only in the
    earlier), ``changed`` (value differs).
    """
    env = envelope_from_events(spark, sf_dir)
    bounds = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    lsn_a = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 3
    lsn_b = bounds["lo"] + (bounds["hi"] - bounds["lo"]) * 2 // 3

    def state(asof):
        cur = materialize.current_state(
            env.filter(F.col("commit_lsn") <= F.lit(asof)), keys=["pk"]
        )
        return cur.select("pk", "value")

    a = state(lsn_a).select(
        "pk", F.col("value").alias("value_a"), F.lit(True).alias("__in_a")
    )
    b = state(lsn_b).select(
        "pk", F.col("value").alias("value_b"), F.lit(True).alias("__in_b")
    )
    j = a.join(b, "pk", "full_outer")
    # Presence markers, not value nullness: a key whose value is NULL in
    # one snapshot is still PRESENT there and must classify as changed /
    # equal, never added/removed.
    kind = (
        F.when(F.col("__in_a").isNull(), "added")
        .when(F.col("__in_b").isNull(), "removed")
        .when(~F.col("value_a").eqNullSafe(F.col("value_b")), "changed")
    )
    return (
        j.withColumn("diff_kind", kind)
        .filter(F.col("diff_kind").isNotNull())
        .select(
            "pk",
            "diff_kind",
            "value_a",
            "value_b",
            F.lit(lsn_a).alias("lsn_a"),
            F.lit(lsn_b).alias("lsn_b"),
        )
    )


def cdc_changed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level change tracking (Debezium ``updated_fields`` /
    column-masking analog): for every UPDATE that has a prior image of
    its key, report WHICH payload columns actually changed — what lets
    a downstream do selective column updates (and skip no-op writes)
    instead of whole-row rewrites.

    The before image is the key's previous event (lag over the total
    order per key — the same LWW ordering every materialization uses),
    so the diff needs no stored snapshot: one window shuffle on the
    replica identity, null-safe comparisons, scan-stage everything else.
    """
    from pyspark.sql import Window

    env = envelope_from_events(spark, sf_dir).select(
        "op", "pk", "start_lsn", "event_seq", "value", "props"
    )
    w = Window.partitionBy("pk").orderBy("event_seq")
    with_prev = env.select(
        "op",
        "pk",
        "start_lsn",
        "value",
        "props",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("props").over(w).alias("prev_props"),
    )
    vc = ~F.col("value").eqNullSafe(F.col("prev_value"))
    pc = ~F.col("props").eqNullSafe(F.col("prev_props"))
    return (
        with_prev.filter(
            (F.col("op") == "UPDATE")
            & (F.col("prev_value").isNotNull() | F.col("prev_props").isNotNull())
        )
        .select(
            "start_lsn",
            "pk",
            vc.alias("value_changed"),
            pc.alias("props_changed"),
            (vc.cast("int") + pc.cast("int")).alias("n_changed"),
        )
    )


def cdc_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-grade SCD2: the INCREMENTAL destination
    (:class:`etl_spark.streaming.sinks.ParquetScd2Sink`) fed the sim
    envelope as three LSN-range micro-batches must land on exactly the
    state the one-shot batch window computes — same oracle as
    ``cdc_scd2_history``, so the gate hash-checks incremental==batch
    version maintenance (closures across batch boundaries, tombstone
    persistence, replay dedup) end-to-end.
    """
    import tempfile

    from etl_spark.streaming.sinks import ParquetScd2Sink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    sink = ParquetScd2Sink(
        tempfile.mkdtemp(prefix="scd2_sink_"), keys=["pk"], spark=spark
    )
    sink.write_snapshot("users", spark.createDataFrame([], "pk long, value double"))
    ranges = [(b["lo"], cut1), (cut1 + 1, cut2), (cut2 + 1, b["hi"])]
    for i, (lo, hi) in enumerate(ranges):
        sink.write_changes(
            "users", env.filter(F.col("commit_lsn").between(lo, hi)), batch_id=i
        )
    return sink.read("users").select(
        "pk",
        "op",
        "valid_from",
        "tx_ordinal",
        F.col("valid_to").cast("double").alias("valid_to"),
        "is_current",
        "value",
    )


def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream DDL through the bucket-manifest destination (reference
    ``SchemaDiff`` application, crates/etl/src/schema.rs:729-784 + docs
    schema-changes.md:20-30): the sim envelope drives a
    :class:`~etl_spark.streaming.sinks.ParquetCurrentStateSink` over three
    LSN-range micro-batches; between batch 1 and 2 a DDL RENAMEs
    ``value``→``amount`` and ADDs ``tier`` with default ``'standard'``.
    Post-DDL batches carry the new column name; the sink applies the
    rename as a manifest-level column mapping (zero data rewrite) and the
    default as lazy backfill (PG attmissingval semantics), so pre-DDL
    rows — including rows in buckets never rewritten after the DDL —
    surface under ``amount`` with ``tier='standard'``, and post-DDL
    winners carry their streamed values with ``tier`` NULL. Hash-checked
    against the batch LWW oracle with the rename/default folded in.
    """
    import tempfile

    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    sink = ParquetCurrentStateSink(
        tempfile.mkdtemp(prefix="ddl_sink_"), keys=["pk"], spark=spark
    )
    sink.write_snapshot("users", spark.createDataFrame([], "pk long, value double"))
    sink.write_changes(
        "users", env.filter(F.col("commit_lsn").between(b["lo"], cut1)), batch_id=0
    )
    sink.apply_schema_change(
        "users",
        renames=[("value", "amount")],
        defaults=[("tier", "standard", "string")],
    )
    post = env.withColumnRenamed("value", "amount")
    sink.write_changes(
        "users", post.filter(F.col("commit_lsn").between(cut1 + 1, cut2)), batch_id=1
    )
    sink.write_changes(
        "users", post.filter(F.col("commit_lsn").between(cut2 + 1, b["hi"])), batch_id=2
    )
    return sink.read("users").select(
        "pk", "op", "commit_lsn", "tx_ordinal", "amount", "tier"
    )


def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization (X100): ``applyInPandasWithState``
    with EVENT-TIME TIMEOUT — the session semantics built-in
    ``session_window`` can't express (explicit close reasons, per-session
    running state, watermark-driven idle eviction, reference slot-idle
    analog). Run bounded over deterministic batch files:

    - two real batches split at the time midpoint (sessions spanning the
      split fold through the carried state);
    - two far-future sentinel batches: the first advances the max event
      time, the second's watermark then passes every open session's
      ``last + gap``, firing the timeouts — so EVERY real session emits,
      deterministically.

    A session closes 'gap' when the user's next event arrives > 30 min
    later (same batch or later batch) and 'timeout' when the watermark
    expires it — equivalently: 'gap' iff a later session exists for the
    user. That makes the full output exactly SQL-expressible: classic
    gap-sessionization plus a has-later-session flag, so the custom
    stateful path is hash-checked end-to-end (state fold, timeout
    re-arm, append emission).
    """
    import os
    import tempfile
    import uuid

    from etl_spark.streaming.stateful import sessionize_stateful

    GAP_US = 1_800_000_000  # 30 min, the sessionize_events gap
    # one scan: the bounds agg, both batch filters, and the writes all
    # consume the checkpointed blocks instead of re-reading the parquet
    # three times (the harness cost was 1.5x the stream itself)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("us"), "value"
    ).localCheckpoint()
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 2
    work = tempfile.mkdtemp(prefix="stateful_sess_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    emit(ev.filter(F.col("us") < mid), "b0")
    emit(ev.filter(F.col("us") >= mid), "b1")
    # the sentinels are 1-row LITERALS — write them driver-side with
    # pyarrow; a createDataFrame().write job costs seconds of fixed
    # overhead per file and was the harness's dominant cost
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("user_id", pa.int64()), ("us", pa.int64()), ("value", pa.float64())]
    )
    for name, s_us in (
        ("b2", bounds["hi"] + 10 * GAP_US),
        ("b3", bounds["hi"] + 10 * GAP_US + GAP_US // 2),
    ):
        pq.write_table(
            pa.table({"user_id": [-1], "us": [s_us], "value": [0.0]}, schema=schema),
            os.path.join(src, f"{name}.parquet"),
        )

    stream = (
        spark.readStream.schema("user_id long, us long, value double")
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("event_time", F.timestamp_micros(F.col("us")))
        .withWatermark("event_time", "1 second")
    )
    sessions = sessionize_stateful(stream, gap_us=GAP_US)
    name = f"stateful_sess_{uuid.uuid4().hex[:8]}"
    # profiled round 10 (SCALE.md): the stream is MACHINERY-bound — the
    # vectorized kernel is <0.5s of a ~10s run; each trigger pays ~1.2s
    # of state-store commit/planning (x5 triggers incl. a zero-row
    # finalization batch). Same two knobs as the r9 click-purchase fix:
    # (a) state partitions sized to trigger volume (8; grows with volume
    # at cluster scale); (b) the no-data batch dropped — SAFE here by
    # harness construction: the second far-future sentinel advances the
    # watermark past every real session's last+gap, so all timeouts fire
    # inside the LAST DATA trigger; the trailing no-data batch emitted
    # nothing (the sentinel user's own session is filtered out anyway).
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", old_nodata
        )
    return spark.table(name).filter(F.col("user_id") >= 0).select(
        "user_id", "start_us", "end_us", "n_events",
        F.round("max_value", 6).alias("max_value"), "closed_by",
    )


def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming top-k (X122): 1-day windows sliding every
    12 hours over the event stream (each event lands in exactly two
    overlapping windows — the shape tumbling windows can't express),
    watermark-finalized in append mode, then the top-3 event types per
    finalized window by count. Run bounded: availableNow over two
    deterministic half files, one per micro-batch.

    Determinism for the exact oracle: append emits precisely the windows
    whose end ≤ final watermark (global max event time − 12 h), the
    window grid is epoch-aligned (the two 12 h grid points in
    (t − 1 day, t] per event), counts are integers, and the top-3 rank
    breaks ties on event_type — so the streamed result equals a closed
    SQL expression. At scale: state is O(windows in the watermark
    horizon × types), keyed on (window, type); the post-stream rank runs
    over the finalized RESULT table (window-bounded), never the stream.
    """
    import os
    import tempfile
    import uuid

    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", F.expr("ts div 1000").alias("us"), "event_type"
    ).localCheckpoint()
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 2
    work = tempfile.mkdtemp(prefix="stream_slide_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    emit(ev.filter(F.col("us") < mid).drop("us"), "b0")
    emit(ev.filter(F.col("us") >= mid).drop("us"), "b1")

    stream = (
        spark.readStream.schema(ev.drop("us").schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "12 hours")
    )
    agg = (
        stream.groupBy(
            F.window("event_time", "1 day", "12 hours"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    name = f"stream_slide_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.table(name)
    w = Window.partitionBy("window_start_us").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        res.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("window_start_us", "event_type", "n_events", "rnk")
    )


def cdc_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key profile of the change stream (X136): the top-10
    most-churned keys per table with their DML mix and LSN span — the
    skew detector run before sizing the bucket-manifest sinks (a handful
    of hot keys concentrates every batch's touched buckets) and the
    reference's per-table apply-metrics instinct turned toward keys.

    Shape: one map-combined (table, pk) aggregate over the envelope,
    then orderBy().limit() — TakeOrderedAndProject, per-partition top-k
    over the key aggregate, never a global sort (the sim envelope has
    ONE table, which Catalyst constant-folds out of any window partition
    spec — a partitioned WindowGroupLimit is the multi-table form); the
    rank is assigned over the 10-row result.
    """
    from pyspark.sql import Window

    env = envelope_from_events(spark, sf_dir)
    per_key = env.groupBy("table", "pk").agg(
        F.count("*").alias("n_changes"),
        F.sum(F.when(F.col("op") == "UPDATE", 1).otherwise(0)).alias("n_updates"),
        F.sum(F.when(F.col("op") == "DELETE", 1).otherwise(0)).alias("n_deletes"),
        F.min("start_lsn").alias("first_lsn"),
        F.max("start_lsn").alias("last_lsn"),
    )
    order = [F.col("n_changes").desc(), F.col("pk").asc()]
    top = per_key.orderBy(*order).limit(10)
    return top.withColumn("rnk", F.row_number().over(Window.orderBy(*order))).select(
        "table", "pk", "n_changes", "n_updates", "n_deletes",
        (F.col("last_lsn") - F.col("first_lsn")).alias("lsn_span"), "rnk",
    )


def cdc_rebucket_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online bucket-count migration mid-stream (X144): the sim envelope
    drives a :class:`~etl_spark.streaming.sinks.ParquetCurrentStateSink`
    created at ``n_buckets=4`` through the first LSN-range micro-batch;
    maintenance then REBUCKETs the table to 16 (full rewrite at the new
    count, manifest pins it, one atomic VERSION swap) and the remaining
    two batches apply INCREMENTALLY at the manifest-pinned count through
    a FRESH sink instance (a restarted writer that never saw the
    migration). The final table must hash-equal the one-shot batch LWW
    materialization — same oracle as ``cdc_current_state`` — proving the
    migration preserves state, later touched-bucket commits merge
    correctly at the new count, and writer restarts need no coordination.
    """
    import tempfile

    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value", "props"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    ranges = [(b["lo"], cut1), (cut1 + 1, cut2), (cut2 + 1, b["hi"])]
    root = tempfile.mkdtemp(prefix="rebucket_gate_")
    sink = ParquetCurrentStateSink(root, keys=["pk"], spark=spark, n_buckets=4)
    sink.write_snapshot("users", env.limit(0))
    sink.write_changes(
        "users",
        env.filter(F.col("commit_lsn").between(*ranges[0])),
        batch_id=0,
    )
    # maintenance window: migrate 4 -> 16 buckets
    sink.rebucket("users", 16)
    if sink._manifest("users", sink._current_version("users"))["n_buckets"] != 16:
        raise AssertionError("rebucket did not pin the new count")
    # restarted writer: fresh instance, never saw the migration — must
    # pick the count up from the manifest
    sink2 = ParquetCurrentStateSink(root, keys=["pk"], spark=spark)
    for i in (1, 2):
        sink2.write_changes(
            "users",
            env.filter(F.col("commit_lsn").between(*ranges[i])),
            batch_id=i,
        )
    return sink2.read("users").select(
        "pk", "op", "commit_lsn", "tx_ordinal", "value", "props"
    )


def cdc_ddl_rebucket_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three manifest mutations COMPOSED in one stream (X151): DDL
    epochs (rename of the KEY column pk→id plus value→amount plus ADD
    tier DEFAULT), an online bucket-count migration (4→16), a compaction
    fold, version expiry, and an at-least-once batch replay — each is
    gate-proven alone (``cdc_schema_evolution``,
    ``cdc_rebucket_migration``, the maintenance pytest matrix); this gate
    proves their COMPOSITION lands on exactly the one-shot batch LWW
    state (reference parity: schema.rs:729-784 SchemaDiff + the D4
    maintenance verbs driven against one table).

    Every maintenance/writer step after the DDL uses a FRESH sink
    instance built with the STALE configured key name and re-derives the
    current name from the manifest ddl_log (``sync_keys``) — the
    control-plane restart path.
    """
    import os
    import tempfile

    from etl_spark.maintenance import expire_versions
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    ranges = [(b["lo"], cut1), (cut1 + 1, cut2), (cut2 + 1, b["hi"])]
    root = tempfile.mkdtemp(prefix="ddl_rebucket_gate_")
    sink = ParquetCurrentStateSink(root, keys=["pk"], spark=spark, n_buckets=4)
    sink.write_snapshot("users", env.limit(0))
    sink.write_changes(
        "users", env.filter(F.col("commit_lsn").between(*ranges[0])), batch_id=0
    )
    # DDL: rename the KEY and a value column, add a defaulted column
    sink.apply_schema_change(
        "users",
        renames=[("pk", "id"), ("value", "amount")],
        defaults=[("tier", "standard", "string")],
    )
    # maintenance window (restarted process: stale config keys): migrate
    # 4 -> 16 buckets, fold the manifest chain, expire old versions
    maint = ParquetCurrentStateSink(root, keys=["pk"], spark=spark)
    assert maint.sync_keys("users") == ["id"]
    maint.rebucket("users", 16)
    maint.compact("users")
    expire_versions(os.path.join(root, "users"), keep=1)
    # restarted writer: fresh instance, stale config keys, post-DDL batches
    post = env.withColumnRenamed("pk", "id").withColumnRenamed("value", "amount")
    w = ParquetCurrentStateSink(root, keys=["pk"], spark=spark)
    w.sync_keys("users")
    w.write_changes(
        "users", post.filter(F.col("commit_lsn").between(*ranges[1])), batch_id=1
    )
    # at-least-once replay of the SAME batch (applied-batches fast path)
    w.write_changes(
        "users", post.filter(F.col("commit_lsn").between(*ranges[1])), batch_id=1
    )
    w.write_changes(
        "users", post.filter(F.col("commit_lsn").between(*ranges[2])), batch_id=2
    )
    return w.read("users").select(
        "id", "op", "commit_lsn", "tx_ordinal", "amount", "tier"
    )


def cdc_scd2_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream DDL through the SCD2 (versioned-dimension) destination
    (X152) — the ``cdc_schema_evolution`` twin for
    :class:`~etl_spark.streaming.sinks.ParquetScd2Sink`: three LSN-range
    micro-batches with a RENAME ``value``→``amount`` + ADD ``tier``
    DEFAULT ``'standard'`` between batches 1 and 2. Version rows OPENED
    before the DDL surface under ``amount`` with ``tier='standard'`` —
    including rows whose validity is CLOSED by a post-DDL event (the
    closure rewrite must preserve the lazily-backfilled default, not
    re-NULL it) — and post-DDL versions carry streamed values with
    ``tier`` NULL. Hash-checked against the batch SCD2 window oracle with
    the rename/default folded in (reference SchemaDiff at destinations,
    schema.rs:729-784).
    """
    import tempfile

    from etl_spark.streaming.sinks import ParquetScd2Sink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    sink = ParquetScd2Sink(
        tempfile.mkdtemp(prefix="scd2_ddl_gate_"), keys=["pk"], spark=spark
    )
    sink.write_snapshot("users", spark.createDataFrame([], "pk long, value double"))
    sink.write_changes(
        "users", env.filter(F.col("commit_lsn").between(b["lo"], cut1)), batch_id=0
    )
    sink.apply_schema_change(
        "users",
        renames=[("value", "amount")],
        defaults=[("tier", "standard", "string")],
    )
    post = env.withColumnRenamed("value", "amount")
    sink.write_changes(
        "users", post.filter(F.col("commit_lsn").between(cut1 + 1, cut2)), batch_id=1
    )
    sink.write_changes(
        "users", post.filter(F.col("commit_lsn").between(cut2 + 1, b["hi"])), batch_id=2
    )
    return sink.read("users").select(
        "pk",
        "op",
        "valid_from",
        "tx_ordinal",
        F.col("valid_to").cast("double").alias("valid_to"),
        "is_current",
        "amount",
        "tier",
    )


def cdc_duckdb_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-warehouse destination gate (X154): the sim envelope drives
    :class:`~etl_spark.streaming.duckdb_sink.DuckDBCurrentStateSink` —
    the staging-merge pattern of the reference's DuckLake / Snowflake
    destinations (ducklake/core.rs:1133-1216: stage parquet, winner per
    key by sequence, delete-superseded + insert-survivors in ONE
    transaction, applied-batches replay dedup) — over three LSN-range
    micro-batches with the middle batch REPLAYED (at-least-once). The
    warehouse table must hash-equal the batch LWW oracle. Previously the
    D4/D5 family had pytest evidence only; this puts a driver-recorded
    row on it.

    Scale note: the read-back is gate verification, not the data path —
    the DuckDB table IS the destination; its current state is
    replica-identity-dim-bounded (distinct users), so the pandas
    round-trip is dim-sized, never fact-sized.
    """
    import os
    import tempfile

    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value", "props"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    ranges = [(b["lo"], cut1), (cut1 + 1, cut2), (cut2 + 1, b["hi"])]
    work = tempfile.mkdtemp(prefix="duckdb_gate_")
    sink = DuckDBCurrentStateSink(
        os.path.join(work, "wh.duckdb"), keys={"users": ["pk"]},
        staging_dir=os.path.join(work, "stage"),
    )
    sink.write_snapshot("users", env.select("pk", "value", "props").limit(0))
    for i, (lo, hi) in enumerate(ranges):
        sink.write_changes(
            "users", env.filter(F.col("commit_lsn").between(lo, hi)), batch_id=i
        )
        if i == 1:  # replayed delivery: applied_batches must no-op it
            sink.write_changes(
                "users", env.filter(F.col("commit_lsn").between(lo, hi)), batch_id=i
            )
    import duckdb as _duckdb

    con = _duckdb.connect(os.path.join(work, "wh.duckdb"))
    pdf = con.execute('SELECT pk, value, props FROM "users"').df()
    con.close()
    return spark.createDataFrame(pdf)


def cdc_crash_replay_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-replay across TWO in-batch DDL boundaries (X155): the
    at-least-once window the round-9 relation-registry fix closes,
    driver-gated end-to-end.

    Events become real pgoutput binary frames in four transactions over
    two batch files. Batch 1 teaches relation v1 ``(pk, gone, value)``
    and applies tx1. Batch 2 carries tx2 (3-cell tuples under v1 — its
    RELATION learned in batch 1, so ABSENT from batch 2's overlay), the
    DROP republish (v2a: ``pk, value``), tx3 (2-cell), the RENAME
    republish (v2b: ``pk, amount``), tx4 — and the pipeline CRASHES at
    the durable-progress failpoint AFTER batch 2 applies. The restart
    replays batch 2: the replayed decode must resolve tx2 against v1 via
    the registry base (advancing the registry before batch success would
    hand the replay v2b — a 3-cell tuple against a 2-column schema
    mis-keys ``gone`` under ``value``'s position and loses the value).
    Final current-state table hash-equals the batch LWW oracle with both
    DDLs folded in (reference semantics: apply.rs replay +
    schema.rs:729-784 SchemaDiff; regression twin at unit level:
    test_pgoutput_crash_replay_keeps_pre_ddl_decode).
    """
    import os
    import shutil
    import tempfile
    from collections.abc import Iterator

    from etl_spark import failpoints as fp
    from etl_spark.sources import pgoutput as pgo
    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    b = ev.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]
    q1 = lo + (hi - lo) // 4
    q2 = lo + (hi - lo) // 2
    q3 = lo + (hi - lo) * 3 // 4
    C = {1: q1 * 10 + 5, 2: q2 * 10 + 5, 3: q3 * 10 + 5, 4: hi * 10 + 5}

    def enc(batches: Iterator) -> Iterator:
        # ONE encode pass for all four transaction ranges: the range (and
        # with it the frame shape + xid) is derived per row from the
        # quartile bounds, so batch 2 is a single scan + Python stage
        # instead of three (same frames row-for-row as the former
        # per-range encoders)
        import pandas as pd

        for pdf in batches:
            out = {"wal_start": [], "xid": [], "frame": []}
            for eid, uid, et, val in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"], pdf["value"]
            ):
                eid, uid = int(eid), int(uid)
                rng = 1 if eid <= q1 else 2 if eid <= q2 else 3 if eid <= q3 else 4
                pk, v = str(uid), str(float(val))
                if et == "error":
                    frame = pgo.encode_delete(1, key=[pk])
                elif rng == 1:
                    frame = pgo.encode_insert(1, [pk, "g", v])  # v1: 3 cells
                elif rng == 2:
                    frame = pgo.encode_update(1, [pk, "g", v])  # v1: 3 cells
                else:
                    frame = pgo.encode_update(1, [pk, v])  # v2a/v2b: 2 cells
                out["wal_start"].append(eid * 10)
                out["xid"].append(rng)
                out["frame"].append(frame)
            yield pd.DataFrame(out)

    r1 = ev.filter(F.col("event_id") <= q1).mapInPandas(enc, pgo.FRAME_SCHEMA)
    r234 = ev.filter(F.col("event_id") > q1).mapInPandas(enc, pgo.FRAME_SCHEMA)

    rel_v1 = pgo.encode_relation(1, "public", "users", "d",
                                 [(1, "pk", 20, -1), (0, "gone", 25, -1),
                                  (0, "value", 701, -1)])
    rel_v2a = pgo.encode_relation(1, "public", "users", "d",
                                  [(1, "pk", 20, -1), (0, "value", 701, -1)])
    rel_v2b = pgo.encode_relation(1, "public", "users", "d",
                                  [(1, "pk", 20, -1), (0, "amount", 701, -1)])
    ctrl1 = spark.createDataFrame([
        (1, -1, bytearray(rel_v1)),
        (2, 1, bytearray(pgo.encode_begin(final_lsn=C[1], xid=1))),
        (C[1], 1, bytearray(pgo.encode_commit(C[1], C[1] + 1))),
    ], pgo.FRAME_SCHEMA)
    ctrl2 = spark.createDataFrame([
        (q1 * 10 + 6, 2, bytearray(pgo.encode_begin(final_lsn=C[2], xid=2))),
        (C[2], 2, bytearray(pgo.encode_commit(C[2], C[2] + 1))),
        (C[2] + 2, -1, bytearray(rel_v2a)),
        (C[2] + 3, 3, bytearray(pgo.encode_begin(final_lsn=C[3], xid=3))),
        (C[3], 3, bytearray(pgo.encode_commit(C[3], C[3] + 1))),
        (C[3] + 2, -1, bytearray(rel_v2b)),
        (C[3] + 3, 4, bytearray(pgo.encode_begin(final_lsn=C[4], xid=4))),
        (C[4], 4, bytearray(pgo.encode_commit(C[4], C[4] + 1))),
    ], pgo.FRAME_SCHEMA)

    work = tempfile.mkdtemp(prefix="crashddl_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def emit(df, name):
        stage = os.path.join(work, f"stage_{name}")
        # repartition(1), not coalesce(1): coalesce collapses the WHOLE
        # encode pipeline (scan + Python stage) into one task; the
        # one-file contract (1 file = 1 micro-batch, load-bearing for
        # the crash-replay window) only needs a single WRITER, which the
        # exchange provides while the encode stays parallel (guide §2.4:
        # the extra exchange moves a few MB; measured net win ~3x here)
        df.repartition(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(stage)

    emit(r1.unionByName(ctrl1), "b1")
    snap = os.path.join(work, "snap")
    # 0-row literal: write it driver-side with pyarrow (the
    # stream_stateful_sessions sentinel trick) — a createDataFrame().write
    # job costs ~0.3-0.5 s of fixed overhead for an empty file
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(snap, exist_ok=True)
    pq.write_table(
        pa.table({"pk": pa.array([], pa.int64()),
                  "gone": pa.array([], pa.string()),
                  "value": pa.array([], pa.float64())}),
        os.path.join(snap, "part-00000.parquet"),
    )
    sink = ParquetCurrentStateSink(os.path.join(work, "sink"), keys=["pk"], spark=spark)
    cfg = TableConfig(name="public.users", snapshot_path=snap, keys=["pk"],
                      payload_schema="pk long, gone string, value double")
    pwork = os.path.join(work, "pipe")
    Pipeline(spark, src, [cfg], sink, pwork,
             source_fmt="pgoutput").run_until_drained()

    emit(r234.unionByName(ctrl2), "b2")
    fp.arm(fp.STORE_REPLICATION_PROGRESS)
    try:
        Pipeline(spark, src, [cfg], sink, pwork,
                 source_fmt="pgoutput").run_until_drained()
        raise AssertionError("crash failpoint did not fire")
    except AssertionError:
        raise
    except Exception:
        pass  # the simulated crash
    finally:
        fp.disarm_all()
    # restart: batch 2 replays; tx2 must decode against the v1 base
    Pipeline(spark, src, [cfg], sink, pwork,
             source_fmt="pgoutput").run_until_drained()
    out = sink.read("public.users")
    return out.select(
        "pk", "op",
        F.col("commit_lsn").cast("long").alias("commit_lsn"),
        F.col("tx_ordinal").cast("long").alias("tx_ordinal"),
        F.col("amount").cast("double").alias("amount"),
    )


def cdc_duckdb_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 at the SQL warehouse (X156): the sim envelope drives
    :class:`~etl_spark.streaming.duckdb_sink.DuckDBScd2Sink` — the
    versioned-dimension twin of the X154 staging-merge destination
    (reference division of labor: Spark stages parquet, the warehouse
    executes the merge; ducklake/core.rs:1133-1216) — over three
    LSN-range micro-batches with the middle batch REPLAYED. Per batch the
    warehouse appends the event history (deduplicated on key+sequence)
    and re-derives version rows for ONLY the touched keys in one
    transaction. The final version table must hash-equal the batch SCD2
    window — the same oracle family as ``cdc_scd2_history``.

    Scale note: the read-back is gate verification, not the data path;
    the versions table is bounded by distinct (key, version) pairs.
    """
    import os
    import tempfile

    from etl_spark.streaming.duckdb_sink import DuckDBScd2Sink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    ranges = [(b["lo"], cut1), (cut1 + 1, cut2), (cut2 + 1, b["hi"])]
    work = tempfile.mkdtemp(prefix="duckdb_scd2_")
    sink = DuckDBScd2Sink(
        os.path.join(work, "wh.duckdb"), keys={"users": ["pk"]},
        staging_dir=os.path.join(work, "stage"),
    )
    sink.write_snapshot("users", env.select("pk", "value").limit(0))
    for i, (lo, hi) in enumerate(ranges):
        sink.write_changes(
            "users", env.filter(F.col("commit_lsn").between(lo, hi)), batch_id=i
        )
        if i == 1:  # replayed delivery: the ledger must no-op it
            sink.write_changes(
                "users", env.filter(F.col("commit_lsn").between(lo, hi)), batch_id=i
            )
    import duckdb as _duckdb

    con = _duckdb.connect(os.path.join(work, "wh.duckdb"))
    pdf = con.execute(
        'SELECT pk, op, valid_from, tx_ordinal, CAST(valid_to AS DOUBLE)'
        ' AS valid_to, is_current, value FROM "users"'
    ).df()
    con.close()
    return spark.createDataFrame(pdf)


def cdc_duckdb_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog fidelity at the SQL warehouse (X157): the sim envelope
    drives :class:`~etl_spark.streaming.duckdb_sink.DuckDBChangelogSink`
    — the append-only twin of the X154/X156 staging destinations
    (ClickHouse/Iceberg changelog semantics, SURVEY D2/D3) — over three
    LSN-range micro-batches with the middle batch REPLAYED (whole batch,
    ledger-absorbed) AND replayed again under a NEW batch id (partial
    replay, absorbed by the per-event sequence dedup). The warehouse
    table must contain every change event exactly once — hash-equal to
    the envelope itself.
    """
    import os
    import tempfile

    from etl_spark.streaming.duckdb_sink import DuckDBChangelogSink

    env = envelope_from_events(spark, sf_dir).select(
        "op", "commit_lsn", "tx_ordinal", "event_seq", "pk", "value"
    )
    b = env.agg(
        F.min("commit_lsn").alias("lo"), F.max("commit_lsn").alias("hi")
    ).collect()[0]
    cut1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    cut2 = b["lo"] + (b["hi"] - b["lo"]) * 2 // 3
    ranges = [(b["lo"], cut1), (cut1 + 1, cut2), (cut2 + 1, b["hi"])]
    work = tempfile.mkdtemp(prefix="duckdb_cl_")
    sink = DuckDBChangelogSink(
        os.path.join(work, "wh.duckdb"), staging_dir=os.path.join(work, "stage")
    )
    sink.write_snapshot("users", env.select("pk", "value").limit(0))
    for i, (lo, hi) in enumerate(ranges):
        batch = env.filter(F.col("commit_lsn").between(lo, hi))
        sink.write_changes("users", batch, batch_id=i)
        if i == 1:
            sink.write_changes("users", batch, batch_id=i)  # whole replay
            sink.write_changes("users", batch, batch_id=99)  # partial replay
    import duckdb as _duckdb

    con = _duckdb.connect(os.path.join(work, "wh.duckdb"))
    pdf = con.execute(
        'SELECT op, commit_lsn, tx_ordinal, pk, value FROM "users"'
    ).df()
    con.close()
    return spark.createDataFrame(pdf)


def _copy_sync_capture(spark: SparkSession, sf_dir: str):
    """Shared fixture for the wire table-sync gates: the COPY text lines
    of the snapshot-time customers (escapes + NULLs crafted in) and the
    serialized post-snapshot WAL byte stream (encode term is driver-side
    by protocol design — ONE server renders one byte stream; the decode
    side stays distributed). See cdc_socket_copy_sync's docstring for
    the row layout contract both gates and their shared oracle pin."""
    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo

    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal", "c_name")
        .toPandas()
        .sort_values("c_custkey", ignore_index=True)
    )

    def esc(s: str) -> str:  # COPY text escape (server-side render term)
        return (s.replace("\\", "\\\\").replace("\t", "\\t")
                 .replace("\n", "\\n").replace("\r", "\\r"))

    lines: list[bytes] = []
    touched: list[tuple[int, float, str]] = []
    for pk, bal, name in zip(cust["c_custkey"], cust["c_acctbal"],
                             cust["c_name"]):
        pk, bal, name = int(pk), float(bal), str(name)
        if pk % 5 != 0:
            crafted = f"{name}\tq\\z"
            balcell = "\\N" if pk % 7 == 0 else repr(bal)
            lines.append(f"{pk}\t{balcell}\t{esc(crafted)}".encode())
        if pk % 5 == 0 or pk % 3 == 0:
            touched.append((pk, bal, name))

    rel = pgo.encode_relation(
        1, "public", "users", "d",
        [(1, "pk", 20, -1), (0, "bal", 701, -1), (0, "name", 25, -1)])
    msgs = [live.encode_xlog_data(-100, -99, 0, rel)]
    for i, (pk, bal, name) in enumerate(touched):
        tx = i // 10
        if i % 10 == 0:
            if tx > 0:
                wal = 160 * (tx - 1) + 155
                msgs.append(live.encode_xlog_data(
                    wal, wal + 1, tx - 1, pgo.encode_commit(tx - 1, tx)))
            msgs.append(live.encode_xlog_data(
                160 * tx, 160 * tx + 1, tx,
                pgo.encode_begin(final_lsn=tx, xid=tx % 4294967296)))
        if pk % 5 == 0:
            frame = pgo.encode_insert(1, [str(pk), repr(bal), name])
        else:
            frame = pgo.encode_update(
                1, [str(pk), repr(bal + 100.0), name + "!"], key=[str(pk)])
        wal = 160 * tx + 2 + (i % 10)
        msgs.append(live.encode_xlog_data(wal, wal + 1, i, frame))
    if touched:
        tx = (len(touched) - 1) // 10
        wal = 160 * tx + 155
        msgs.append(live.encode_xlog_data(
            wal, wal + 1, tx, pgo.encode_commit(tx, tx + 1)))
    return lines, live.encode_copy_stream(msgs)


def cdc_socket_copy_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Initial table sync OVER THE WIRE + streaming handoff (round 13,
    closing VERDICT r12 "What's missing" #3 — the last live-path parity
    rung): one replication connection runs the reference's full
    table-sync choreography (table_sync/copy.rs over
    transaction.rs:328-385 + child.rs:35-45):

    1. ``CREATE_REPLICATION_SLOT ... EXPORT_SNAPSHOT`` → consistent
       point + snapshot name, over the socket;
    2. ``BEGIN`` / ``SET TRANSACTION SNAPSHOT`` / ``COPY (select ...)
       TO STDOUT`` / ``COMMIT`` — line batches relayed (opaque bytes)
       into parquet, decoded DISTRIBUTED through the gate-proven F10
       codec (``codec.copy_text_split``): escapes (tab, backslash),
       ``\N`` NULLs, typed casts;
    3. the SAME connection then switches to CopyBoth at the consistent
       point (``START_REPLICATION``), streaming the post-snapshot WAL
       through ``FrameFilePump`` + the distributed pgoutput decode;
    4. snapshot ∪ stream merge by ``event_seq`` LWW — overlap-free by
       construction because the copy ran inside the exported snapshot
       (the T6 handoff correctness argument).

    Sim layout: customers with ``c_custkey % 5 != 0`` exist at snapshot
    time (bal NULL when ``% 7 == 0``, name carrying a real TAB and a
    backslash to force the COPY escapes); the WAL then INSERTs the
    ``% 5 == 0`` rows and UPDATEs the ``% 3 == 0`` ones (bal + 100,
    name + '!').

    Scale note: the capture encode + single-connection relay are
    driver-side by protocol design (exactly the reference's table-sync
    worker); the COPY decode and everything downstream is distributed.
    Parallel initial sync across ctid ranges = one connection per range
    (reference: max_copy_connections), same code path.
    """
    import tempfile

    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo
    from etl_spark.sources.snapshot import snapshot_via_copy
    from etl_spark.sources.socket_transport import (
        LoopbackReplicationServer,
        SocketReplicationSource,
    )

    lines, stream = _copy_sync_capture(spark, sf_dir)

    copy_dir = tempfile.mkdtemp(prefix="copy_lines_")
    frames_dir = tempfile.mkdtemp(prefix="copy_frames_")
    with LoopbackReplicationServer(
            stream, consistent_point=0, snapshot_name="00000003-copysync",
            tables={"public.users": lines}) as srv:
        src = SocketReplicationSource("127.0.0.1", srv.port)
        slot = src.create_slot("copy_gate", export_snapshot=True)
        snap_df = snapshot_via_copy(
            spark, src, "public.users", "pk long, bal double, name string",
            copy_dir, column_list=["pk", "bal", "name"],
            snapshot_name=slot.snapshot_name)
        src.start(slot.slot_name, slot.consistent_point)
        pump = live.FrameFilePump(src, spark, frames_dir,
                                  batch_bytes=4 << 20)
        while pump.drain_once() > 0:
            pump.report_progress()
        src.close()

    frames = spark.read.schema(
        "wal_start long, xid long, frame binary").parquet(frames_dir)
    env = pgo.decode_frames(
        frames, assemble_partitions=spark.sparkContext.defaultParallelism
    )
    wal_rows = env.filter(F.col("op").isin("INSERT", "UPDATE")).select(
        F.get_json_object("after", "$.pk").cast("long").alias("pk"),
        F.get_json_object("after", "$.bal").cast("double").alias("bal"),
        F.get_json_object("after", "$.name").alias("name"),
        "op", "commit_lsn", "tx_ordinal",
    )
    snap = snap_df.select(
        "pk", "bal", "name", F.lit("INSERT").alias("op"),
        F.lit(0).cast("long").alias("commit_lsn"),
        F.lit(0).cast("long").alias("tx_ordinal"),
    )
    merged = snap.unionByName(wal_rows).withColumn(
        "event_seq", event_seq("commit_lsn", "tx_ordinal"))
    cur = materialize.current_state(merged, keys=["pk"])
    return cur.select("pk", "bal", "name")


def cdc_socket_parallel_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARALLEL multi-connection initial sync over the wire + streaming
    handoff (round 13, X—the S2-over-wire pool under the driver gate):
    identical semantics and ORACLE to ``cdc_socket_copy_sync``, but the
    snapshot half runs through the config-driven :class:`Replicator` —
    ``max_copy_connections_per_table = 3`` opens one replication
    connection per ctid partition (the reference's
    ``max_copy_connections`` pool, pipeline.rs:285-291), every worker
    transaction anchored to the SAME exported snapshot, three disjoint
    COPY slices relayed concurrently into ONE distributed decode. The
    pool, like the socket and TLS before it, must be invisible in the
    result.

    This gate also exercises the config layer end-to-end: the
    connection/pool/batch knobs arrive via a validated
    ``PipelineConfig`` (etl-replicator entry semantics, core.rs).
    """
    import tempfile

    from etl_spark.config import PgConnectionConfig, PipelineConfig
    from etl_spark.replicator import Replicator, TableSpec
    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo
    from etl_spark.sources.socket_transport import (
        LoopbackReplicationServer,
        SocketReplicationSource,
    )

    lines, stream = _copy_sync_capture(spark, sf_dir)
    # three contiguous ctid partitions; the loopback serves each slice
    # keyed by the copy SQL's range start (None = OpenStart)
    third = (len(lines) + 2) // 3
    ranges = [(None, "(8,1)"), ("(8,1)", "(16,1)"), ("(16,1)", None)]
    slices = {
        None: lines[:third],
        "(8,1)": lines[third:2 * third],
        "(16,1)": lines[2 * third:],
    }

    work_dir = tempfile.mkdtemp(prefix="psync_")
    frames_dir = tempfile.mkdtemp(prefix="psync_frames_")
    with LoopbackReplicationServer(
            stream, consistent_point=0, snapshot_name="00000003-psync",
            tables={"public.users": slices}) as srv:
        cfg = PipelineConfig(
            id=13, publication_name="pub",
            pg_connection=PgConnectionConfig(host="127.0.0.1", port=srv.port),
            max_copy_connections_per_table=3,
        )
        rep = Replicator(
            spark, cfg, work_dir,
            make_source=lambda: SocketReplicationSource("127.0.0.1", srv.port))
        probe = SocketReplicationSource("127.0.0.1", srv.port)
        slot = probe.create_slot("psync_gate", export_snapshot=True)
        synced = rep.initial_sync(
            [TableSpec(oid=1, name="public.users",
                       payload_schema="pk long, bal double, name string",
                       column_list=["pk", "bal", "name"],
                       ctid_ranges=ranges)],
            snapshot_name=slot.snapshot_name)
        snap_df = synced["public.users"]
        probe.start(slot.slot_name, slot.consistent_point)
        pump = live.FrameFilePump(probe, spark, frames_dir,
                                  batch_bytes=4 << 20)
        while pump.drain_once() > 0:
            pump.report_progress()
        probe.close()

    frames = spark.read.schema(
        "wal_start long, xid long, frame binary").parquet(frames_dir)
    env = pgo.decode_frames(
        frames, assemble_partitions=spark.sparkContext.defaultParallelism
    )
    wal_rows = env.filter(F.col("op").isin("INSERT", "UPDATE")).select(
        F.get_json_object("after", "$.pk").cast("long").alias("pk"),
        F.get_json_object("after", "$.bal").cast("double").alias("bal"),
        F.get_json_object("after", "$.name").alias("name"),
        "op", "commit_lsn", "tx_ordinal",
    )
    snap = snap_df.select(
        "pk", "bal", "name", F.lit("INSERT").alias("op"),
        F.lit(0).cast("long").alias("commit_lsn"),
        F.lit(0).cast("long").alias("tx_ordinal"),
    )
    merged = snap.unionByName(wal_rows).withColumn(
        "event_seq", event_seq("commit_lsn", "tx_ordinal"))
    cur = materialize.current_state(merged, keys=["pk"])
    return cur.select("pk", "bal", "name")


def pgoutput_socket_tls_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication decode through a real TCP socket WITH TLS (round 13):
    SSLRequest preamble, stdlib ``ssl`` handshake at verify-full against
    a gate-minted self-signed root, hostssl-style server (plaintext
    startups rejected) — then the identical CopyBoth flow. The oracle is
    IDENTICAL to ``pgoutput_decode``: encryption, like the socket and
    the framing, must be invisible in the result.

    Reference parity: ``crates/etl-config/src/shared/connection.rs:245-317``
    (ssl_mode / trusted_root_certs → SSLContext policy).
    """
    return pgoutput_socket_decode(spark, sf_dir, tls=True)
