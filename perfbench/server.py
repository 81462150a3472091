"""Paced replication server: the benchmark's load generator, run as its own
process so serving never shares the engine's interpreter lock.

It hosts a :class:`LoopbackReplicationServer` subclass that speaks the
subset of the PostgreSQL replication protocol the engine's
``SocketReplicationSource`` and ``resolve_start_lsn`` use — startup,
``CREATE_REPLICATION_SLOT``, the slot lookup, the snapshot-anchored
``COPY ... TO STDOUT`` (ctid-partitioned), ``START_REPLICATION`` — and
replaces the recorded-capture replay with a live WAL: transactions
become visible when the benchmark releases their phase (or, for the
paced phase, on an open-loop schedule), and every connection streams
whatever is visible as CopyBoth XLogData, with a reply-requested
keepalive every ``KEEPALIVE_S``. Each transaction's first COMMIT send
time and every standby status update (arrival time, flush LSN) are
recorded for the commit-lag computation.

Control protocol: one JSON object per line on stdin, one JSON reply per
line on stdout. The first stdout line announces the port.

    python3 perfbench/server.py --workload trickle --seed 1 --seconds 30
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import struct
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import gen  # noqa: E402
import stats  # noqa: E402
from etl_spark.sources import live  # noqa: E402
from etl_spark.sources import pgoutput as pgo  # noqa: E402
from etl_spark.sources.socket_transport import (  # noqa: E402
    LoopbackReplicationServer,
    _MessageReader,
    parse_lsn,
    pq_message,
)

#: seconds between reply-requested keepalives on an open stream
KEEPALIVE_S = 0.5
#: coalesce CopyData into sends of about this many bytes
SEND_CHUNK = 256 << 10


def _copy_data(payload: bytes) -> bytes:
    return pq_message(b"d", payload)


def encode_wal(wl: gen.Workload) -> tuple[list[bytes], list[list[tuple]]]:
    """Every transaction as one CopyData byte string (BEGIN … COMMIT),
    plus, per transaction, the RELATION messages a connection must have
    sent first: ``(table, schema version, CopyData bytes)``."""
    cols = {t: list(wl.initial_columns(t)) for t in wl.tables}
    version = {t: 0 for t in wl.tables}
    tx_bytes: list[bytes] = []
    tx_rels: list[list[tuple]] = []
    for tx in wl.txs:
        for tn, col in tx.ddl:
            cols[tn].append(col)
            version[tn] += 1
        end = tx.final_lsn
        rels = []
        for j, tn in enumerate(dict.fromkeys(ch.table for ch in tx.changes)):
            t = wl.tables[tn]
            frame = pgo.encode_relation(
                t.rel_id, "public", tn.split(".", 1)[1],
                "f" if t.full_identity else "d",
                [(1 if n == "pk" else 0, n, gen.PG_OIDS[ty], -1)
                 for n, ty in cols[tn]])
            pos = tx.begin_lsn - gen.REL_SLOTS + j
            rels.append((tn, version[tn], _copy_data(
                live.encode_xlog_data(pos, end, 0, frame))))
        out = [_copy_data(live.encode_xlog_data(
            tx.begin_lsn, end, 0,
            pgo.encode_begin(final_lsn=end, xid=tx.begin_lsn % (1 << 32))))]
        for k, ch in enumerate(tx.changes):
            t = wl.tables[ch.table]
            if ch.op == "I":
                frame = pgo.encode_insert(t.rel_id, ch.cells)
            elif ch.op == "U":
                new = [pgo.UNCHANGED_TOAST if c is gen.TOAST else c
                       for c in ch.cells]
                frame = pgo.encode_update(t.rel_id, new, old=ch.old)
            else:
                key = ch.old or [str(ch.pk)] + [None] * (len(cols[ch.table]) - 1)
                frame = (pgo.encode_delete(t.rel_id, old=key) if ch.old
                         else pgo.encode_delete(t.rel_id, key=key))
            out.append(_copy_data(live.encode_xlog_data(
                tx.begin_lsn + 1 + k, end, 0, frame)))
        out.append(_copy_data(live.encode_xlog_data(
            end - 1, end, 0, pgo.encode_commit(end, end + 1))))
        tx_bytes.append(b"".join(out))
        tx_rels.append(rels)
    return tx_bytes, tx_rels


class PacedReplicationServer(LoopbackReplicationServer):
    """Live-WAL variant of the loopback server (see module docstring)."""

    def __init__(self, wl: gen.Workload, connections: int):
        tables = {}
        for name, rows in wl.snapshots.items():
            lines = gen.copy_lines(rows)
            ranges = gen.ctid_ranges(connections)
            tables[name] = dict(zip([r[0] for r in ranges],
                                    gen.split_even(lines, len(ranges))))
        self.wl = wl
        self.tx_bytes, self.tx_rels = encode_wal(wl)
        self.final = [tx.final_lsn for tx in wl.txs]
        #: transactions [0, visible) are committed and may be streamed
        self.visible = 0
        self.cv = threading.Condition()
        #: first COMMIT send time per transaction index
        self.sent: dict[int, float] = {}
        #: every standby status update: (arrival time, flush LSN)
        self.acks: list[tuple[float, int]] = []
        self.acked = 0
        #: paced phase: per-transaction release lateness in seconds
        self.lateness: list[float] = []
        super().__init__(b"", snapshot_name="00000003-bench", tables=tables)

    # -- WAL visibility ----------------------------------------------------
    def wal_end(self) -> int:
        return self.final[self.visible - 1] if self.visible else 0

    def release_to(self, n: int) -> None:
        with self.cv:
            self.visible = max(self.visible, n)
            self.cv.notify_all()

    def phase_bounds(self, phase: str) -> tuple[int, int]:
        idx = [i for i, tx in enumerate(self.wl.txs) if tx.phase == phase]
        return (idx[0], idx[-1] + 1) if idx else (self.visible, self.visible)

    def pace(self) -> threading.Thread:
        """Open loop: release each paced transaction at its due time
        regardless of how the engine keeps up."""
        lo, hi = self.phase_bounds("paced")

        def run():
            t0 = time.monotonic()
            for i in range(lo, hi):
                due = t0 + self.wl.txs[i].due
                now = time.monotonic()
                if due > now:
                    time.sleep(due - now)
                    now = time.monotonic()
                self.lateness.append(now - due)
                self.release_to(i + 1)

        th = threading.Thread(target=run, daemon=True)
        th.start()
        return th

    def wait_ack(self, lsn: int, timeout: float) -> float | None:
        """Arrival time of the first status update whose flush LSN
        reached ``lsn`` (None on timeout)."""
        deadline = time.monotonic() + timeout
        with self.cv:
            while self.acked < lsn:
                left = deadline - time.monotonic()
                if left <= 0:
                    return None
                self.cv.wait(left)
            return next(t for t, f in self.acks if f >= lsn)

    # -- protocol overrides ------------------------------------------------
    def _reply_create_slot(self, conn: socket.socket, q: str) -> None:
        self.consistent_point = self.wal_end()
        super()._reply_create_slot(conn, q)

    def _record_ack(self, body: bytes) -> None:
        p = live.parse_copy_payload(body)
        if p["kind"] != "StatusUpdate":
            raise ValueError(f"client sent a {p['kind']} message")
        with self.cv:
            self.acks.append((time.monotonic(), p["flush_lsn"]))
            self.received_updates.append(body)
            if p["flush_lsn"] > self.acked:
                self.acked = p["flush_lsn"]
                self.confirmed_flush_lsn = self.acked
                self.cv.notify_all()

    def _read_acks(self, reader: _MessageReader, closed: threading.Event) -> None:
        try:
            while True:
                msg = reader.read_message()
                if msg is None or msg[0] in (b"c", b"X"):
                    return
                if msg[0] == b"d":
                    self._record_ack(msg[1])
        except (OSError, ValueError):
            return
        finally:
            closed.set()
            with self.cv:
                self.cv.notify_all()

    def _stream(self, conn: socket.socket, reader: _MessageReader,
                q: str) -> None:
        start_lsn = next((parse_lsn(tok) for tok in q.split()
                          if "/" in tok and all(
                              c in "0123456789ABCDEFabcdef/" for c in tok)), 0)
        conn.sendall(pq_message(b"W", struct.pack(">bh", 0, 0)))
        conn.settimeout(None)
        closed = threading.Event()
        acks = threading.Thread(target=self._read_acks, args=(reader, closed),
                                daemon=True)
        acks.start()
        # the server re-sends every transaction whose commit the slot has
        # not confirmed: COMMIT position final_lsn - 1 >= start_lsn
        i = next((k for k, f in enumerate(self.final) if f > start_lsn),
                 len(self.final))
        rel_sent: dict[str, int] = {}
        last_ka = time.monotonic()
        try:
            while not closed.is_set() and not self._stop.is_set():
                with self.cv:
                    if self.visible <= i:
                        self.cv.wait(KEEPALIVE_S / 2)
                    n = self.visible
                buf = bytearray()
                pending: list[int] = []
                for k in range(i, n):
                    for tn, ver, msg in self.tx_rels[k]:
                        if rel_sent.get(tn) != ver:
                            buf += msg
                            rel_sent[tn] = ver
                    buf += self.tx_bytes[k]
                    pending.append(k)
                    if len(buf) >= SEND_CHUNK:
                        self._send_stamped(conn, buf, pending)
                        buf, pending = bytearray(), []
                if buf:
                    self._send_stamped(conn, buf, pending)
                i = max(i, n)
                if time.monotonic() - last_ka >= KEEPALIVE_S:
                    conn.sendall(_copy_data(live.encode_keepalive(
                        self.wal_end(), 0, reply_requested=True)))
                    last_ka = time.monotonic()
        except OSError:
            pass  # client went away mid-send
        closed.wait(5)

    def _send_stamped(self, conn: socket.socket, buf: bytearray,
                      txs: list[int]) -> None:
        conn.sendall(buf)
        now = time.monotonic()
        for k in txs:
            self.sent.setdefault(k, now)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--connections", type=int, default=1)
    args = ap.parse_args()
    wl = gen.Workload(args.workload, args.seed, args.seconds)
    srv = PacedReplicationServer(wl, args.connections)
    out = sys.stdout

    def reply(obj) -> None:
        out.write(json.dumps(obj) + "\n")
        out.flush()

    reply({"port": srv.port})
    pacer = None
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "release":
            lo, hi = srv.phase_bounds(cmd["phase"])
            srv.release_to(hi)
            reply({"txs": hi - lo, "last_lsn": srv.final[hi - 1] if hi > lo else 0,
                   "events": sum(len(t.changes) for t in wl.txs[lo:hi])})
        elif op == "pace":
            lo, hi = srv.phase_bounds("paced")
            pacer = srv.pace()
            reply({"txs": hi - lo, "last_lsn": srv.final[hi - 1] if hi > lo else 0})
        elif op == "wait_paced":
            if pacer is not None:
                pacer.join()
            late = srv.lateness
            reply({"late_p99_s": stats.percentile(late, 99) if late else 0.0,
                   "late_max_s": max(late, default=0.0)})
        elif op == "acked":
            reply({"lsn": srv.acked})
        elif op == "wait_ack":
            reply({"t": srv.wait_ack(cmd["lsn"], cmd["timeout"])})
        elif op == "log":
            reply({"txs": [[k, wl.txs[k].phase, srv.final[k], srv.sent.get(k)]
                           for k in range(len(wl.txs))],
                   "acks": srv.acks})
        elif op == "quit":
            srv.stop()
            reply({"ok": True})
            return


if __name__ == "__main__":
    main()
