"""Cross-batch pipelined flush behind a destination-acked ledger
(SURVEY T5 full form; reference apply.rs:1956-2023).

The reference overlaps batch N's destination flush with batch N+1's
accumulation: one ``pending_flush_result`` may be in flight, and the WAL
restart LSN advances only when the destination ACKNOWLEDGES the flush.
Spark's streaming commit log marks a batch done the moment
``foreachBatch`` returns, so a write still in flight at return time
would be unreplayable from the checkpoint alone.

This module handles that the same way the reference does: by making the
restart point the DESTINATION-ACKED ledger, not the commit log.

- Every ``write_changes`` first STAGES its rows to a durable parquet
  spill (cheap, local — the slow part is the destination ack, which is
  what gets overlapped), records the op in a JSON ledger, then dispatches
  the destination write to the flush thread and returns.
- ``end_batch`` does NOT settle: ``foreachBatch`` returns while the
  destination writes continue. Overlap window = batch N's flush vs batch
  N+1's decode/routing/staging.
- ``begin_batch`` of the next batch SETTLES the previous one first (one
  in flight, exactly the reference's ``pending_flush_result``); a flush
  failure surfaces there, fails batch N+1, and the restart replays BOTH:
  batch N from the ledger's staged payloads, batch N+1 from Spark's
  checkpoint.
- The flush LSN advances on the flush thread, only after EVERY op of the
  batch acked (``on_acked`` callback → ControlStore.advance_flush_lsn) —
  the ack-gated restart LSN of apply.rs:1956-2023.
- ``recover()`` (call at startup, before the stream) replays any
  dispatched-but-unacked ops from their staged payloads in dispatch
  order. Ops that DID complete before the crash replay too unless their
  per-op ack landed — at-least-once, absorbed by idempotent sinks (the
  same contract every replayed micro-batch already relies on).

Truncates are recorded as ledger ops (no payload) so a replayed batch
preserves truncate-then-write ordering. ``write_snapshot`` stays
synchronous behind a full settle: the copy path is bulk-throughput bound
and backfill has its own restart states.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from etl_spark.state import write_json_atomic
from etl_spark.streaming.sinks import Sink


class FlushLedger:
    """Durable dispatch/ack record: ``{batch_id: {"max_lsn": int,
    "ops": [{"kind", "table", "path", "acked"}], "complete": bool,
    "acked": bool}}``. JSON + atomic rename, same storage pattern as the
    pgoutput registries (catalog-sized: at most ONE unacked batch ever
    exists — the one-in-flight invariant)."""

    def __init__(self, path: str):
        self.path = path
        self._b: dict[int, dict] = {}
        # add_op/open_batch run on the driver thread while
        # mark_op_acked/mark_batch_acked run on the flush thread, each
        # persisting the SHARED dict — without a lock an interleaved save
        # could durably drop a just-recorded per-op ack (redundant replay)
        # and integrity would rest on GIL atomicity. Same reason
        # ControlStore holds _mu for its whole mutation+save.
        self._mu = threading.Lock()
        try:
            with open(path) as f:
                self._b = {int(k): v for k, v in json.load(f).items()}
        except FileNotFoundError:
            pass

    def _save(self) -> None:
        write_json_atomic(self.path, {str(k): v for k, v in self._b.items()})

    def open_batch(self, batch_id: int, max_lsn: int | None) -> None:
        with self._mu:
            self._b[batch_id] = {
                "max_lsn": max_lsn, "ops": [], "complete": False, "acked": False,
            }
            self._save()

    def add_op(self, batch_id: int, kind: str, table: str, path: str | None,
               args: dict | None = None) -> int:
        with self._mu:
            ops = self._b[batch_id]["ops"]
            op = {"kind": kind, "table": table, "path": path, "acked": False}
            if args is not None:
                op["args"] = args
            ops.append(op)
            self._save()
            return len(ops) - 1

    def mark_op_acked(self, batch_id: int, op_idx: int) -> None:
        with self._mu:
            self._b[batch_id]["ops"][op_idx]["acked"] = True
            self._save()

    def mark_dispatch_complete(self, batch_id: int) -> None:
        with self._mu:
            self._b[batch_id]["complete"] = True
            self._save()

    def mark_batch_acked(self, batch_id: int) -> None:
        with self._mu:
            self._b[batch_id]["acked"] = True
            self._save()

    def drop(self, batch_id: int) -> None:
        with self._mu:
            self._b.pop(batch_id, None)
            self._save()

    def unacked_batches(self) -> list[int]:
        with self._mu:
            return sorted(b for b, v in self._b.items() if not v["acked"])

    def batch(self, batch_id: int) -> dict:
        """Deep-copied snapshot: callers (recover's op iteration) consume
        the ops list OUTSIDE the lock while the flush thread may still be
        mutating entries via mark_op_acked — handing out the internal
        mutable dict would put those reads outside the lock's protection."""
        import copy

        with self._mu:
            return copy.deepcopy(self._b[batch_id])


class CrossBatchFlushSink(Sink):
    """Destination-ack-gated pipelined writes over an inner sink: batch
    N's flush overlaps batch N+1's accumulation; durable progress and
    crash recovery come from the ledger, not Spark's commit log."""

    def __init__(self, inner: Sink, work_dir: str, spark: SparkSession):
        self.inner = inner
        self.spark = spark
        self.ledger = FlushLedger(os.path.join(work_dir, "flush_ledger.json"))
        self.payload_root = os.path.join(work_dir, "flush_pending")
        self._pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="etl-xflush")
        self._inflight: list[Future] = []
        self._current: dict | None = None
        #: called with the batch's max_lsn AFTER the destination acked
        #: every op (wire to ControlStore.advance_flush_lsn)
        self.on_acked = None

    # -- batch lifecycle ----------------------------------------------------
    def settle_previous(self) -> None:
        """Block until the in-flight batch (if any) fully acked; re-raise
        the first failure — the reference's settle of
        ``pending_flush_result`` before dispatching the next batch."""
        inflight, self._inflight = self._inflight, []
        first_err: Exception | None = None
        for f in inflight:
            try:
                f.result()
            except Exception as exc:  # noqa: BLE001 - re-raised below
                if first_err is None:
                    first_err = exc
        if first_err is not None:
            raise first_err

    def begin_batch(self, batch_id: int, max_lsn: int | None) -> None:
        self.settle_previous()
        self.ledger.open_batch(batch_id, max_lsn)
        self._current = {"batch_id": batch_id, "max_lsn": max_lsn, "futures": []}

    def end_batch(self, advance_lsn: bool = True) -> None:
        """Dispatch the batch-ack marker and RETURN WITHOUT SETTLING —
        ``foreachBatch`` exits while the destination flush continues."""
        cur, self._current = self._current, None
        if cur is None:
            return
        batch_id, max_lsn = cur["batch_id"], cur["max_lsn"]
        self.ledger.mark_dispatch_complete(batch_id)
        op_futs = list(cur["futures"])

        def _ack_marker():
            # serial pool: every table op submitted before this marker has
            # settled by now; surface the first failure instead of acking
            # over it (the marker must NOT appear in op_futs — waiting on
            # its own future would deadlock the flush thread)
            for f in op_futs:
                exc = f.exception()
                if exc is not None:
                    raise RuntimeError(
                        "batch ack skipped: a dispatched flush failed"
                    ) from exc
            self.ledger.mark_batch_acked(batch_id)
            if advance_lsn and max_lsn is not None and self.on_acked is not None:
                self.on_acked(int(max_lsn))
            shutil.rmtree(
                os.path.join(self.payload_root, str(batch_id)), ignore_errors=True
            )
            self.ledger.drop(batch_id)

        marker = self._pool.submit(_ack_marker)
        self._inflight = op_futs + [marker]

    # -- recovery -----------------------------------------------------------
    def recover(self) -> list[int]:
        """Replay dispatched-but-unacked batches from their staged
        payloads, in dispatch order — the restart path that lets the
        commit log run ahead of the destination. Returns replayed ids."""
        replayed = []
        for batch_id in self.ledger.unacked_batches():
            b = self.ledger.batch(batch_id)
            for i, op in enumerate(b["ops"]):
                if op["acked"]:
                    continue
                if op["kind"] == "truncate":
                    self.inner.truncate(op["table"])
                elif op["kind"] == "ddl":
                    a = op.get("args") or {}
                    self.inner.apply_schema_change(
                        op["table"],
                        [tuple(r) for r in a.get("renames", [])],
                        a.get("drops", []),
                        [tuple(d) for d in a.get("defaults", [])],
                        [tuple(n) for n in a.get("nullability", [])],
                    )
                else:
                    df = self.spark.read.parquet(op["path"])
                    self.inner.write_changes(op["table"], df, batch_id)
                self.ledger.mark_op_acked(batch_id, i)
            self.ledger.mark_batch_acked(batch_id)
            if b["max_lsn"] is not None and self.on_acked is not None:
                self.on_acked(int(b["max_lsn"]))
            shutil.rmtree(
                os.path.join(self.payload_root, str(batch_id)), ignore_errors=True
            )
            self.ledger.drop(batch_id)
            replayed.append(batch_id)
        return replayed

    # -- Sink ---------------------------------------------------------------
    def write_changes(self, table: str, df: DataFrame, batch_id: int) -> None:
        assert self._current is not None, "write_changes outside begin/end_batch"
        path = os.path.join(self.payload_root, str(batch_id), table.replace("/", "_"))
        # durable stage FIRST: the replay source must exist before the op
        # is dispatchable; this also cuts the op's lineage from the
        # streaming batch, so the flush thread outlives foreachBatch
        df.write.mode("overwrite").parquet(path)
        op_idx = self.ledger.add_op(batch_id, "write", table, path)

        def _flush():
            staged = self.spark.read.parquet(path)
            self.inner.write_changes(table, staged, batch_id)
            self.ledger.mark_op_acked(batch_id, op_idx)

        self._current["futures"].append(self._pool.submit(_flush))

    def reconcile_keys(self, table: str, keys) -> None:
        self.inner.reconcile_keys(table, keys)

    def truncate(self, table: str) -> None:
        if self._current is None:
            # outside a batch (backfill path): settle + synchronous
            self.settle_previous()
            self.inner.truncate(table)
            return
        batch_id = self._current["batch_id"]
        op_idx = self.ledger.add_op(batch_id, "truncate", table, None)

        def _trunc():
            self.inner.truncate(table)
            self.ledger.mark_op_acked(batch_id, op_idx)

        self._current["futures"].append(self._pool.submit(_trunc))

    def apply_schema_change(self, table, renames=None, drops=None,
                            defaults=None, nullability=None) -> None:
        renames = [tuple(r) for r in (renames or [])]
        drops = list(drops or [])
        defaults = [tuple(d) for d in (defaults or [])]
        nullability = [tuple(n) for n in (nullability or [])]
        if not renames and not drops and not defaults and not nullability:
            return
        if self._current is None:
            self.settle_previous()
            self.inner.apply_schema_change(table, renames, drops, defaults,
                                           nullability)
            return
        # ledger-ordered like writes: the op replays from its recorded
        # args on crash recovery (the inner sink's DDL is replay-idempotent)
        batch_id = self._current["batch_id"]
        op_idx = self.ledger.add_op(
            batch_id, "ddl", table, None,
            args={"renames": [list(r) for r in renames], "drops": drops,
                  "defaults": [list(d) for d in defaults],
                  "nullability": [list(n) for n in nullability]},
        )

        def _ddl():
            self.inner.apply_schema_change(table, renames, drops, defaults,
                                           nullability)
            self.ledger.mark_op_acked(batch_id, op_idx)

        self._current["futures"].append(self._pool.submit(_ddl))

    def write_snapshot(self, table: str, df: DataFrame) -> None:
        self.settle_previous()
        self.inner.write_snapshot(table, df)

    def shutdown(self) -> None:
        try:
            self.settle_previous()
        finally:
            self._pool.shutdown(wait=True)

    def read(self, *args, **kwargs):
        self.settle_previous()
        return self.inner.read(*args, **kwargs)
