"""Per-table lifecycle state machine + durable control store.

Mirrors the reference's ``TableState`` machine
(crates/etl/src/replication/state/lifecycle.rs:22-99):

    Init → DataSync → FinishedCopy → SyncWait{lsn} → Catchup{lsn}
         → SyncDone{lsn} → Ready,  plus Errored{reason, retry_policy}

``SyncWait``/``Catchup`` are memory-only; the rest are durable
(lifecycle.rs:215-229). Restart semantics (lifecycle.rs:241-255): only
``SyncDone``/``Ready`` keep destination data — earlier states re-copy from
a fresh snapshot.

The durable store is a JSON-file control table (one dir per pipeline) with
the reference's **monotonic flush-LSN upsert** contract
(store/state/base.rs:81-89): progress may only advance. On a cluster this
would be a Delta/JDBC table; the storage is behind ``ControlStore`` so that
swap is one class.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from enum import Enum


def write_json_atomic(path: str, payload) -> None:
    """Atomically replace ``path`` with ``payload`` as JSON: write a temp
    file in the same directory, then ``os.replace`` it over the target, so
    a reader sees the old document or the new one, never a torn one. The
    one writer of every durable JSON file the engine keeps (control state,
    schema versions, wire registries, sink manifests and pointers, the
    flush ledger, control-plane configs). No ``fsync``: the rename is
    atomic, but not durable against power loss."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


class TableState(str, Enum):
    INIT = "Init"
    DATA_SYNC = "DataSync"
    FINISHED_COPY = "FinishedCopy"
    SYNC_WAIT = "SyncWait"      # memory-only
    CATCHUP = "Catchup"          # memory-only
    SYNC_DONE = "SyncDone"
    READY = "Ready"
    ERRORED = "Errored"


#: States persisted to the store (lifecycle.rs:215-229).
DURABLE_STATES = {
    TableState.INIT,
    TableState.DATA_SYNC,
    TableState.FINISHED_COPY,
    TableState.SYNC_DONE,
    TableState.READY,
    TableState.ERRORED,
}

#: States that keep destination data across a restart (lifecycle.rs:241-255).
KEEPS_DATA_ON_RESTART = {TableState.SYNC_DONE, TableState.READY}

#: Legal transitions (lifecycle.rs:22-99). Errored is reachable from
#: anywhere; retry resets to Init.
TRANSITIONS: dict[TableState, set[TableState]] = {
    TableState.INIT: {TableState.DATA_SYNC, TableState.ERRORED},
    TableState.DATA_SYNC: {TableState.FINISHED_COPY, TableState.ERRORED},
    TableState.FINISHED_COPY: {TableState.SYNC_WAIT, TableState.SYNC_DONE, TableState.ERRORED},
    TableState.SYNC_WAIT: {TableState.CATCHUP, TableState.ERRORED},
    TableState.CATCHUP: {TableState.SYNC_DONE, TableState.ERRORED},
    TableState.SYNC_DONE: {TableState.READY, TableState.ERRORED},
    TableState.READY: {TableState.ERRORED},
    TableState.ERRORED: {TableState.INIT},
}


class RetryPolicy(str, Enum):
    """error_policy.rs: NoRetry / ManualRetry / TimedRetry."""

    NO_RETRY = "NoRetry"
    MANUAL_RETRY = "ManualRetry"
    TIMED_RETRY = "TimedRetry"


@dataclass
class TableEntry:
    table: str
    state: TableState = TableState.INIT
    lsn: int = 0                      # state-qualifying LSN (SyncDone{lsn})
    error: str | None = None
    retry_policy: RetryPolicy | None = None
    errored_at: float | None = None   # wall time of the Errored transition
    attempts: int = 0                 # consecutive failures (error_policy.rs)


class IllegalTransition(Exception):
    pass


@dataclass
class ControlStore:
    """Durable pipeline control state: table lifecycle + flush progress.

    File layout: ``{root}/tables/<name>.json`` (one per table) +
    ``{root}/flush.json``, each written atomically (temp + rename) — the
    single-writer driver-side pattern; executors never touch it. See the
    persistence section below for why per-table files (O(1) per
    transition at any table count).
    """

    root: str
    tables: dict[str, TableEntry] = field(default_factory=dict)
    flush_lsn: int = 0

    def __post_init__(self):
        import threading

        # a store may be shared by threads (e.g. a loop run on a worker
        # thread while another thread transitions tables) — mutations
        # serialize on this lock (each _save is already atomic via
        # temp+rename; the lock prevents lost updates between them)
        self._mu = threading.Lock()
        os.makedirs(self.root, exist_ok=True)
        self._load()

    # -- persistence -------------------------------------------------------
    # Layout: ONE file per table (tables/<quoted-name>.json) plus a tiny
    # flush.json — each transition rewrites only its own table's entry, so
    # a pipeline with n tables pays O(1) per transition instead of the
    # single-file O(n) rewrite, which made backfill O(n^2) in total JSON
    # bytes (measured: 0.33s at 100 tables, 13.1s at 1000 — see SCALE.md
    # "table-count scaling"). The reference stores per-table replication
    # state as ROWS in its state store for the same reason
    # (store/state/base.rs) — one row updated per transition, never the
    # whole table list.

    @property
    def _flush_path(self) -> str:
        return os.path.join(self.root, "flush.json")

    @property
    def _tables_dir(self) -> str:
        return os.path.join(self.root, "tables")

    def _table_path(self, name: str) -> str:
        from urllib.parse import quote

        return os.path.join(self._tables_dir, quote(name, safe="") + ".json")

    @staticmethod
    def _entry_from(t: dict) -> TableEntry:
        return TableEntry(
            table=t["table"],
            state=TableState(t["state"]),
            lsn=t.get("lsn", 0),
            error=t.get("error"),
            retry_policy=RetryPolicy(t["retry_policy"]) if t.get("retry_policy") else None,
            errored_at=t.get("errored_at"),
            attempts=t.get("attempts", 0),
        )

    def _load(self) -> None:
        if os.path.exists(self._flush_path):
            with open(self._flush_path) as f:
                self.flush_lsn = json.load(f).get("flush_lsn", 0)
        if os.path.isdir(self._tables_dir):
            for fn in os.listdir(self._tables_dir):
                if not fn.endswith(".json"):
                    continue
                with open(os.path.join(self._tables_dir, fn)) as f:
                    t = json.load(f)
                self.tables[t["table"]] = self._entry_from(t)

    def _save_flush(self) -> None:
        write_json_atomic(self._flush_path, {"flush_lsn": self.flush_lsn})

    def _save_table(self, e: TableEntry) -> None:
        if e.state not in DURABLE_STATES:
            # memory-only states (SyncWait/Catchup) keep the previous
            # durable file; restart_reset sends both back to Init anyway
            return
        write_json_atomic(self._table_path(e.table), {
            "table": e.table,
            "state": e.state.value,
            "lsn": e.lsn,
            "error": e.error,
            "retry_policy": e.retry_policy.value if e.retry_policy else None,
            "errored_at": e.errored_at,
            "attempts": e.attempts,
        })

    # -- lifecycle ---------------------------------------------------------
    def get(self, table: str) -> TableEntry:
        if table not in self.tables:
            self.tables[table] = TableEntry(table=table)
        return self.tables[table]

    def transition(self, table: str, to: TableState, lsn: int | None = None,
                   error: str | None = None,
                   retry_policy: RetryPolicy | None = None) -> TableEntry:
        # hold the lock for the WHOLE mutation + save, not just the save:
        # advance_flush_lsn on another thread serializes behind it, so a
        # half-applied transition (new state, stale attempts) can never be
        # persisted to disk
        with self._mu:
            e = self.get(table)
            if to not in TRANSITIONS[e.state] and to != e.state:
                raise IllegalTransition(f"{e.table}: {e.state.value} → {to.value}")
            e.state = to
            if lsn is not None:
                e.lsn = lsn
            e.error = error
            e.retry_policy = retry_policy
            if to == TableState.ERRORED:
                import time as _time

                e.errored_at = _time.time()
                e.attempts += 1
            elif to in (TableState.SYNC_DONE, TableState.READY):
                e.errored_at = None
                e.attempts = 0  # healthy again: the failure streak resets
            self._save_table(e)
            return e

    def restart_reset(self) -> list[str]:
        """Apply restart semantics: tables not yet SyncDone/Ready fall back
        to Init and must re-copy (lifecycle.rs:241-255). Returns the reset
        table names."""
        reset = []
        for e in self.tables.values():
            if e.state not in KEEPS_DATA_ON_RESTART and e.state != TableState.ERRORED:
                e.state = TableState.INIT
                e.lsn = 0
                reset.append(e.table)
            elif e.state in (TableState.SYNC_WAIT, TableState.CATCHUP):
                # memory-only states can't appear after a load, but guard
                e.state = TableState.INIT
                reset.append(e.table)
        for name in reset:
            self._save_table(self.tables[name])
        return reset

    def remove(self, table: str) -> bool:
        """Purge a table's control state (publication-membership removal,
        pipeline.rs:390-418: tables dropped from the publication lose their
        replication state so a re-add starts from a fresh snapshot)."""
        if table in self.tables:
            del self.tables[table]
            try:
                os.remove(self._table_path(table))
            except FileNotFoundError:
                pass
            return True
        return False

    def reset_for_resync(self) -> list[str]:
        """Invalidated-slot recovery (worker.rs:496-516 Recreate branch):
        EVERY table falls back to Init (a lost slot means WAL segments
        the destination never saw are gone — SyncDone/Ready data is
        stale beyond repair) and the durable apply progress is deleted,
        so the recreated slot's consistent point is the only resume
        floor. Returns the reset table names."""
        reset = []
        for e in self.tables.values():
            if e.state != TableState.INIT or e.lsn != 0:
                e.state = TableState.INIT
                e.lsn = 0
                e.error = None
                e.errored_at = None
                e.attempts = 0
                reset.append(e.table)
                self._save_table(e)
        self.reset_replication_progress()
        return reset

    def reset_replication_progress(self) -> None:
        """Delete durable apply progress (store.delete_replication_progress
        analog, worker.rs:384): a NEW slot must never pair with old
        durable progress — the progress dies BEFORE the slot is created
        (the crash-window ordering argument, worker.rs:375-379)."""
        with self._mu:
            self.flush_lsn = 0
            self._save_flush()

    # -- progress ----------------------------------------------------------
    def advance_flush_lsn(self, lsn: int) -> int:
        """Monotonic upsert (store/state/base.rs:81-89): never regresses.
        Thread-safe: serializes with transitions on other threads."""
        with self._mu:
            if lsn > self.flush_lsn:
                self.flush_lsn = lsn
                self._save_flush()
            return self.flush_lsn
