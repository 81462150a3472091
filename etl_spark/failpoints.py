"""Named failpoints for fault-injection tests.

The reference gates error paths behind compile-time failpoints
(crates/etl/src/failpoints.rs:14-21) and drives 17 integration scenarios
through them (crates/etl/tests/pipeline_with_failpoints.rs). This is the
Spark analog: a tiny driver-side registry of named trigger points that
tests arm before running the pipeline. Unarmed hits are near-free (one
dict lookup), so the hooks stay in production code paths permanently —
same rationale as the reference shipping failpoints behind a feature
flag.

Failpoints live on the DRIVER only: every injection site sits in pipeline
control flow (backfill, batch apply, stream start), which executes
driver-side. Executor tasks never consult the registry, so there is no
serialization concern.

Two arm modes:

- ``arm(name, times=n)`` — the next *n* hits raise :class:`FailpointError`
  (the reference's ``return_error`` action);
- ``arm_skip(name, times=n)`` — the next *n* hits return True from
  :func:`should_skip`, and the caller silently skips the guarded step
  (the reference's ``SEND_STATUS_UPDATE`` pause/skip action,
  pipeline_with_failpoints.rs:759-855).
"""

from __future__ import annotations

import threading

# Mirror of the reference failpoint names (failpoints.rs:14-21).
BEFORE_DATA_SYNC = "start_table_sync.before_data_sync"
DURING_DATA_SYNC = "start_table_sync.during_data_sync"
AFTER_FINISHED_COPY = "start_table_sync.after_finished_copy"
BEFORE_STREAMING = "table_sync_worker.before_streaming"
SEND_STATUS_UPDATE = "send_status_update"
STORE_REPLICATION_PROGRESS = "store_replication_progress"
FORCE_SCHEMA_CLEANUP = "force_schema_cleanup"
# maintenance-vs-writer interleavings (the race the reference's external
# maintenance handles, ducklake/external_maintenance.rs): armed callbacks
# inject CONCURRENT work at the two commit-adjacent points of a fold
COMPACT_BEFORE_COMMIT = "changelog_compact.before_manifest_commit"
COMPACT_AFTER_COMMIT = "changelog_compact.after_manifest_commit"
# the residual registry-advance window: the relation registry persisted
# its advance but the frame queue has not marked the batch done — a
# crash here replays the batch against the ADVANCED registry (the
# versioned base makes that safe; see PersistentRelationRegistry)
ADVANCE_RELATION_REGISTRY = "advance_relation_registry"
# widest residual window: BOTH registries advanced, commit mark unwritten
ADVANCE_TX_REGISTRY = "advance_tx_registry"

ALL = (
    BEFORE_DATA_SYNC,
    DURING_DATA_SYNC,
    AFTER_FINISHED_COPY,
    BEFORE_STREAMING,
    SEND_STATUS_UPDATE,
    STORE_REPLICATION_PROGRESS,
    FORCE_SCHEMA_CLEANUP,
    COMPACT_BEFORE_COMMIT,
    COMPACT_AFTER_COMMIT,
    ADVANCE_RELATION_REGISTRY,
    ADVANCE_TX_REGISTRY,
)


class FailpointError(RuntimeError):
    """Raised at an armed failpoint (the injected fault)."""


_lock = threading.Lock()
_raise: dict[str, int] = {}  # name -> remaining raise charges (-1 = always)
_skip: dict[str, int] = {}   # name -> remaining skip charges  (-1 = always)
_call: dict[str, tuple] = {}  # name -> (callback, remaining charges)


def arm(name: str, times: int = 1) -> None:
    """Arm *name* to raise on its next *times* hits (-1 = every hit)."""
    with _lock:
        _raise[name] = times


def arm_skip(name: str, times: int = 1) -> None:
    """Arm *name* so :func:`should_skip` returns True *times* times."""
    with _lock:
        _skip[name] = times


def arm_call(name: str, fn, times: int = 1) -> None:
    """Arm *name* to invoke *fn()* on its next *times* hits — injects
    CONCURRENT work (e.g. a writer appending mid-compaction) at a named
    interleaving point rather than a fault."""
    with _lock:
        _call[name] = (fn, times)


def disarm_all() -> None:
    with _lock:
        _raise.clear()
        _skip.clear()
        _call.clear()


def _consume(table: dict[str, int], name: str) -> bool:
    with _lock:
        n = table.get(name, 0)
        if n == 0:
            return False
        if n > 0:
            table[name] = n - 1
        return True


def hit(name: str) -> None:
    """Injection site: raise FailpointError if *name* is armed to raise,
    or run the armed callback (concurrent-work injection) if any."""
    fn = None
    with _lock:
        entry = _call.get(name)
        if entry is not None:
            fn, n = entry
            if n == 0:
                fn = None
            else:
                if n > 0:
                    _call[name] = (fn, n - 1)
    if fn is not None:
        fn()
    if _consume(_raise, name):
        raise FailpointError(name)


def should_skip(name: str) -> bool:
    """Injection site for skip-style faults (lost status update)."""
    return _consume(_skip, name)
