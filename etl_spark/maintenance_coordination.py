"""External-maintenance coordination: the pause-lease handshake that
lets an out-of-process maintenance runner quiesce a live pipeline, run
compaction-class operations against the destination, and hand the
pipeline back — crash-safe on both sides.

Reference parity (`crates/etl-maintenance/src/coordination.rs`):

- the shared STATE document (`ExternalMaintenanceState`): active run,
  controller-owned pause lease, replicator-owned operation request,
  replicator status, last-successful-run history per operation,
  last-completed timestamp, pause + operation policies.
- the replicator states ``running → pausing → quiesced``
  (coordination.rs:161-176) — `pausing` acknowledges the lease while
  in-flight batches drain; `quiesced` means foreground writes stopped.
- request outcomes ``created | already_covered | rejected_active_run |
  missing_state`` (coordination.rs:260-265).
- the pause POLICY clamp (coordination.rs:110-131, default max
  2700 s): the replicator trusts a controller lease only up to its own
  ``max_duration_seconds`` — a malicious/buggy controller cannot wedge
  the pipeline; an EXPIRED lease is void and the replicator resumes on
  its own (the crash-safety property: a runner that dies mid-run never
  blocks replication for longer than the clamp).
- watcher thresholds + request cooldown
  (`ExternalMaintenanceWatcherConfig`, coordination.rs:286-305): the
  replicator samples destination pressure (inlined bytes, active data
  files) and REQUESTS operations; the controller decides when to run.

The coordination backend here is a durable JSON document with
atomic-rename writes (the `PostgresExternalMaintenanceStore` analog —
same state shape, different medium; the k8s-configmap store is the
deployment layer). All clocks are injected (``now`` parameters) so the
protocol is deterministic under test.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from etl_spark.state import write_json_atomic

DEFAULT_MAX_PAUSE_SECONDS = 2700.0

OPERATIONS = (
    "inline_flush",
    "merge_adjacent_files",
    "rewrite_data_files",
    "expire_snapshots",
    "cleanup_old_files",
)

#: replicator pause states (coordination.rs:161-176)
RUNNING, PAUSING, QUIESCED = "running", "pausing", "quiesced"

#: request outcomes (coordination.rs:260-265)
CREATED, ALREADY_COVERED = "created", "already_covered"
REJECTED_ACTIVE_RUN, MISSING_STATE = "rejected_active_run", "missing_state"


@dataclass
class Operations:
    """Operation request flags (coordination.rs:63-84)."""

    inline_flush: bool = False
    merge_adjacent_files: bool = False
    rewrite_data_files: bool = False
    expire_snapshots: bool = False
    cleanup_old_files: bool = False

    def is_empty(self) -> bool:
        return not any(getattr(self, op) for op in OPERATIONS)

    def covers(self, other: "Operations") -> bool:
        """True when every flag the other request sets is already set."""
        return all(
            getattr(self, op) or not getattr(other, op) for op in OPERATIONS
        )


@dataclass
class Pause:
    """Controller-owned pause lease (coordination.rs:110-117)."""

    run_id: str
    requested_at: float
    expires_at: float


@dataclass
class ReplicatorStatus:
    """Replicator acknowledgement (coordination.rs:150-158)."""

    state: str = RUNNING
    observed_run_id: str | None = None
    quiesced_at: float | None = None


@dataclass
class OperationRequest:
    """Replicator-owned ask for a future run (coordination.rs:136-145)."""

    operations: Operations
    requested_at: float
    inline_flush_min_inlined_bytes: int | None = None
    rewrite_data_files_min_active_data_files: int | None = None


@dataclass
class MaintenanceState:
    """The whole coordination document (coordination.rs:18-38)."""

    exists: bool = True
    active_run: dict | None = None  # {run_id, started_at, operations}
    pause_request: Pause | None = None
    operation_request: OperationRequest | None = None
    replicator: ReplicatorStatus | None = None
    #: op name → {run_id, completed_at} for the LAST SUCCESSFUL run
    last_successful_operations: dict = field(default_factory=dict)
    last_completed_at: float | None = None
    pause_max_duration_seconds: float = DEFAULT_MAX_PAUSE_SECONDS


class FileMaintenanceStore:
    """Durable JSON coordination backend (atomic rename writes) — the
    Postgres store analog; both sides read-modify-write the one
    document the way the reference's SQL store updates its row."""

    def __init__(self, path: str):
        self.path = path

    def load_state(self) -> MaintenanceState:
        if not os.path.exists(self.path):
            return MaintenanceState(exists=False)
        with open(self.path) as fh:
            raw = json.load(fh)
        st = MaintenanceState(exists=True)
        st.active_run = raw.get("active_run")
        if raw.get("pause_request"):
            st.pause_request = Pause(**raw["pause_request"])
        if raw.get("operation_request"):
            opreq = dict(raw["operation_request"])
            opreq["operations"] = Operations(**opreq["operations"])
            st.operation_request = OperationRequest(**opreq)
        if raw.get("replicator"):
            st.replicator = ReplicatorStatus(**raw["replicator"])
        st.last_successful_operations = raw.get(
            "last_successful_operations", {}
        )
        st.last_completed_at = raw.get("last_completed_at")
        st.pause_max_duration_seconds = raw.get(
            "pause_max_duration_seconds", DEFAULT_MAX_PAUSE_SECONDS
        )
        return st

    def save_state(self, st: MaintenanceState) -> None:
        doc = {
            "active_run": st.active_run,
            "pause_request": asdict(st.pause_request)
            if st.pause_request else None,
            "operation_request": asdict(st.operation_request)
            if st.operation_request else None,
            "replicator": asdict(st.replicator) if st.replicator else None,
            "last_successful_operations": st.last_successful_operations,
            "last_completed_at": st.last_completed_at,
            "pause_max_duration_seconds": st.pause_max_duration_seconds,
        }
        write_json_atomic(self.path, doc)

    def initialize(self) -> None:
        """Creates the empty coordination document (a pipeline without
        one reports missing_state on every request)."""
        if not os.path.exists(self.path):
            self.save_state(MaintenanceState())

    # -- replicator-owned verbs (the ExternalMaintenanceStore trait) --

    def request_operations(self, request: OperationRequest) -> str:
        """coordination.rs outcome semantics: no document →
        missing_state; an active run → rejected_active_run; a pending
        request that already covers the new flags → already_covered;
        otherwise the request replaces the pending one → created."""
        st = self.load_state()
        if not st.exists:
            return MISSING_STATE
        if st.active_run is not None:
            return REJECTED_ACTIVE_RUN
        if (
            st.operation_request is not None
            and st.operation_request.operations.covers(request.operations)
        ):
            return ALREADY_COVERED
        st.operation_request = request
        self.save_state(st)
        return CREATED

    def report_replicator_status(self, status: ReplicatorStatus) -> None:
        st = self.load_state()
        if not st.exists:
            return
        st.replicator = status
        self.save_state(st)

    def clear_replicator_status(self) -> None:
        st = self.load_state()
        if st.exists:
            st.replicator = None
            self.save_state(st)


class ReplicatorMaintenanceParticipant:
    """The pipeline side of the handshake: call
    :meth:`on_batch_boundary` between micro-batches; it returns True
    while foreground writes must stay paused.

    State machine: an active, unexpired pause lease moves the
    replicator ``running → pausing`` (acknowledge, let in-flight work
    drain) and on the NEXT boundary ``pausing → quiesced`` (status
    carries ``quiesced_at`` — the controller's go signal). A lease past
    ``expires_at`` — or older than the replicator's OWN
    ``pause_policy.max_duration_seconds`` clamp since ``requested_at``
    — is VOID: the replicator resumes without controller involvement
    (coordination.rs pause-policy trust bound)."""

    def __init__(self, store: FileMaintenanceStore,
                 max_pause_seconds: float = DEFAULT_MAX_PAUSE_SECONDS):
        self.store = store
        self.max_pause_seconds = max_pause_seconds
        self.state = RUNNING
        #: run the current pausing/quiesced state belongs to — a lease
        #: for a DIFFERENT run restarts the handshake at pausing (each
        #: run gets its own fresh quiesce acknowledgement)
        self._observed_run_id: str | None = None

    def _lease_active(self, pause: Pause | None, now: float) -> bool:
        if pause is None:
            return False
        trusted_until = min(
            pause.expires_at, pause.requested_at + self.max_pause_seconds
        )
        return now < trusted_until

    def on_batch_boundary(self, now: float | None = None) -> bool:
        now = time.time() if now is None else now
        st = self.store.load_state()
        if not st.exists:
            return False
        if not self._lease_active(st.pause_request, now):
            if self.state != RUNNING:
                self.state = RUNNING
                self.store.report_replicator_status(
                    ReplicatorStatus(state=RUNNING)
                )
            return False
        run_id = st.pause_request.run_id
        if run_id != self._observed_run_id:
            # a lease for a NEW run while pausing/quiesced from an old
            # one: restart the handshake — each run earns its own fresh
            # quiesce acknowledgement
            self.state = RUNNING
            self._observed_run_id = run_id
        if self.state == RUNNING:
            self.state = PAUSING
            self.store.report_replicator_status(
                ReplicatorStatus(state=PAUSING, observed_run_id=run_id)
            )
        elif self.state == PAUSING:
            self.state = QUIESCED
            self.store.report_replicator_status(
                ReplicatorStatus(
                    state=QUIESCED, observed_run_id=run_id, quiesced_at=now
                )
            )
        return True

    def sample_pressure(self, inlined_bytes: int, active_data_files: int,
                        config: "WatcherConfig",
                        now: float | None = None) -> str | None:
        """The watcher half: derives an operation request from observed
        destination pressure, honoring the request cooldown against
        ``last_completed_at`` (coordination.rs watcher semantics).
        Returns the request outcome, or None when below thresholds or
        inside the cooldown."""
        now = time.time() if now is None else now
        ops = Operations(
            inline_flush=inlined_bytes >= config.inline_flush_min_inlined_bytes,
            rewrite_data_files=(
                active_data_files
                >= config.rewrite_data_files_min_active_data_files
            ),
        )
        if ops.is_empty():
            return None
        st = self.store.load_state()
        if (
            st.exists
            and st.last_completed_at is not None
            and now - st.last_completed_at < config.request_cooldown_seconds
        ):
            return None
        return self.store.request_operations(OperationRequest(
            operations=ops,
            requested_at=now,
            inline_flush_min_inlined_bytes=config.inline_flush_min_inlined_bytes,
            rewrite_data_files_min_active_data_files=(
                config.rewrite_data_files_min_active_data_files
            ),
        ))


@dataclass
class WatcherConfig:
    """Replicator-side watcher thresholds (coordination.rs:286-305)."""

    poll_interval_seconds: float = 60.0
    request_cooldown_seconds: float = 600.0
    inline_flush_min_inlined_bytes: int = 64 << 20
    rewrite_data_files_min_active_data_files: int = 64


class MaintenanceController:
    """The runner side: claims the pending request as an active run,
    takes the pause lease, waits for the replicator to quiesce, invokes
    the per-operation callables, then records history + clears the
    lease. ``complete_run`` records ONLY succeeded operations into
    ``last_successful_operations`` and stamps ``last_completed_at``
    regardless of outcome (coordination.rs history semantics)."""

    def __init__(self, store: FileMaintenanceStore):
        self.store = store

    def begin_run(self, run_id: str, lease_seconds: float,
                  now: float | None = None) -> Operations | None:
        """Promotes the pending operation request to the active run and
        writes the pause lease. Returns the claimed operations, or None
        when there is nothing to run or a run is already active."""
        now = time.time() if now is None else now
        st = self.store.load_state()
        if not st.exists or st.active_run is not None:
            return None
        if st.operation_request is None or \
                st.operation_request.operations.is_empty():
            return None
        ops = st.operation_request.operations
        st.active_run = {
            "run_id": run_id,
            "started_at": now,
            "operations": asdict(ops),
        }
        st.operation_request = None
        st.pause_request = Pause(
            run_id=run_id, requested_at=now, expires_at=now + lease_seconds
        )
        self.store.save_state(st)
        return ops

    def replicator_quiesced(self, run_id: str) -> bool:
        st = self.store.load_state()
        return (
            st.replicator is not None
            and st.replicator.state == QUIESCED
            and st.replicator.observed_run_id == run_id
        )

    def complete_run(self, run_id: str, succeeded: list[str],
                     now: float | None = None) -> None:
        now = time.time() if now is None else now
        st = self.store.load_state()
        if not st.exists or st.active_run is None or \
                st.active_run.get("run_id") != run_id:
            return
        for op in succeeded:
            if op in OPERATIONS:
                st.last_successful_operations[op] = {
                    "run_id": run_id, "completed_at": now,
                }
        st.last_completed_at = now
        st.active_run = None
        st.pause_request = None
        self.store.save_state(st)

    def run(self, run_id: str, executors: dict, lease_seconds: float = 300.0,
            wait_poll_seconds: float = 0.05, wait_timeout_seconds: float = 30.0,
            participant=None, now_fn=None) -> list[str]:
        """One full coordinated run: claim → lease → wait-for-quiesce →
        execute (op name → callable) → record + release. ``participant``
        (test convenience) is polled between waits so single-process
        tests advance the replicator without threads. Returns the list
        of operations that succeeded; raises TimeoutError if the
        replicator never quiesces inside ``wait_timeout_seconds``
        (the lease still expires on its own — replication is safe)."""
        now_fn = now_fn or time.time
        ops = self.begin_run(run_id, lease_seconds, now=now_fn())
        if ops is None:
            return []
        deadline = now_fn() + wait_timeout_seconds
        while not self.replicator_quiesced(run_id):
            if participant is not None:
                participant.on_batch_boundary(now=now_fn())
            if self.replicator_quiesced(run_id):
                break
            if now_fn() > deadline:
                raise TimeoutError(
                    f"replicator never quiesced for run {run_id!r}")
            time.sleep(wait_poll_seconds)
        succeeded = []
        for op in OPERATIONS:
            if getattr(ops, op) and op in executors:
                try:
                    executors[op]()
                    succeeded.append(op)
                except Exception:
                    pass  # failed ops simply don't enter the history
        self.complete_run(run_id, succeeded, now=now_fn())
        return succeeded
