"""Pipeline orchestrator: snapshot backfill → change stream → sinks.

The reference's ``Pipeline::start()`` (crates/etl/src/pipeline.rs:142-234)
re-expressed on Spark:

1. hydrate control state; apply restart semantics (tables not yet
   SyncDone/Ready re-copy from a fresh snapshot — lifecycle.rs:241-255);
2. per-table backfill: ``drop_table_for_copy`` + snapshot read + sink
   write, walking Init → DataSync → FinishedCopy (SURVEY §3.3);
3. record the snapshot LSN and mark SyncDone — the stream's LWW merge by
   ``event_seq`` makes snapshot/stream overlap harmless (SURVEY T6), which
   is what lets us skip the reference's SyncWait/Catchup pause protocol
   (that exists because its destinations apply events in arrival order);
4. apply the change stream one batch at a time (:meth:`_apply_batch`):
   per-table routing (P3), truncate splitting (T8), TOAST-partial NULL
   marking (J1), idempotent sink write, then durable progress advance
   (T4: the flush LSN only moves after the sink confirms — the apply is
   synchronous, so its completion IS the Durable signal) and
   SyncDone→Ready transitions. One drain loop serves both source
   formats: :meth:`run_until_drained` takes every pending source file —
   envelope parquet (``source_fmt="envelope"``) or pgoutput frames
   (``source_fmt="pgoutput"``) — as one batch from a
   :class:`~etl_spark.sources.live.FrameQueue` and applies it on the
   driver, with no streaming query; the formats differ only in how the
   batch's files are read;
5. the frame queue's record (``work_dir/frame_queue.json``) is the
   replication slot (S4): it holds which files are applied and pins the
   batch in flight. Deleting it = slot invalidation = full re-sync.

Per-table errors quarantine the table (Errored + retry policy, T10)
without stopping the pipeline — other tables keep flowing.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark import errors, failpoints, telemetry
from etl_spark.envelope import GENERIC_ENVELOPE, ROW_OPS, with_sequence
from etl_spark.schema_registry import ColumnDef, SchemaRegistry, diff_schemas
from etl_spark.sources.live import FrameQueue
from etl_spark.state import (
    KEEPS_DATA_ON_RESTART,
    ControlStore,
    RetryPolicy,
    TableState,
)
from etl_spark.streaming.sinks import Sink

#: PG type OID → engine column type for relation-frame-derived schemas
#: (SURVEY §1.1 cell model): only the types whose text form coerces
#: losslessly through the JSON decode are mapped; numeric / temporal-with-
#: fraction / uuid / bytea / json / arrays stay string pass-through and
#: decode on demand via the F1–F10 codecs (reference keeps exactness the
#: same way for types destinations treat as text).
OID_SPARK_TYPES = {
    16: "boolean",  # CAST accepts PG's 't'/'f' text form
    21: "short", 23: "int", 20: "long", 26: "long",
    700: "float", 701: "double",
    1082: "date",
    1114: "timestamp_ntz",  # CAST parses 'YYYY-MM-DD HH:MM:SS[.f]'
    1184: "timestamp",      # ...and the '+00'-suffixed tz form
}


@dataclass
class TableConfig:
    """Per-table pipeline config: where the snapshot lives, the replica
    identity, and the typed payload schema (the replication mask, P1 —
    only the listed columns decode; everything else in the JSON is
    dropped, exactly like an unpublished column)."""

    name: str
    snapshot_path: str | None
    keys: list[str]
    payload_schema: str | None = None  # e.g. "pk long, name string"
    row_filter: str | None = None      # publication WHERE (P2)

    def value_cols(self) -> list[str]:
        if not self.payload_schema:
            return []
        names = [f.split()[0] for f in self.payload_schema.split(",")]
        return [n for n in names if n not in self.keys]


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        tables: list[TableConfig],
        sink: Sink,
        work_dir: str,
        source_fmt: str = "envelope",
        metrics_registry=None,
    ):
        #: "envelope" = structured GENERIC_ENVELOPE parquet files;
        #: "pgoutput" = raw binary frame files (FRAME_SCHEMA) from a WAL
        #: shipper, decoded per micro-batch through sources/pgoutput.py
        self.source_fmt = source_fmt
        self.spark = spark
        self.tables = {t.name: t for t in tables}
        #: the USER-declared column types, captured before any RELATION
        #: frame rewrites payload_schema — declared types win for their
        #: columns when relation frames re-derive the schema (the relation
        #: message carries OIDs, not engine types; see _apply_relations)
        self._declared_types: dict[str, dict[str, str]] = {
            t.name: {
                f.strip().split()[0]: " ".join(f.strip().split()[1:])
                for f in (t.payload_schema or "").split(",") if f.strip()
            }
            for t in tables
        }
        self.sink = sink
        self.work_dir = work_dir
        # reference-parity telemetry (observability.rs inventory): the
        # registry is driver-side metadata; increments below reuse
        # already-computed batch aggregates — no extra Spark jobs
        self.metrics = metrics_registry or telemetry.DEFAULT
        self.metrics.set_gauge(telemetry.ETL_TABLES_TOTAL, len(self.tables))
        self.control = ControlStore(os.path.join(work_dir, "control"))
        self.schemas = SchemaRegistry(os.path.join(work_dir, "schemas"))
        # which source files each batch holds, pinned before it applies
        # and marked done after (the offset + commit logs)
        self.frame_queue = FrameQueue(
            source_dir, os.path.join(work_dir, "frame_queue.json"))
        self.relations = None
        self.txs = None
        self.types = None
        if source_fmt == "pgoutput":
            from etl_spark.sources.pgoutput import (
                PersistentRelationRegistry,
                PersistentTxRegistry,
                PersistentTypeRegistry,
            )

            self.relations = PersistentRelationRegistry(
                os.path.join(work_dir, "pgoutput_relations.json")
            )
            # custom-type names from TYPE ('Y') frames: {oid: "ns.name"},
            # persisted like relations so restarts keep type identity for
            # string-pass-through columns (cell.rs:8-14)
            self.types = PersistentTypeRegistry(
                os.path.join(work_dir, "pgoutput_types.json")
            )
            # in-flight (BEGIN seen, COMMIT not yet) transaction state:
            # survives micro-batch boundaries and restarts so multi-batch
            # transactions keep their commit_lsn / tx_ordinal continuity
            # (apply.rs:942-965,2311-2321)
            self.txs = PersistentTxRegistry(
                os.path.join(work_dir, "pgoutput_txs.json")
            )

    # ------------------------------------------------------------------
    def hydrate_schemas(self) -> list[str]:
        """Restore each table's decode schema (replication mask) from the
        registry's newest version — the reference re-derives masks from
        its schema store on restart
        (pipeline_with_failpoints.rs:1660
        ``table_schema_replication_masks_are_consistent_after_restart``).
        Without this, a restarted pipeline would decode with the
        constructor's (possibly stale) payload_schema until the next
        RELATION event happened to arrive."""
        restored = []
        for name, cfg in self.tables.items():
            latest = self.schemas.asof(name, 2**62)
            if latest is None:
                continue
            _, cols = latest
            schema = ", ".join(f"{c.name} {c.typ}" for c in cols)
            if schema and schema != cfg.payload_schema:
                cfg.payload_schema = schema
                restored.append(name)
            # cfg.keys follows the registry's rename chain the same way
            # payload_schema does: a restart after a key-column RENAME
            # rebuilds the pipeline from the constructor config, whose
            # keys still carry the pre-DDL name — the decode would
            # KeyError on the first batch. The configured key refers to
            # the column BORN with that name (the config predates every
            # rename), so an identity whose timeline STARTS at origin
            # with the configured name wins even over a later column
            # that RE-USED the name.
            idents = self._column_identities(name)
            fixed = []
            for k in cfg.keys:
                born = next(
                    (cur for cur, segs in idents.items() if segs[0] == (None, k)),
                    None,
                )
                if born is not None:
                    fixed.append(born)
                elif k in idents:
                    fixed.append(k)  # live column of that name
                else:
                    # historical name of some later-born column
                    fixed.append(next(
                        (cur for cur, segs in idents.items()
                         if any(n == k for _s, n in segs)), k,
                    ))
            if fixed != cfg.keys:
                cfg.keys = fixed
                # the sink was likewise built from the stored config —
                # hand it the registry-derived current names (bucket
                # sinks re-hash by key name; DuckDB merges by key name)
                self.sink.reconcile_keys(name, fixed)
                if name not in restored:
                    restored.append(name)
        return restored

    def reconcile_membership(self) -> list[str]:
        """Purge state + destination data for tables no longer configured
        (publication-membership sync, pipeline.rs:354-421). A later re-add
        re-copies from a fresh snapshot, exactly like the reference."""
        removed = [n for n in self.control.tables if n not in self.tables]
        for name in removed:
            # truncate BEFORE dropping the table from control: if the purge
            # fails, the table stays tracked and the truncate retries on
            # restart — otherwise stale destination data would survive
            self.sink.truncate(name)
            self.control.remove(name)
        return removed

    def reconcile_publication(self, catalog, provision=None) -> dict:
        """Drive table membership from a ``pg_publication_tables``
        catalog snapshot (S5 — the reference reads the same view,
        transaction.rs:277-300,654-690; this engine takes it as a
        fixture, etl_spark/publication.py).

        Three effects, in the reference's order:

        - tables CONFIGURED but not in the catalog → dropped from config
          and purged via :meth:`reconcile_membership` (same
          state+destination purge; a later re-publish re-copies fresh);
        - tables in BOTH → the published column list trims the
          replication mask and the row filter adopts
          (``apply_catalog_to_config`` — a key column missing from the
          column list raises, matching the server's own rejection);
        - tables PUBLISHED but not configured → provisioned through the
          ``provision(row) -> TableConfig`` callback (the catalog
          carries no snapshot path / key types — deployment wiring);
          without a callback they are reported, not silently adopted.

        Returns ``{"removed": [...], "updated": [...], "added": [...],
        "unprovisioned": [...]}``.
        """
        from etl_spark.publication import apply_catalog_to_config

        published = catalog.tables()
        removed = [n for n in self.tables if n not in published]
        for n in removed:
            del self.tables[n]
        self.reconcile_membership()

        updated: list[str] = []
        for name, cfg in self.tables.items():
            row = catalog.row_for(name)
            if row is not None:
                apply_catalog_to_config(cfg, row)
                updated.append(name)

        added: list[str] = []
        unprovisioned: list[str] = []
        for row in catalog.rows:
            if row.qualified_name in self.tables:
                continue
            if provision is None:
                unprovisioned.append(row.qualified_name)
                continue
            cfg = provision(row)
            apply_catalog_to_config(cfg, row)
            self.tables[cfg.name] = cfg
            added.append(cfg.name)
        return {"removed": removed, "updated": updated, "added": added,
                "unprovisioned": unprovisioned}

    def backfill(self) -> None:
        """Initial copies for every table not yet streaming (SURVEY §3.3)."""
        self.hydrate_schemas()
        self.reconcile_membership()
        self.control.restart_reset()
        for cfg in self.tables.values():
            entry = self.control.get(cfg.name)
            if entry.state in (TableState.SYNC_DONE, TableState.READY):
                continue
            if entry.state == TableState.ERRORED:
                continue  # quarantined; manual/timed retry resets to Init
            try:
                failpoints.hit(failpoints.BEFORE_DATA_SYNC)
                self.control.transition(cfg.name, TableState.DATA_SYNC)
                if cfg.snapshot_path:
                    self.sink.truncate(cfg.name)  # drop_table_for_copy
                    # fires mid-copy: destination already truncated, rows
                    # not yet written — the partial-copy fault
                    failpoints.hit(failpoints.DURING_DATA_SYNC)
                    df = self.spark.read.parquet(cfg.snapshot_path)
                    if cfg.row_filter:
                        df = df.filter(F.expr(cfg.row_filter))
                    # copy-rows telemetry rides the write job itself
                    # (Observation — no second scan of the snapshot)
                    from pyspark.sql import Observation

                    obs = Observation()
                    self.sink.write_snapshot(
                        cfg.name,
                        df.observe(obs, F.count(F.lit(1)).alias("n")))
                    # best-effort: telemetry must never fail a completed
                    # copy. Some sink plans (e.g. the SCD2 window-over-
                    # observe on an empty snapshot) execute without ever
                    # firing the observed node, and Observation.get then
                    # raises from toPyRow — the write above has already
                    # committed, so skip the sample rather than
                    # quarantining the table over a metric.
                    try:
                        self.metrics.inc(
                            telemetry.ETL_TABLE_COPY_ROWS_TOTAL,
                            int(obs.get["n"]), labels={"table": cfg.name})
                    except Exception:
                        pass
                self.control.transition(cfg.name, TableState.FINISHED_COPY)
                failpoints.hit(failpoints.AFTER_FINISHED_COPY)
                # snapshot LSN 0 = "before all events" for the sim source;
                # a real source records the exported snapshot's LSN here
                self.control.transition(cfg.name, TableState.SYNC_DONE, lsn=0)
            except Exception as exc:  # quarantine, don't kill the pipeline
                self.metrics.inc(telemetry.ETL_WORKER_ERRORS_TOTAL,
                                 labels={"table": cfg.name})
                policy, solution = errors.error_handling_policy(exc)
                self.control.transition(
                    cfg.name, TableState.ERRORED,
                    error=f"{str(exc)[:400]} | solution: {solution}"[:500],
                    retry_policy=policy,
                )

    # ------------------------------------------------------------------
    def _apply_batch(self, files: list[str], batch_id: int) -> None:
        """The reference's apply loop for one micro-batch (SURVEY §3.2
        steps 3-6). ``files``: the paths of the batch's source files.
        Only the read differs by format: envelope files are read with
        the ``GENERIC_ENVELOPE`` schema, pgoutput frames are decoded
        through their wire stats and :func:`decode_frames`.

        Each table's write completes inside this method, so the flush LSN
        advances only after the destination has the batch — the frame
        queue's commit mark records the batch done at return, and a
        replay after a crash re-merges idempotently (apply.rs ack-gated
        restart LSN).
        """
        t_start = time.monotonic()
        wire = None
        if self.source_fmt == "pgoutput":
            # binary WAL frames → envelope: learn relations first (persisted
            # across batches/restarts), then decode this batch with carried
            # in-flight transaction state (BEGINs from earlier batches)
            from etl_spark.sources.live import MAX_TX_PER_WINDOW
            from etl_spark.sources.pgoutput import (
                FRAME_SCHEMA,
                collect_wire_stats,
                decode_frames,
            )

            # snapshot BEFORE learning this batch's relations: the decoder
            # takes the PRE-batch base and resolves this batch's RELATION
            # frames per-position itself — handing it the post-update
            # snapshot would decode pre-DDL frames against post-DDL specs
            # The registry ADVANCE is deferred to batch success (below,
            # with txs.advance_parsed): persisting the newest-only spec
            # before the batch is applied would reopen the same hazard in
            # the at-least-once replay window — a crash mid-apply replays
            # the batch, and its pre-DDL frames (whose RELATION was
            # learned in an EARLIER batch, so absent from this batch's
            # overlay) would fall back to the already-advanced post-DDL
            # base, mis-keying renames and misaligning cells after a drop.
            carried_relations = self.relations.snapshot()
            # Everything the driver needs from the raw batch — wal bounds,
            # RELATION/TYPE metadata frames, BEGIN/COMMIT frames, per-xid
            # envelope counts — comes from one pyarrow read of the frame
            # files on the driver, with no Spark job (guide §1.2: small-
            # batch pipeline wall time is job-count-bound). Each registry
            # still ADVANCES at its original point (types now,
            # relations/txs deferred to batch success below), so the
            # crash/replay windows are unchanged.
            wire = collect_wire_stats(files, max_tx=MAX_TX_PER_WINDOW)
            # TYPE names are exempt from the deferral: they are idempotent
            # oid→name metadata (never positional), and _apply_relations
            # needs same-batch TYPE frames visible when naming custom-typed
            # columns mid-batch.
            self.types.ingest(wire.types)
            # LSN-exact tx carry (mirrors the versioned relation base): a
            # crash after txs.advance_parsed but before the batch's commit
            # mark replays this batch against the ADVANCED tx state —
            # shifted continuation ordinals (dedup-defeating duplicate
            # sequence numbers) and popped committed xids (strict-decode
            # crash loop). snapshot_for(first frame's wal) returns the
            # state the FIRST attempt decoded with, whether or not the
            # advance ran.
            carry_tx = self.txs.snapshot_for(
                int(wire.bounds[0]) if wire.bounds[0] is not None else None)
            # the one Spark scan of the frames: decode, then the persist
            # below materializes it for every later consumer
            batch = decode_frames(
                self.spark.read.schema(FRAME_SCHEMA).parquet(*files),
                relations=carried_relations,
                carry_tx=carry_tx,
                overlay=wire.relations,
            )
        else:
            batch = with_sequence(
                self.spark.read.schema(GENERIC_ENVELOPE).parquet(*files))
        batch = batch.persist()
        try:
            # one agg also feeds telemetry (events + transactions per
            # batch ride the same job as the max-LSN read). Only ROW ops
            # count as events (RELATION/TYPE/MESSAGE metadata frames would
            # inflate the reference's events-processed counter during DDL
            # bursts). Transactions are counted EXACTLY without a distinct
            # expand (ADVICE r11: the reference counts exactly; the old
            # approx_count_distinct drifted on long runs and double-counted
            # transactions spanning triggers): tx_ordinal == 0 marks each
            # transaction's FIRST envelope row — the continuation offset
            # (PersistentTxRegistry.ordinal_offset) guarantees a
            # multi-batch transaction carries ordinal > 0 in later
            # triggers, so this conditional count is a plain map-side
            # predicate that counts every transaction exactly once across
            # its lifetime. commit_lsn IS NOT NULL excludes out-of-tx
            # metadata (xid = -1) whose window also starts at ordinal 0.
            is_row = F.col("op").isin(list(ROW_OPS))
            # ONE grouped agg serves four consumers that were separate
            # Spark jobs (guide §1.2/§2.4 — small-batch wall time here is
            # job-count-bound): the global telemetry/max-LSN read (sums/
            # maxes over the groups, exact — a row belongs to exactly one
            # `table` group, null included), each table's truncate fence,
            # each table's empty-batch skip (formerly 2 more jobs PER
            # TABLE in _apply_table_batch), and the schema-change stream —
            # RELATION/MESSAGE rows are catalog-sized, so each group
            # collect_lists its own and _apply_relations consumes the
            # merged list instead of running its own filter+collect job.
            tstats_agg = batch.groupBy("table").agg(
                F.max("commit_lsn").alias("m"),
                F.count(F.when(is_row, 1)).alias("n"),
                F.count(
                    F.when(
                        F.col("commit_lsn").isNotNull()
                        & (F.col("tx_ordinal") == 0),
                        1,
                    )
                ).alias("ntx"),
                F.max(
                    F.when(F.col("op") == "TRUNCATE", F.col("event_seq"))
                ).alias("trunc_seq"),
                F.collect_list(
                    F.when(
                        F.col("op").isin("RELATION", "MESSAGE"),
                        F.struct(
                            "op", "table", "commit_lsn",
                            "schema_snapshot_lsn", "after", "start_lsn",
                        ),
                    )
                ).alias("relmeta"),
            )
            with telemetry.job_scope("pipeline: batch-stats"):
                tstats = tstats_agg.collect()
            self._apply_relations(
                [m for r in tstats for m in (r["relmeta"] or ())])
            # FORCE_SCHEMA_CLEANUP: aggressively prune schema versions up to
            # the durable flush LSN mid-stream (reference forces cleanup to
            # prove as-of decode never needs a pruned version,
            # pipeline_with_failpoints.rs:1581)
            if failpoints.should_skip(failpoints.FORCE_SCHEMA_CLEANUP):
                self.metrics.inc(telemetry.ETL_SCHEMA_CLEANUPS_TOTAL)
                for name in self.tables:
                    pruned = self.schemas.prune(name, self.control.flush_lsn)
                    if pruned:
                        self.metrics.inc(
                            telemetry.ETL_SCHEMA_CLEANUP_PRUNED_VERSIONS_TOTAL,
                            pruned)
            stats_by_table = {r["table"]: r for r in tstats}
            max_lsn_row = {
                "m": max((r["m"] for r in tstats if r["m"] is not None),
                         default=None),
                "n": sum(r["n"] for r in tstats),
                "ntx": sum(r["ntx"] for r in tstats),
            }
            for name, _cfg in self.tables.items():
                entry = self.control.get(name)
                if entry.state == TableState.ERRORED:
                    continue  # P3: quarantined tables drop their events
                t_rows = batch.filter(F.col("table") == name)
                # absent from the grouped agg = zero rows this batch: the
                # empty-stats row keeps the early return (and the caller's
                # SYNC_DONE→READY transition) without another Spark job
                st = stats_by_table.get(name) or {"trunc_seq": None, "n": 0}
                try:
                    self._apply_table_batch(name, t_rows, batch_id, stats=st)
                    if entry.state == TableState.SYNC_DONE:
                        self.control.transition(name, TableState.READY)
                except Exception as exc:
                    self.metrics.inc(telemetry.ETL_WORKER_ERRORS_TOTAL,
                                     labels={"table": name})
                    policy, solution = errors.error_handling_policy(exc)
                    self.control.transition(
                        name, TableState.ERRORED,
                        error=f"{str(exc)[:400]} | solution: {solution}"[:500],
                        retry_policy=policy,
                    )
            max_lsn = max_lsn_row["m"]
            # STORE_REPLICATION_PROGRESS: persisting durable progress fails
            # → the whole micro-batch fails and the stream errors; a restart
            # replays it (at-least-once, idempotent sinks absorb the rerun)
            failpoints.hit(failpoints.STORE_REPLICATION_PROGRESS)
            # SEND_STATUS_UPDATE: the progress advance is silently LOST
            # (reference: status update to the source never sent,
            # pipeline_with_failpoints.rs:759) — data is applied but the
            # recorded flush LSN lags; replay from the stale LSN must
            # converge to the same state
            lost = failpoints.should_skip(failpoints.SEND_STATUS_UPDATE)
            if max_lsn is not None and not lost:
                # durable progress: every sink write above has completed
                self.control.advance_flush_lsn(int(max_lsn))
            self.metrics.inc(
                telemetry.ETL_EVENTS_PROCESSED_TOTAL, int(max_lsn_row["n"]))
            self.metrics.inc(
                telemetry.ETL_TRANSACTIONS_TOTAL, int(max_lsn_row["ntx"]))
            if wire is not None:
                # size of each transaction that COMMITs in this batch: its
                # envelope rows here plus those carried from earlier batches
                for xid, raw in wire.bc:
                    if raw[:1] == b"C":
                        self.metrics.observe(
                            telemetry.ETL_TRANSACTION_SIZE,
                            carry_tx.get(xid, {}).get("ordinal_offset", 0)
                            + wire.env_counts.get(xid, 0))
            if lost:
                self.metrics.inc(telemetry.ETL_STATUS_UPDATES_SKIPPED_TOTAL)
            if max_lsn is not None:
                # LSN distance to the durable flush point (the reference's
                # apply-loop flush-lag gauge family, observability.rs:49)
                self.metrics.set_gauge(
                    telemetry.ETL_APPLY_LOOP_FLUSH_LAG_BYTES,
                    max(0, int(max_lsn) - int(self.control.flush_lsn)),
                )
            if wire is not None:
                # tx- AND relation-registry advance is deliberately LAST:
                # a batch that fails above replays on restart, and the
                # replayed decode must see the same carried state it saw
                # the first time. For relations the deferral alone is not
                # sufficient — the batch's commit mark is written only
                # after this method RETURNS, so a crash after this line
                # still replays the batch against the advanced registry.
                # The registry is therefore persisted VERSIONED by
                # wal_start (ADVICE r9): the replay's pre-DDL frames
                # bisect to the spec in force at their own position, so
                # the advance order is crash-insensitive either way.
                self.relations.ingest(wire.relations)
                # ADVANCE_RELATION_REGISTRY: crash in exactly that
                # residual window (registry advanced, commit mark not yet
                # written) — the restart must replay with correct decode
                failpoints.hit(failpoints.ADVANCE_RELATION_REGISTRY)
                self.txs.advance_parsed(wire.bc, wire.env_counts,
                                        wire.bounds)
                # ADVANCE_TX_REGISTRY: crash after BOTH registries
                # advanced, commit mark still unwritten — the widest
                # replay window; the generational tx carry above makes
                # the replayed decode identical to the first attempt
                failpoints.hit(failpoints.ADVANCE_TX_REGISTRY)
            self.metrics.observe(telemetry.ETL_BATCH_APPLY_DURATION_SECONDS,
                                 time.monotonic() - t_start)
        finally:
            batch.unpersist()

    def _apply_relations(self, rows) -> None:
        """Schema-change stream (T9, apply.rs:2138-2276 + Relation
        republish apply.rs:2363-2440): RELATION events carry the new column
        list as JSON; record each version keyed by its DDL start-LSN and
        switch the table's decode schema to the newest version.

        ``rows``: the batch's RELATION/MESSAGE rows, collected by the
        per-batch grouped agg (catalog-sized ``collect_list``s).

        Fidelity note vs the reference: pgoutput tuples are POSITIONAL, so
        the reference must decode each event against its exact schema
        version. This envelope's row images are name-keyed JSON, so
        decoding a batch with the newest schema is loss-free for column
        adds/drops (missing → NULL, dropped → ignored) — one schema switch
        per batch instead of a per-event split.
        """
        import json as _json

        # Versioning key = the RELATION's STREAM POSITION (start_lsn), not
        # its transaction's commit LSN: a relation change applies to the
        # tuples that FOLLOW it in the stream, including later tuples of
        # the SAME transaction (they share one commit_lsn, so the commit
        # key cannot separate pre- from post-DDL rows inside a tx — the
        # decode gates on the event's own stream position, below).
        # Explicit schema_snapshot_lsn (envelope producers) still wins.
        def _lsn(r) -> int:
            return r["start_lsn"] if r["start_lsn"] is not None else r["commit_lsn"]

        for r in sorted(rows, key=_lsn):
            table = r["table"]
            payload = r["after"]
            if r["op"] == "MESSAGE":
                # logical decoding message (pg_logical_emit_message): only
                # the reference's DDL prefix is meaningful; unknown prefixes
                # are discarded (apply.rs:2166-2175). DDL messages must be
                # transactional (apply.rs:2177-2184) — reject otherwise.
                from etl_spark.sources.pgoutput import DDL_MESSAGE_PREFIX

                if not payload:
                    continue
                msg = _json.loads(payload)
                if msg.get("prefix") != DDL_MESSAGE_PREFIX:
                    continue  # unknown prefix: warn-and-drop
                if not msg.get("transactional", True):
                    raise ValueError(
                        "DDL schema change messages must be transactional"
                    )
                content = _json.loads(msg["content"])
                table = content.get("table")
                payload = _json.dumps(content)
            cfg = self.tables.get(table)
            if cfg is None or not payload:
                continue
            spec = _json.loads(payload)
            # custom type OIDs (not builtin, named by a TYPE frame) keep
            # typ "string" — pass-through values — with the PG type name
            # preserved in pg_type (cell.rs:8-14 Cell::String semantics)
            from etl_spark.sources.pgoutput import BUILTIN_TYPE_OIDS

            type_names = self.types.snapshot() if self.types is not None else {}

            def _pg_type(c: dict) -> str | None:
                oid = c.get("type_oid")
                if oid is None or oid in BUILTIN_TYPE_OIDS:
                    return None
                return type_names.get(oid, f"oid:{oid}")

            declared = self._declared_types.get(table, {})

            def _typ(c: dict) -> str:
                # precedence: explicit DDL-message type (a column whose
                # type CHANGED) > user-declared type > OID-mapped engine
                # type (cell.rs §1.1: bool/ints/floats/date/timestamps
                # coerce losslessly through the parse-then-CAST decode;
                # numeric / timetz / uuid / bytea / json / arrays stay
                # text pass-through for exactness) > string
                if c.get("typ"):
                    return c["typ"]
                d = declared.get(c["name"])
                if d:
                    return d
                return OID_SPARK_TYPES.get(c.get("type_oid"), "string")

            cols = [
                ColumnDef(
                    name=c["name"], typ=_typ(c),
                    nullable=c.get("nullable", True), ordinal=i,
                    pk_ordinal=c.get("pk_ordinal"),
                    default=c.get("default"),
                    pg_type=_pg_type(c),
                )
                for i, c in enumerate(spec.get("columns", []))
            ]
            lsn = r["schema_snapshot_lsn"] or _lsn(r)
            # RENAME/DROP must reach the destination (schema.rs:729-784 —
            # rename by ordinal match, drop by absence): without the remap,
            # post-DDL values land under the new name while stored rows
            # keep the old one, and the by-name merge silently NULLs one
            # side. Sink first, registry second: a crash between them
            # replays the DDL against the (idempotent) sink.
            prev = self.schemas.asof(table, lsn - 1)
            if prev is not None:
                prev_cols = prev[1]
            elif cfg.payload_schema and lsn > 0:
                # first RELATION event: diff against the configured decode
                # schema (the registry has no version yet) — and record it
                # as the initial version (LSN 0, base.rs:19-41) so the
                # rename-alias chain reaches pre-DDL row images
                prev_cols = [
                    ColumnDef(
                        name=f.strip().split()[0],
                        typ=" ".join(f.strip().split()[1:]) or "string",
                        ordinal=i,
                    )
                    for i, f in enumerate(cfg.payload_schema.split(","))
                    if f.strip()
                ]
                self.schemas.record(table, 0, prev_cols)
            else:
                prev_cols = None
            if prev_cols is not None and not any(
                v == lsn for v in self.schemas.versions(table)
            ):
                d = diff_schemas(prev_cols, cols)
                added_defaults = [
                    (c.name, c.default, c.typ)
                    for c in d.columns_to_add
                    if c.default is not None
                ]
                if (d.renames or d.columns_to_remove or added_defaults
                        or d.nullability_changes):
                    self.sink.apply_schema_change(
                        table, renames=d.renames, drops=d.columns_to_remove,
                        defaults=added_defaults,
                        nullability=d.nullability_changes,
                    )
                    self.metrics.inc(
                        telemetry.ETL_DDL_SCHEMA_CHANGES_TOTAL,
                        len(d.renames) + len(d.columns_to_remove)
                        + len(added_defaults) + len(d.nullability_changes),
                        labels={"table": table})
                if d.renames:
                    # key columns follow renames in the PIPELINE config
                    # too, not just inside the sink: post-rename
                    # payload_schema carries the new name, and _decode's
                    # types[cfg.keys[i]] lookup would KeyError (stream
                    # crash-loop) if cfg.keys kept the old one. Declared
                    # types follow for the same reason.
                    ren = dict(d.renames)
                    cfg.keys = [ren.get(k, k) for k in cfg.keys]
                    decl = self._declared_types.get(table)
                    if decl:
                        self._declared_types[table] = {
                            ren.get(k, k): v for k, v in decl.items()
                        }
            self.schemas.record(table, lsn, cols)
            cfg.payload_schema = ", ".join(f"{c.name} {c.typ}" for c in cols)

    def _column_identities(
        self, table: str
    ) -> dict[str, list[tuple[int | None, str]]]:
        """Current column name → its NAME TIMELINE: ordered segments
        ``(start_lsn, name)`` where the column carried ``name`` from
        ``start_lsn`` (None = since table origin) until the next
        segment's start. Derived from consecutive registry versions:
        renames extend a column's timeline, ADDs start a fresh identity
        (a re-ADD of a previously-renamed-away name is a NEW column —
        its timeline must not inherit the old one), DROPs end one.

        This is what makes one decode pass exact over a batch spanning
        DDL: a row image written at commit_lsn L keyed ``"a"`` means the
        column that was NAMED ``a`` AT L — with re-added names that is
        ambiguous under any LSN-blind coalesce (the old column's values
        would bleed into the new column or vanish), and the LSN resolves
        it exactly."""
        vs = self.schemas._versions.get(table, [])
        if not vs:
            return {}
        idents: dict[str, list[tuple[int | None, str]]] = {
            c.name: [(None, c.name)] for c in vs[0][1]
        }
        for (_l0, c0), (l1, c1) in zip(vs, vs[1:]):
            d = diff_schemas(c0, c1)
            for old, new in d.renames:
                idents[new] = idents.pop(old, [(None, old)]) + [(l1, new)]
            for c in d.columns_to_add:
                idents[c.name] = [(l1, c.name)]
            for name in d.columns_to_remove:
                idents.pop(name, None)
        return idents

    def _ordinal_exprs(self, table: str, fields: list[tuple[str, str]]):
        """Field name → Column expr giving the field's ORDINAL in the
        schema version in force at the event's ``commit_lsn`` (−1 when
        the column did not exist yet). TOAST ``missing_cols`` indexes are
        tuple positions under the EVENT'S schema (pgoutput lays 'u' cells
        by the RELATION in force when the frame was written); checking
        them against the current field position silently NULLs an
        unchanged-TOAST column as soon as a mid-batch DROP shifts
        ordinals."""
        vs = self.schemas._versions.get(table, [])
        idents = self._column_identities(table)
        out = {}
        for i, (n, _t) in enumerate(fields):
            segs = idents.get(n, [(None, n)])
            if not vs:
                out[n] = F.lit(i)
                continue
            chain: list[tuple[int, int]] = []
            for lv, colsv in vs:
                nm = None
                for s, cand in segs:
                    if s is None or s <= lv:
                        nm = cand
                o = next((c.ordinal for c in colsv if c.name == nm), -1)
                chain.append((lv, o))
            expr = F.lit(chain[0][1])
            pos = F.coalesce(F.col("start_lsn"), F.col("commit_lsn"))
            for lv, o in chain[1:]:
                expr = F.when(pos >= F.lit(lv), F.lit(o)).otherwise(expr)
            out[n] = expr
        return out

    def _defaults_at(self, table: str) -> dict[str, tuple[int, str]]:
        """Column → (LSN it was ADDed at, default literal) for columns
        introduced with a DEFAULT, derived from consecutive registry
        versions. The rule FOLLOWS renames (a column added with a default
        and renamed in the same batch keeps its original add-LSN gate
        under its current name); a later re-add overwrites an earlier
        entry (the newest add is the one whose LSN gates same-batch
        events); a drop retires the rule."""
        vs = self.schemas._versions.get(table, [])
        out: dict[str, tuple[int, str]] = {}
        for (_l0, c0), (l1, c1) in zip(vs, vs[1:]):
            d = diff_schemas(c0, c1)
            for old, new in d.renames:
                if old in out:
                    out[new] = out.pop(old)
            for c in d.columns_to_add:
                if c.default is not None:
                    out[c.name] = (l1, c.default)
            for c in d.columns_to_remove:
                out.pop(c, None)
        return out

    def _decode(self, cfg: TableConfig, rows: DataFrame) -> DataFrame:
        """Typed decode of the generic envelope (F11 analog): parse the
        JSON row images against the table's payload schema.

        - keys come from ``after`` for INSERT/UPDATE and from ``before``
          for DELETE (key-only old image, table_row.rs:193-198);
        - TOAST partials (non-empty ``missing_cols``): with a FULL before
          image the missing value columns resolve from it
          (codec/event.rs:594-680); without one the row is rejected,
          mirroring the reference's partial-row rejection
          (bigquery/core.rs:1480-1495).

        Typing is parse-then-CAST, not typed from_json: the pgoutput text
        protocol quotes every value ('{"pk": "7"}'), and from_json does
        NOT coerce a quoted numeric into a numeric field (it NULLs it) —
        while CAST handles every PG text form the codec layer documents
        ('7', '1.5', 'NaN', 't'/'f', timestamps with offsets). An
        envelope-format source with native JSON numbers round-trips
        identically (number → string field → cast).
        """
        if not cfg.payload_schema:
            return rows
        fields = [
            (f.strip().split()[0], " ".join(f.strip().split()[1:]) or "string")
            for f in cfg.payload_schema.split(",") if f.strip()
        ]
        # rename-aware decode: a batch may span a RENAME (the single
        # newest-schema switch would NULL pre-DDL values of renamed
        # columns) — the row images are name-keyed JSON and old/new names
        # never coexist in one image, so coalesce(new, old-chain) is exact
        idents = self._column_identities(cfg.name)
        parse_names: list[str] = []
        for n, _t in fields:
            for _s, nm in idents.get(n, [(None, n)]):
                if nm not in parse_names:
                    parse_names.append(nm)
        str_schema = ", ".join(f"{n} string" for n in parse_names)
        after = F.from_json("after", str_schema)
        before = F.from_json("before", str_schema)
        dec = rows.withColumn("__a", after).withColumn("__b", before)
        # the event's STREAM POSITION: schema changes take effect at their
        # WAL position, so intra-transaction DDL (all rows share one
        # commit_lsn) still splits exactly; envelope producers that only
        # carry commit_lsn fall back to it
        _pos = F.coalesce(F.col("start_lsn"), F.col("commit_lsn"))

        def _img(side: str, n: str):
            # LSN-exact name resolution: the image key that means THIS
            # column at the event's commit_lsn. A plain coalesce over the
            # rename chain is ambiguous once a name is re-used (the old
            # column's values bleed into the new one, or vanish when the
            # chain is pruned); selecting by the column's name timeline
            # is exact for every interleaving. Events before a fresh
            # identity's birth read NULL (the ADD..DEFAULT rule below
            # then supplies a recorded default).
            segs = idents.get(n, [(None, n)])
            first_start, first_name = segs[0]
            expr = (
                F.col(f"__{side}.{first_name}")
                if first_start is None
                else F.when(
                    _pos >= F.lit(first_start),
                    F.col(f"__{side}.{first_name}"),
                )
            )
            for start, nm in segs[1:]:
                expr = F.when(
                    _pos >= F.lit(start), F.col(f"__{side}.{nm}")
                ).otherwise(expr)
            return expr

        missing = F.coalesce(F.col("missing_cols"), F.array())
        resolvable = (F.size(missing) == 0) | (F.col("before_kind") == "FULL")
        dec = dec.filter(resolvable | ~F.col("op").isin(*ROW_OPS))
        types = dict(fields)
        # ADD COLUMN .. DEFAULT mid-batch: RELATION frames apply BEFORE the
        # batch's row events, so a row event from before the ADD (in LSN
        # order) decodes under the post-ADD schema — its image lacks the
        # column and would parse NULL, where the reference's in-order apply
        # leaves the destination's backfilled default. The registry records
        # the LSN each defaulted column appeared at: events strictly below
        # it read the default (exactly PG's attmissingval view of pre-DDL
        # rows); events at or above it parse their image (an explicit NULL
        # stays NULL). Sink-side lazy defaults cover earlier batches' dirs;
        # this rule covers the same-batch window.
        defaults_at = self._defaults_at(cfg.name)
        ord_exprs = self._ordinal_exprs(cfg.name, fields)
        proj = [F.col("op"), F.col("commit_lsn"), F.col("tx_ordinal"), F.col("event_seq")]
        for i, (n, t) in enumerate(fields):
            src = F.when(F.col("op") == "DELETE", _img("b", n)).otherwise(
                F.when(
                    F.array_contains(missing, ord_exprs[n]), _img("b", n)
                ).otherwise(_img("a", n))
            )
            rule = defaults_at.get(n)
            if rule is not None:
                add_lsn, dflt = rule
                src = F.when(
                    _pos < F.lit(add_lsn), F.lit(dflt)
                ).otherwise(src)
            proj.append(src.cast(t).alias(n))
        # PK-changing updates (D1 semantics, bigquery/core.rs:1421-1478):
        # carry the old-image keys through decode, expand into
        # DELETE(old key) + UPDATE(new key), then drop the plumbing columns
        proj += [
            _img("b", k).cast(types[k]).alias(f"__before_{k}")
            for k in cfg.keys
        ]
        from etl_spark.operators.materialize import expand_pk_change

        out = expand_pk_change(dec.select(*proj), cfg.keys, before_prefix="__before_")
        out = out.drop("sub_ordinal", *[f"__before_{k}" for k in cfg.keys])
        # publication row filter (P2) on streamed changes: the server
        # evaluates the WHERE on the new row image, so non-matching
        # inserts/updates never reach the slot. DELETEs pass through —
        # evaluating a value predicate on a key-only old image is
        # impossible, and an unmatched-key delete is a no-op at the sink.
        if cfg.row_filter:
            out = out.filter((F.col("op") == "DELETE") | F.expr(cfg.row_filter))
        # reject-not-corrupt: a row event whose key columns ALL decoded to
        # NULL (malformed/missing row image) is unaddressable — it cannot
        # merge, delete, or upsert anything. Drop it rather than let a
        # NULL-key row poison the current-state table.
        key_present = None
        for k in cfg.keys:
            cond = F.col(k).isNotNull()
            key_present = cond if key_present is None else (key_present | cond)
        if key_present is not None:
            out = out.filter(key_present)
        return out

    def _apply_table_batch(self, name: str, t_rows: DataFrame, batch_id: int,
                           stats) -> None:
        cfg = self.tables[name]
        # truncate splitting (T8): events ≤ the last TRUNCATE are dead;
        # the sink resets before the survivors apply. ``stats`` is this
        # table's row of the batch-wide grouped agg (_apply_batch) — the
        # pre-computed truncate fence and ROW_OPS count, so no per-table
        # agg or isEmpty job runs unless a truncate splits the batch.
        if stats["trunc_seq"] is not None:
            self.sink.truncate(name)
            t_rows = t_rows.filter(
                (F.col("event_seq") > stats["trunc_seq"])
                | ~F.col("op").isin(*ROW_OPS)
            )
            rows = t_rows.filter(F.col("op").isin(*ROW_OPS))
            if rows.isEmpty():  # survivors past the fence may be none
                return
        else:
            if stats["n"] == 0:
                return
            rows = t_rows.filter(F.col("op").isin(*ROW_OPS))
        self.sink.write_changes(name, self._decode(cfg, rows), batch_id)

    # ------------------------------------------------------------------
    def start(self) -> None:
        """Backfill every table not yet streaming. The change stream is
        applied by :meth:`run_until_drained`, which calls this first."""
        self.backfill()
        failpoints.hit(failpoints.BEFORE_STREAMING)

    def run_until_drained(self) -> None:
        """Start, then apply every pending source file — the one way any
        batch is applied. A batch pinned by an earlier run and never
        committed (a crash mid-apply) is applied first, with its own id
        and files; then every file pending on entry forms one batch, as
        an ``availableNow`` trigger does."""
        self.start()
        fresh = self.frame_queue.pending()
        if self.frame_queue.pinned is not None:
            self._apply_pinned()
        if fresh:
            self.frame_queue.pin(fresh)
            self._apply_pinned()

    def _apply_pinned(self) -> None:
        """Apply the frame queue's pinned batch, then mark it done."""
        self._apply_batch(self.frame_queue.paths(), self.frame_queue.pinned["id"])
        self.frame_queue.commit()

    def retry_errored(
        self,
        retry_delay_sec: float = 300.0,
        max_attempts: int = 5,
        force: bool = False,
    ) -> list[str]:
        """Reset eligible quarantined tables to Init so the next backfill
        re-copies them (error_policy.rs + config pipeline.rs:275-281):

        - ``NoRetry``: never eligible;
        - ``ManualRetry``: only with ``force=True`` (the operator's
          POST /pipelines/{id}/rollback-tables analog);
        - ``TimedRetry``: eligible once ``retry_delay_sec`` has elapsed and
          fewer than ``max_attempts`` consecutive failures occurred.
        """
        import time as _time

        now = _time.time()
        retried = []
        for e in list(self.control.tables.values()):
            if e.state != TableState.ERRORED:
                continue
            if e.retry_policy == RetryPolicy.NO_RETRY:
                continue
            if e.retry_policy == RetryPolicy.MANUAL_RETRY and not force:
                continue
            if e.retry_policy == RetryPolicy.TIMED_RETRY and not force:
                if e.attempts >= max_attempts:
                    continue
                if e.errored_at is not None and now - e.errored_at < retry_delay_sec:
                    continue
            self.control.transition(e.table, TableState.INIT)
            retried.append(e.table)
        return retried

    def resync_errored(self, force: bool = False, **kwargs) -> list[str]:
        """Retry quarantined tables AND re-deliver their change stream.

        The reference's resync re-copies the table and then re-reads WAL
        from the copied LSN through the still-retained slot
        (pipeline_with_faulty_destination.rs: drop → recopy → retry until
        durable). The Spark analog: reset eligible Errored tables to Init
        (:meth:`retry_errored`) and reset the frame queue's record of
        applied files, so the retained change log replays from the start.
        Replay is convergent: healthy tables skip already-applied batches
        (sink batch-id dedup) or re-merge idempotently (LWW by event_seq)
        — at-least-once in, exactly-once-looking out (SURVEY T7).
        """
        retried = self.retry_errored(force=force, **kwargs)
        if retried:
            self.frame_queue.reset()
        return retried

    def status(self) -> dict:
        """Control-plane status surface (SURVEY §2.12's
        GET /pipelines/{id}/status, minus the REST)."""
        return {
            "flush_lsn": self.control.flush_lsn,
            "tables": {
                e.table: {"state": e.state.value, "lsn": e.lsn, "error": e.error}
                for e in self.control.tables.values()
            },
        }

    def replication_status(self) -> dict:
        """GET /pipelines/{id}/replication-status analog: per-table
        replication posture — the operator's lag/health view.

        ``apply_lag``: a Ready table rides the shared stream — each batch
        applies every table before the flush LSN advances, so its lag at
        the durable flush point is 0 by construction. For a quarantined or
        still-copying table the lag is the WAL span it has MISSED since
        its own recorded LSN (snapshot/copy position) — the number an
        operator pages on. ``replicating`` = past the copy phase and not
        quarantined."""
        flush = self.control.flush_lsn or 0
        out = {}
        for e in self.control.tables.values():
            ready = e.state == TableState.READY
            out[e.table] = {
                "state": e.state.value,
                "replicating": ready,
                "copied": e.state in KEEPS_DATA_ON_RESTART,
                "table_lsn": e.lsn,
                "apply_lag": 0 if ready else max(0, flush - (e.lsn or 0)),
                "error": e.error,
                "attempts": e.attempts,
            }
        return {"flush_lsn": self.control.flush_lsn, "tables": out}
