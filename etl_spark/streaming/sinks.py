"""Pluggable sinks — the reference's ``Destination`` trait re-expressed.

Contract (crates/etl/src/destination/base.rs:27-213):
``write_snapshot`` ≈ ``write_table_rows`` (initial copy batches),
``write_changes`` ≈ ``write_events`` (streamed change batches),
``truncate`` ≈ ``drop_table_for_copy``. The batch apply is synchronous, so
every write is the reference's ``Durable`` result — the ``Accepted``
(deferred durability) mode is a sink-internal optimization we intentionally
drop (SURVEY T5: "simplest correct port is synchronous Durable-only").

Two parquet materializations mirror the two destination semantics
(SURVEY §2.10): changelog-append and current-state. The state sinks apply
CHANGES, not the world — the reference's core destination property
(BigQuery CDC upserts only the batch's rows, bigquery/core.rs:1409-1478;
DuckLake's staging merge touches only affected rows,
ducklake/core.rs:1133-1216). Plain parquet has no MERGE, so the same
property is achieved with a bucket layout + manifest swap:

* every row is hashed into one of ``n_buckets`` key-buckets
  (``pmod(xxhash64(keys), n)``) — all versions of a key share a bucket;
* each committed version is a tiny JSON MANIFEST mapping bucket id →
  the physical directory holding that bucket's current rows;
* ``write_changes`` reads ONLY the batch's touched buckets, merges, and
  writes ONLY those buckets into a fresh ``v{N}`` directory; the new
  manifest points touched buckets at ``v{N}`` and carries every
  untouched bucket's entry forward — those files are never read, never
  rewritten (byte-identical across the batch);
* readers resolve ``VERSION`` → manifest → bucket paths, so the swap of
  the VERSION pointer stays the single atomic commit: snapshot
  isolation without a table format, replay-idempotent (LWW / event_seq
  dedup converges), O(batch + touched buckets) per micro-batch instead
  of O(table).

At 100 TB, size ``n_buckets`` so a bucket is a few GB (e.g. 4096+): a
micro-batch touching k keys rewrites ≤ k buckets ≈ k·(table/n), not the
table. On Delta/Iceberg the same class shape becomes a real ``MERGE
INTO``; the manifest here plays the role of their snapshot metadata.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark import failpoints
from etl_spark.operators import materialize
from etl_spark.state import write_json_atomic
from etl_spark.telemetry import job_scope


class Sink(ABC):
    """Destination plug-in surface (destination/base.rs:27-213)."""

    @abstractmethod
    def write_snapshot(self, table: str, df: DataFrame) -> None:
        """Initial-copy rows for ``table`` (write_table_rows)."""

    @abstractmethod
    def write_changes(self, table: str, df: DataFrame, batch_id: int) -> None:
        """One micro-batch of change events (write_events). MUST be
        idempotent under batch replay (at-least-once source)."""

    def truncate(self, table: str) -> None:  # pragma: no cover - default noop
        """Reset destination state for re-copy (drop_table_for_copy)."""

    def apply_schema_change(
        self,
        table: str,
        renames: list[tuple[str, str]] | None = None,
        drops: list[str] | None = None,
        defaults: list[tuple[str, str, str]] | None = None,
        nullability: list[tuple[str, bool]] | None = None,
    ) -> None:
        """Apply a DDL delta to stored rows — the reference's ``SchemaDiff``
        at destinations (crates/etl/src/schema.rs:729-784 — its
        ``ColumnModification`` is Rename | Default | Nullability, docs
        schema-changes.md:20-30): RENAME remaps the stored column, DROP
        projects it away, ``defaults`` (col, value, typ) backfills an ADD
        COLUMN .. DEFAULT for pre-DDL rows, ``nullability`` (col,
        nullable) records the constraint change. Plain column ADDs need
        no call — every sink here already merges by name with
        missing→NULL.

        The default for the LOSSY ops is a LOUD error, never silence:
        without remapping, a renamed column's post-DDL values would land
        under the new name while stored rows keep the old one — the merge
        would silently NULL one side (data loss). A nullability-ONLY
        change is metadata (no stored value moves or disappears), so a
        sink with no constraint surface may ignore it."""
        if renames or drops or defaults:
            raise NotImplementedError(
                f"{type(self).__name__} cannot apply column renames/drops; "
                f"table={table!r} renames={renames!r} drops={drops!r} — "
                "refusing to merge mismatched schemas (silent NULLing of "
                "renamed columns)"
            )

    def reconcile_keys(self, table: str, keys: list[str]) -> None:
        """Adopt ``keys`` as ``table``'s current replica-identity column
        names. Called on restart after the pipeline re-derives key names
        from the schema registry's rename chain — a sink built from a
        stored config carries pre-rename names and would mis-hash or
        KeyError. Default no-op: sinks that never index by key name
        (changelog appenders) have nothing to reconcile."""


class ParquetChangelogSink(Sink):
    """Append-only changelog: every event row with ``cdc_operation`` +
    ``cdc_sequence`` (iceberg/core.rs:27-70 table shape). Replay-safe via
    batch-id dedup directories (one output dir per batch id — rewriting the
    same batch overwrites, not duplicates: the DuckLake ``applied_batches``
    idea, ducklake/core.rs:74-80, as idempotent file layout).

    A streaming changelog accumulates one directory per micro-batch
    forever; :meth:`compact` folds old batch dirs into a consolidated
    segment, crash-safely: the segment is written first, then a FOLDED
    manifest records which batch ids it covers AND which segment dirs
    are committed (the atomic commit), then the folded dirs are deleted.
    ``read`` consults the manifest for BOTH sides — a crash between
    commit and delete (or a replayed delivery recreating a folded batch
    dir) never double-counts a batch, and a crash between the segment
    write and the manifest commit leaves an UNLISTED segment that
    readers ignore and the next compact garbage-collects (otherwise the
    orphan would double-count the still-live batch dirs, permanently if
    a retry folded them under a different segment name)."""

    def __init__(self, root: str):
        self.root = root

    def _folded(self, table: str) -> dict:
        try:
            with open(os.path.join(self.root, table, "FOLDED")) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"batches": [], "segments": []}

    def write_snapshot(self, table: str, df: DataFrame) -> None:
        out = os.path.join(self.root, table, "snapshot")
        df.write.mode("overwrite").parquet(out)

    def write_changes(self, table: str, df: DataFrame, batch_id: int) -> None:
        out = os.path.join(self.root, table, f"batch={batch_id}")
        materialize.changelog(df).write.mode("overwrite").parquet(out)

    def _live_dirs(self, table: str) -> list[str]:
        tdir = os.path.join(self.root, table)
        manifest = self._folded(table)
        folded = set(manifest["batches"])
        committed_segments = set(manifest["segments"])
        out = []
        for d in sorted(os.listdir(tdir)):
            full = os.path.join(tdir, d)
            if not os.path.isdir(full):
                continue
            if d.startswith("batch="):
                if int(d.split("=", 1)[1]) in folded:
                    continue  # folded into a segment (or crash-leftover)
                out.append(full)
            elif d.startswith("segment_"):
                if d not in committed_segments:
                    continue  # orphan of a crashed compact (pre-commit)
                out.append(full)
            elif d == "snapshot":
                out.append(full)
        return out

    def read(self, *args) -> DataFrame:
        """``read(table)``: the table's live rows, on the active session
        like every other sink's ``read``. The older ``read(spark, table)``
        form (``perfbench/run.py`` calls it) is accepted too."""
        table = args[-1]
        dirs = self._live_dirs(table)
        if not dirs:
            raise RuntimeError(f"no changelog data for {table}")
        reader = SparkSession.active().read.option("recursiveFileLookup", "true")
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [reader.parquet(d) for d in dirs],
        )

    def compact(self, table: str, keep_batches: int = 10) -> list[int]:
        """Fold every batch dir except the newest ``keep_batches`` into one
        consolidated segment. Returns the folded batch ids."""
        tdir = os.path.join(self.root, table)
        prev = self._folded(table)
        folded_prev = set(prev["batches"])
        committed_segments = set(prev["segments"])
        # GC orphan segments first: a crash between a segment write and
        # the manifest commit leaves an unlisted (reader-invisible) dir
        for d in os.listdir(tdir):
            if d.startswith("segment_") and d not in committed_segments:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        ids = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(tdir)
            if d.startswith("batch=") and int(d.split("=", 1)[1]) not in folded_prev
        )
        doomed = ids[:-keep_batches] if keep_batches else ids
        if not doomed:
            return []
        seg_name = f"segment_{max(doomed)}"
        df = (
            SparkSession.active().read.option("recursiveFileLookup", "true")
            .parquet(*[os.path.join(tdir, f"batch={b}") for b in doomed])
        )
        # written before the commit, but invisible to readers until the
        # manifest lists it (see _live_dirs)
        df.write.mode("overwrite").parquet(os.path.join(tdir, seg_name))
        # writer-vs-maintenance interleaving points: a stream may append
        # new batch dirs while the fold runs (external_maintenance.rs
        # race) — the manifest records only the DOOMED ids, so appended
        # batches stay live regardless of when they land
        failpoints.hit(failpoints.COMPACT_BEFORE_COMMIT)
        write_json_atomic(os.path.join(tdir, "FOLDED"), {  # the atomic commit
            "batches": sorted(folded_prev | set(doomed)),
            "segments": sorted(committed_segments | {seg_name}),
        })
        failpoints.hit(failpoints.COMPACT_AFTER_COMMIT)
        for b in doomed:
            shutil.rmtree(os.path.join(tdir, f"batch={b}"), ignore_errors=True)
        return doomed


def _stamp_snapshot(df: DataFrame, snapshot_lsn: int) -> DataFrame:
    """Stamp snapshot rows as INSERTs at the snapshot LSN so stream
    batches merge against them by event_seq (overlap-safe, SURVEY T6)."""
    for col, expr in {
        "op": F.lit("INSERT"),
        "commit_lsn": F.lit(snapshot_lsn).cast("long"),
        "tx_ordinal": F.lit(0).cast("long"),
        "event_seq": F.lit(snapshot_lsn).cast("decimal(38,0)")
        * F.lit("18446744073709551616").cast("decimal(38,0)"),
    }.items():
        if col not in df.columns:
            df = df.withColumn(col, expr)
    return df


class _BucketedVersionedTable:
    """Shared body of the bucket-manifest state sinks (see module
    docstring): VERSION pointer, per-version manifests, bucket-pruned
    reads, touched-bucket-only commits, and the ``write_changes`` /
    ``truncate`` / ``read`` skeleton. A subclass supplies ``_merge(stored,
    df)``: the rows to commit for the touched buckets, from their stored
    rows (or the schema anchor when every touched bucket is new; None
    only for a table with no recorded schema) and the batch."""

    #: default key-bucket count; a real deployment sizes this so one
    #: bucket ≈ a few GB (manifest pins it per table after first write)
    DEFAULT_BUCKETS = 32

    def __init__(self, root: str, keys: list[str], spark: SparkSession,
                 n_buckets: int | None = None):
        self.root = root
        self.keys = keys
        self.spark = spark
        self.n_buckets = n_buckets or self.DEFAULT_BUCKETS
        # (table, version) -> limit(0) schema anchor; safe to memoize
        # because a manifest is immutable once written and every caller
        # re-reads the CURRENT version before keying in
        self._anchor_cache: dict[tuple[str, int], DataFrame | None] = {}

    # -- version pointer (the atomic commit) --------------------------------
    def _vpath(self, table: str) -> str:
        return os.path.join(self.root, table, "VERSION")

    def _current_meta(self, table: str) -> dict:
        try:
            with open(self._vpath(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": -1, "batch_id": None}

    def _current_version(self, table: str) -> int:
        return self._current_meta(table)["version"]

    def _point(self, table: str, version: int, batch_id: int | None) -> None:
        write_json_atomic(
            self._vpath(table), {"version": version, "batch_id": batch_id}
        )

    def _data_dir(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"v{version}")

    # -- manifests -----------------------------------------------------------
    def _mpath(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"manifest_v{version}.json")

    def _manifest(self, table: str, version: int) -> dict:
        with open(self._mpath(table, version)) as f:
            return json.load(f)

    def _bucket_expr(self, n_buckets: int):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(n_buckets)
        ).cast("int")

    @staticmethod
    def _schema_json(df: DataFrame) -> str:
        """The frame's schema as JSON with every field nullable — exactly
        what parquet inference reports back for these files (the writer
        stores all columns as optional), so a recorded-schema read is
        indistinguishable from an inferred one. Nullability is relaxed
        RECURSIVELY (struct fields, array elements, map values): parquet
        inference reports nested fields nullable too, so a top-level-only
        relax would record a STRICTER schema than the inferred path for
        non-nullable nested fields and the two paths could diverge in
        unionByName/anchor coercion (ADVICE r13)."""
        from pyspark.sql.types import (
            ArrayType,
            MapType,
            StructField,
            StructType,
        )

        def as_nullable(dt):
            if isinstance(dt, StructType):
                return StructType(
                    [
                        StructField(f.name, as_nullable(f.dataType), True,
                                    f.metadata)
                        for f in dt.fields
                    ]
                )
            if isinstance(dt, ArrayType):
                return ArrayType(as_nullable(dt.elementType), True)
            if isinstance(dt, MapType):
                return MapType(
                    as_nullable(dt.keyType), as_nullable(dt.valueType), True
                )
            return dt

        return StructType(
            [
                StructField(f.name, as_nullable(f.dataType), True, f.metadata)
                for f in df.schema.fields
            ]
        ).json()

    @staticmethod
    def _schema_from_json(s: str):
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(s))

    def sync_keys(self, table: str) -> list[str]:
        """Bring ``self.keys`` up to date with the table's recorded DDL
        rename chain. A sink built from a STORED config (control-plane
        maintenance, destination rollback, pipeline restart) carries the
        key names as of config time; if a key column was renamed
        mid-stream, bucket hashing with the stale name would KeyError or
        — worse — hash a different column. The manifest's ddl_log is the
        durable record: replay its renames over the configured keys. A
        rename whose old name matches no configured key is a value-column
        rename (no-op here); sequential replay makes the sync idempotent
        — keys already current pass through every op unchanged."""
        meta = self._current_meta(table)
        if meta["version"] < 0:
            return self.keys
        ddl_log = self._manifest(table, meta["version"]).get("ddl_log", [])
        keys = list(self.keys)
        for op in ddl_log:
            if op.get("op") == "rename":
                keys = [op["to"] if k == op["from"] else k for k in keys]
        self.keys = keys
        return keys

    def reconcile_keys(self, table: str, keys: list[str]) -> None:
        """Adopt the pipeline's registry-derived current key names (one
        keys list per sink instance — the per-table-sink convention the
        control plane builds under)."""
        self.keys = list(keys)

    def current_nullability(self, table: str) -> dict[str, bool]:
        """Column → nullable for every column a ``set_nullable`` ledger
        entry has touched, folded through later renames/drops (the
        metadata read-back for the evolution ledger's Nullability ops —
        parquet stores no live constraint, the manifest is the record)."""
        meta = self._current_meta(table)
        if meta["version"] < 0:
            return {}
        out: dict[str, bool] = {}
        for op in self._manifest(table, meta["version"]).get("ddl_log", []):
            if op["op"] == "set_nullable":
                out[op["col"]] = op["nullable"]
            elif op["op"] == "rename" and op["from"] in out:
                out[op["to"]] = out.pop(op["from"])
            elif op["op"] == "drop":
                out.pop(op["col"], None)
        return out

    # -- DDL log (rename/drop as metadata, applied lazily at read) ----------
    @staticmethod
    def _apply_ddl_ops(df: DataFrame, ddl_log: list[dict], epoch: int) -> DataFrame:
        """Replay the DDL ops a physical dir has NOT yet seen (it was
        written at ``epoch``, i.e. after the first ``epoch`` log entries).
        Rename remaps the stored column to its current logical name; drop
        projects it away. A column re-added after a drop is safe: newer
        dirs carry a higher epoch, so the old drop op never touches them —
        and ``unionByName(allowMissingColumns)`` NULLs the old rows.

        The replay folds DRIVER-SIDE over the column list and emits ONE
        ``select``: chaining a plan node per op (the previous shape) made
        plan depth linear in log length and overflowed the JVM analyzer
        stack near ~1000 accumulated ops (measured in SCALE.md
        "manifest/DDL-log growth"); the net projection is O(1) depth at
        any log length."""
        # name -> ("col", physical_name) | ("lit", value, typ), insertion
        # order preserved so the output column order matches the previous
        # withColumn/drop/withColumnRenamed sequence exactly
        origin: dict[str, tuple] = {c: ("col", c) for c in df.columns}
        changed = False
        for op in ddl_log[epoch:]:
            if op["op"] == "rename" and op["from"] in origin:
                # A rename whose target already exists would silently drop
                # the pre-existing column via dict-key collision; the
                # internally generated DDL log can never legally contain
                # one (PG rejects RENAME onto an existing column), so a
                # malformed log fails loudly instead of losing data
                # (ADVICE r10).
                if op["to"] != op["from"] and op["to"] in origin:
                    raise ValueError(
                        f"malformed DDL log: rename {op['from']!r} -> "
                        f"{op['to']!r} collides with an existing column"
                    )
                # rebuild preserving position (renames keep column order)
                origin = {
                    (op["to"] if k == op["from"] else k): v
                    for k, v in origin.items()
                }
                changed = True
            elif op["op"] == "drop" and op["col"] in origin:
                origin.pop(op["col"])
                changed = True
            elif op["op"] == "add_default" and op["col"] not in origin:
                # PG's lazy default materialization (attmissingval): rows
                # written before ADD COLUMN .. DEFAULT read as the default,
                # without rewriting a single file
                origin[op["col"]] = ("lit", op["value"], op.get("typ", "string"))
                changed = True
        if not changed:
            return df
        exprs = []
        for name, src in origin.items():
            if src[0] == "col":
                # backtick-quote: PG column names may contain dots, which
                # bare F.col would parse as struct access
                if "`" in src[1]:
                    # a backtick would break the manual quoting below —
                    # PG allows it in identifiers, Spark's parser can't
                    # escape it here; fail loudly (ADVICE r10)
                    raise ValueError(
                        f"unsupported physical column name {src[1]!r}: "
                        "contains a backtick"
                    )
                e = F.col(f"`{src[1]}`")
                exprs.append(e.alias(name) if src[1] != name else e)
            else:
                exprs.append(F.lit(src[1]).cast(src[2]).alias(name))
        return df.select(*exprs)

    def _touched_buckets(self, df: DataFrame, n_buckets: int) -> list[int]:
        """Distinct bucket ids in a batch — bounded by n_buckets, so the
        collect is a small driver-side list (the rollup.py pattern)."""
        with job_scope("sink: touched-buckets"):
            return sorted(
                r[0]
                for r in df.select(self._bucket_expr(n_buckets).alias("b"))
                .distinct()
                .collect()
            )

    # -- read ----------------------------------------------------------------
    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel: the table AS OF a past committed version — every
        manifest is retained until :func:`etl_spark.maintenance.
        expire_versions` reclaims it, so any unexpired version is
        readable (the rollback-tables / snapshot-isolation reader the
        VERSION-swap design buys for free)."""
        return self._read_buckets(table, version=version)

    def _read_buckets(
        self, table: str, bucket_ids: list[int] | None = None,
        version: int | None = None,
    ) -> DataFrame | None:
        """Rows for ``bucket_ids`` (None = all) at the current version.

        Reads ONLY the referenced ``v*/__bucket=b`` directories — an
        untouched bucket costs nothing, a pruned read costs only its own
        buckets. Returns None when no stored rows match (new buckets);
        returns the schema-bearing empty frame when the table is empty.
        """
        v = self._current_meta(table)["version"] if version is None else version
        manifest = self._manifest(table, v)
        ddl_log = manifest.get("ddl_log", [])
        epochs = manifest.get("vdir_epoch", {})
        buckets: dict[str, str] = manifest["buckets"]
        if bucket_ids is not None:
            want = {str(b) for b in bucket_ids}
            buckets = {b: vd for b, vd in buckets.items() if b in want}
        if not buckets:
            if bucket_ids is None and manifest.get("empty"):
                empty_rel = manifest["empty"]
                # recorded-at-commit schema: skips listing + footer
                # inference (~0.1 s of driver time per read-back)
                df = self.spark.read.schema(
                    self._schema_from_json(manifest["empty_schema"])
                ).parquet(os.path.join(self.root, table, empty_rel))
                return self._apply_ddl_ops(
                    df, ddl_log, epochs.get(empty_rel.split("/", 1)[0], 0)
                )
            return None
        by_vdir: dict[str, list[str]] = {}
        for b, vd in buckets.items():
            by_vdir.setdefault(vd, []).append(b)
        parts = []
        for vd, bs in sorted(by_vdir.items()):
            base = os.path.join(self.root, table, vd)
            paths = [os.path.join(base, f"__bucket={b}") for b in sorted(bs, key=int)]
            # the manifest records each vdir's file schema at commit time
            # (crash-replay safe: a replayed commit rewrites BOTH the vdir
            # and its manifest); passing it skips per-read schema
            # inference. __bucket is the partition column.
            schema = self._schema_from_json(
                manifest["vdir_schema"][vd]
            ).add("__bucket", "integer")
            part = (
                self.spark.read.option("basePath", base)
                .schema(schema)
                .parquet(*paths)
            )
            # remap each dir's physical columns to the CURRENT logical
            # schema (renames/drops it predates) before the by-name union
            parts.append(self._apply_ddl_ops(part, ddl_log, epochs.get(vd, 0)))
        # allowMissingColumns: schema evolution — a column added by DDL
        # exists only in buckets rewritten since (older buckets read NULL)
        df = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        return df.drop("__bucket")

    def _schema_frame_cached(self, table: str) -> DataFrame | None:
        """Memoized :meth:`_schema_frame`. Every ``write_changes`` needs
        the anchor (key canonicalization + new-bucket type coercion), so
        a 3-batch gate would rebuild it 6+ times for an identical answer.
        Keyed by the CURRENT version — manifests are immutable once
        written, so a hit can never be stale, and a commit (new version)
        naturally misses."""
        key = (table, self._current_meta(table)["version"])
        if key not in self._anchor_cache:
            self._anchor_cache[key] = self._schema_frame(table)
        return self._anchor_cache[key]

    def _schema_frame(self, table: str) -> DataFrame | None:
        """Empty frame with the table's STORED schema, built from the
        schema the manifest recorded at commit time (no file read). Used
        as the type anchor when a batch touches only brand-new buckets:
        the merge union coerces text-decoded batch columns to the stored
        types, exactly as merging into a populated bucket would."""
        manifest = self._manifest(table, self._current_version(table))
        if manifest["buckets"]:
            vd = min(manifest["buckets"].items(), key=lambda kv: int(kv[0]))[1]
            schema = manifest["vdir_schema"][vd]
        elif manifest.get("empty"):
            vd = manifest["empty"].split("/", 1)[0]
            schema = manifest["empty_schema"]
        else:
            return None
        anchor = self.spark.createDataFrame([], self._schema_from_json(schema))
        return self._apply_ddl_ops(
            anchor, manifest.get("ddl_log", []),
            manifest.get("vdir_epoch", {}).get(vd, 0),
        )

    def _canonicalize_keys(self, table: str, df: DataFrame) -> DataFrame:
        """Cast the batch's key columns to the STORED key types before any
        bucket hashing. ``xxhash64('2' as string) != xxhash64(2 as long)``
        — a text-decoded key would bucket away from its stored row and the
        merge would never see it. The stored schema is the canonical type
        (read from the manifest, no data scan)."""
        anchor = self._schema_frame_cached(table)
        if anchor is None:
            return df
        stored_types = dict(anchor.dtypes)
        batch_types = dict(df.dtypes)
        for k in self.keys:
            want = stored_types.get(k)
            if want is not None and batch_types.get(k) != want:
                df = df.withColumn(k, F.col(k).cast(want))
        return df

    # -- commit ---------------------------------------------------------------
    def _commit(
        self,
        table: str,
        out: DataFrame,
        touched: list[int] | None,
        batch_id: int | None,
        n_buckets: int | None = None,
    ) -> None:
        """Write ``out``'s buckets into a fresh v{N} dir and publish the
        manifest: touched buckets repoint to v{N}, untouched entries carry
        forward untouched (their files are never rewritten). ``touched``
        None = full rewrite (snapshot / truncate / compaction).
        ``n_buckets`` overrides the manifest-pinned count — full-rewrite
        commits only (rebucket migration)."""
        meta = self._current_meta(table)
        old = (
            self._manifest(table, meta["version"])
            if meta["version"] >= 0
            else {"n_buckets": self.n_buckets, "buckets": {}, "empty": None}
        )
        if n_buckets is not None and touched is not None:
            raise ValueError("n_buckets override requires a full rewrite")
        n = n_buckets or old["n_buckets"]
        ddl_log = old.get("ddl_log", [])
        nv = meta["version"] + 1
        vname = f"v{nv}"
        vdir = self._data_dir(table, nv)
        # mode=overwrite: a crash-then-replay that re-attempts the same
        # version number replaces the torn dir wholesale.
        # repartition(k, __bucket) pins one task (→ one file) per bucket:
        # without it the window's AQE-coalesced partitioning scatters every
        # bucket over every task, so each version dir holds tasks×buckets
        # tiny files and read-back/commit pay per-file overhead (guide §6).
        # The design target is a few GB per bucket, so file-per-bucket is
        # the right output size at any scale; the explicit count (not a
        # bare repartition("__bucket")) keeps AQE from re-coalescing the
        # exchange below the bucket count.
        k = len(touched) if touched else n
        with job_scope(f"sink: commit {table} v{nv}"):
            (
                out.withColumn("__bucket", self._bucket_expr(n))
                .repartition(max(k, 1), "__bucket")
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(vdir)
            )
        present = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(vdir)
            if d.startswith("__bucket=")
        )
        buckets = {} if touched is None else dict(old["buckets"])
        if touched is not None:
            for b in touched:
                buckets.pop(str(b), None)  # touched-and-now-empty: drop
        for b in present:
            buckets[str(b)] = vname
        manifest = {"n_buckets": n, "buckets": buckets, "empty": old.get("empty"),
                    "empty_schema": old.get("empty_schema")}
        if n_buckets is not None:
            # a rebucket invalidates the carried-forward empty anchor (it
            # lives in a superseded vdir; the fresh _empty below replaces
            # it when needed)
            manifest["empty"] = None
            manifest["empty_schema"] = None
        if not buckets:
            # keep a schema-bearing empty frame readable (truncate / all
            # rows deleted); plain parquet write of limit(0) stores schema
            empty_dir = os.path.join(vdir, "_empty")
            out.limit(0).write.mode("overwrite").parquet(empty_dir)
            manifest["empty"] = f"{vname}/_empty"
            manifest["empty_schema"] = self._schema_json(out)
        # carry the DDL log forward; the fresh dir is written at the
        # CURRENT epoch (its rows already carry post-DDL column names —
        # _read_buckets/_schema_frame remapped the stored side before the
        # merge). Epochs of dirs no longer referenced are pruned.
        manifest["ddl_log"] = ddl_log
        referenced = set(buckets.values())
        if manifest.get("empty"):
            referenced.add(manifest["empty"].split("/", 1)[0])
        manifest["vdir_epoch"] = {
            vd: e
            for vd, e in old.get("vdir_epoch", {}).items()
            if vd in referenced
        }
        # per-vdir file schema, recorded at write time so read-backs and
        # schema anchors never pay parquet inference (carried forward and
        # pruned exactly like vdir_epoch; a vdir's files and its manifest
        # entry are always rewritten together, so they cannot drift)
        manifest["vdir_schema"] = {
            vd: s
            for vd, s in old.get("vdir_schema", {}).items()
            if vd in referenced
        }
        if vname in referenced:
            manifest["vdir_epoch"][vname] = len(ddl_log)
            manifest["vdir_schema"][vname] = self._schema_json(out)
        write_json_atomic(self._mpath(table, nv), manifest)
        # the ONE atomic commit: readers never see a half-written version
        self._point(table, nv, batch_id)

    def apply_schema_change(
        self,
        table: str,
        renames: list[tuple[str, str]] | None = None,
        drops: list[str] | None = None,
        defaults: list[tuple[str, str, str]] | None = None,
        nullability: list[tuple[str, bool]] | None = None,
    ) -> None:
        """RENAME/DROP as a manifest-only commit — O(1) metadata, zero data
        rewrite (the reference applies SchemaDiff at destinations,
        schema.rs:729-784; BigQuery's ALTER is likewise metadata-only).

        Ops append to the manifest's ``ddl_log``; every physical dir keeps
        the epoch it was written at, and reads replay only the ops a dir
        has not seen (see :meth:`_apply_ddl_ops`). Key columns follow
        renames so bucket hashing keeps matching (same VALUES → same
        bucket). Replay-idempotent: re-applying the ops the log already
        ends with is a no-op — the crash-replay window is one batch.

        ``defaults`` = ``[(col, value, typ)]`` for ADD COLUMN .. DEFAULT:
        pre-DDL rows read the default (PG attmissingval semantics).
        ``nullability`` = ``[(col, nullable)]``: recorded as a
        metadata-only ``set_nullable`` ledger entry so the evolution log
        is complete against the reference's ColumnModification set
        (Rename | Default | Nullability, schema.rs:762-784) — parquet
        holds no live NOT NULL constraint, so no data moves; current
        nullability is readable via :meth:`current_nullability`."""
        renames = list(renames or [])
        drops = list(drops or [])
        defaults = list(defaults or [])
        nullability = list(nullability or [])
        if not renames and not drops and not defaults and not nullability:
            return
        meta = self._current_meta(table)
        if meta["version"] < 0:
            # nothing stored yet — the first write carries the new names
            return
        ren_map = dict(renames)
        dropped_keys = [k for k in self.keys if k in drops]
        if dropped_keys:
            raise ValueError(
                f"cannot drop key column(s) {dropped_keys!r} of {table!r}"
            )
        ops = [{"op": "rename", "from": o, "to": n} for o, n in renames]
        ops += [{"op": "drop", "col": c} for c in drops]
        ops += [
            {"op": "add_default", "col": c, "value": v, "typ": t}
            for c, v, t in defaults
        ]
        ops += [
            {"op": "set_nullable", "col": c, "nullable": bool(n)}
            for c, n in nullability
        ]
        manifest = dict(self._manifest(table, meta["version"]))
        log = list(manifest.get("ddl_log", []))
        if log[-len(ops):] == ops:
            # replayed delivery of the DDL batch (restart between the sink
            # commit and the checkpoint/registry commit)
            self.keys = [ren_map.get(k, k) for k in self.keys]
            return
        manifest["ddl_log"] = log + ops
        manifest.setdefault("vdir_epoch", {})
        nv = meta["version"] + 1
        write_json_atomic(self._mpath(table, nv), manifest)
        self._point(table, nv, meta.get("batch_id"))
        self.keys = [ren_map.get(k, k) for k in self.keys]

    # -- Sink ------------------------------------------------------------------
    def write_changes(self, table: str, df: DataFrame, batch_id: int) -> None:
        """Merge one batch into ONLY its touched key buckets and commit a
        manifest + VERSION swap (see module docstring)."""
        meta = self._current_meta(table)
        if meta["version"] < 0:
            raise RuntimeError(f"no snapshot for {table}; run write_snapshot first")
        if meta.get("batch_id") == batch_id:
            # replayed delivery of the already-applied batch (restart between
            # sink write and checkpoint commit): the merge would converge
            # anyway — this is the applied-batches fast path
            # (ducklake/core.rs:74-80)
            return
        df = self._canonicalize_keys(table, df)
        n = self._manifest(table, meta["version"])["n_buckets"]
        touched = self._touched_buckets(df, n)
        if not touched:
            self._point(table, meta["version"], batch_id)
            return
        stored = self._read_buckets(table, touched)
        if stored is None:
            # brand-new buckets: still merge against the stored SCHEMA so
            # the union coerces batch columns to the table's types
            stored = self._schema_frame_cached(table)
        self._commit(table, self._merge(stored, df), touched, batch_id)

    def truncate(self, table: str) -> None:
        if self._current_version(table) < 0:
            return  # nothing to drop (fresh table pre-copy)
        cur = self._read_buckets(table)
        self._commit(table, cur.limit(0), touched=None, batch_id=None)

    def read(self, table: str) -> DataFrame:
        if self._current_version(table) < 0:
            raise RuntimeError(f"no data for {table}")
        return self._read_buckets(table)

    def compact(self, table: str) -> None:
        """Full rewrite into a single fresh version (the OPTIMIZE analog):
        folds a long manifest chain so reads touch one version dir again.
        Run with :func:`etl_spark.maintenance.expire_versions` to reclaim
        the superseded dirs."""
        self._commit(table, self._read_buckets(table), touched=None, batch_id=None)

    def rebucket(self, table: str, new_n_buckets: int) -> None:
        """Online bucket-count migration (the CLUSTER BY / bucket-evolution
        analog): rewrite the table hashed into ``new_n_buckets`` and pin
        the new count in the manifest, one atomic VERSION swap. Needed
        when a table outgrows its creation-time count — the design target
        is a few GB per bucket, so a table that grew 100× wants 100× the
        buckets or every touched-bucket write rewrites GBs. Readers are
        snapshot-isolated through the swap; incremental writes pick the
        new count up from the manifest on their next batch. Like
        ``compact``, run it from the maintenance seam, not concurrently
        with a running pipeline drain."""
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        self.n_buckets = new_n_buckets  # seeds fresh tables too
        meta = self._current_meta(table)
        if meta["version"] < 0:
            return  # nothing stored yet; first write uses the new count
        if self._manifest(table, meta["version"])["n_buckets"] == new_n_buckets:
            return  # idempotent replay
        cur = self._read_buckets(table)
        if cur is None:
            cur = self._schema_frame(table)
        self._commit(
            table, cur, touched=None, batch_id=None, n_buckets=new_n_buckets
        )

    def rollback_to(self, table: str, version: int) -> int:
        """Re-point the table at a PRIOR committed version — the write
        side of :meth:`read_version` (the reference's rollback-tables
        verb re-syncs destinations; here the VERSION-swap design makes
        rollback a metadata-only commit). The old manifest is re-committed
        AS A NEW version (no pointer rewind), so version numbers stay
        linear, concurrent readers never see time move backwards, and
        expiry retention keeps working. Raises FileNotFoundError when the
        target manifest has been expired. Returns the new version."""
        meta = self._current_meta(table)
        manifest = self._manifest(table, version)  # expired → FileNotFoundError
        nv = meta["version"] + 1
        write_json_atomic(self._mpath(table, nv), manifest)
        self._point(table, nv, None)
        return nv

    def live_dirs(self, table: str) -> set[str]:
        """Version-dir names referenced by the CURRENT manifest (for
        manifest-aware version expiry)."""
        manifest = self._manifest(table, self._current_version(table))
        live = {vd for vd in manifest["buckets"].values()}
        if manifest.get("empty"):
            live.add(manifest["empty"].split("/", 1)[0])
        return live


class ParquetCurrentStateSink(_BucketedVersionedTable, Sink):
    """Current-state (LWW) table with bucket-manifest incremental writes.

    Each ``write_changes`` merges the batch into ONLY its touched key
    buckets via :func:`etl_spark.operators.materialize.merge_current_state`
    and commits a manifest + VERSION swap (see module docstring). Readers
    resolve ``VERSION`` first → snapshot isolation without a table format;
    replays of the same batch converge to the same content (LWW by
    event_seq). Work per batch: O(batch + touched-bucket data), never
    O(table) — the reference's apply-changes-only destination property
    (bigquery/core.rs:1409-1478, ducklake/core.rs:1133-1216).
    """

    def write_snapshot(self, table: str, df: DataFrame, snapshot_lsn: int = 0) -> None:
        self._commit(
            table, _stamp_snapshot(df, snapshot_lsn), touched=None, batch_id=None
        )

    def _merge(self, stored: DataFrame | None, df: DataFrame) -> DataFrame:
        if stored is None:
            return materialize.current_state(df, self.keys)
        return materialize.merge_current_state(stored, df, self.keys)


class MemorySink(Sink):
    """Test sink: accumulates rows driver-side (NotifyingStore-style test
    double, test_utils/test_destination_wrapper.rs)."""

    def __init__(self):
        self.snapshots: dict[str, list] = {}
        self.batches: list[tuple[str, int, list]] = []
        self.truncated: list[str] = []

    def write_snapshot(self, table: str, df: DataFrame) -> None:
        self.snapshots[table] = df.collect()

    def write_changes(self, table: str, df: DataFrame, batch_id: int) -> None:
        self.batches.append((table, batch_id, df.collect()))

    def truncate(self, table: str) -> None:
        self.truncated.append(table)

    def apply_schema_change(self, table, renames=None, drops=None,
                            defaults=None, nullability=None) -> None:
        self.ddl = getattr(self, "ddl", [])
        self.ddl.append(
            (table, list(renames or []), list(drops or []), list(defaults or []))
        )
        if nullability:
            self.nullability = getattr(self, "nullability", [])
            self.nullability.append((table, list(nullability)))


class TableRoutingSink(Sink):
    """Route each table to its own inner sink (per-table replica-identity
    keys). The reference keeps per-table destination state the same way —
    one schema/key mapping per table inside one destination
    (bigquery/core.rs table-id routing). Tables absent from the map fall
    back to ``default`` (or raise)."""

    def __init__(self, sinks: dict[str, Sink], default: Sink | None = None):
        self.sinks = sinks
        self.default = default

    def _route(self, table: str) -> Sink:
        s = self.sinks.get(table, self.default)
        if s is None:
            raise KeyError(f"no sink registered for table {table!r}")
        return s

    def write_snapshot(self, table: str, df: DataFrame) -> None:
        self._route(table).write_snapshot(table, df)

    def write_changes(self, table: str, df: DataFrame, batch_id: int) -> None:
        self._route(table).write_changes(table, df, batch_id)

    def truncate(self, table: str) -> None:
        self._route(table).truncate(table)

    def apply_schema_change(self, table, renames=None, drops=None,
                            defaults=None, nullability=None) -> None:
        self._route(table).apply_schema_change(
            table, renames, drops, defaults, nullability
        )

    def reconcile_keys(self, table: str, keys) -> None:
        self._route(table).reconcile_keys(table, keys)

    def read(self, table: str) -> DataFrame:
        return self._route(table).read(table)


class ParquetScd2Sink(_BucketedVersionedTable, Sink):
    """Versioned-dimension (SCD type-2) destination: one row per key
    VERSION with ``valid_from`` / ``valid_to`` / ``is_current``,
    maintained INCREMENTALLY per micro-batch — the warehouse shape
    :func:`etl_spark.workload.cdc_scd2_history` computes as a batch
    query, kept continuously up to date by the stream (beyond-reference
    destination semantics: the reference emits the changelog; versioned
    assembly is left to the warehouse).

    Semantics (identical to the batch query): every INSERT/UPDATE opens a
    version at its commit LSN; the key's next event — update OR delete —
    closes it; DELETE rows emit no version but persist internally as
    TOMBSTONES so later batches and replays keep closure correct.

    Incremental merge per batch: the batch's touched key-buckets are read
    (manifest-pruned — untouched buckets are never read OR rewritten, see
    module docstring), the touched keys' stored EVENT history is unioned
    with the batch, duplicate (key, event_seq) rows dropped — the replay/
    idempotence guard — and validity bounds recomputed with the same
    per-key lead window over the total event order. All versions of a key
    share a bucket, so the window never spans buckets. Work per batch —
    compute AND write — is O(batch + touched-bucket data).

    Same manifest + VERSION swap and applied-batch fast path as
    :class:`ParquetCurrentStateSink`.
    """

    def _derive(self, events: DataFrame, dedup: bool = False) -> DataFrame:
        """Validity bounds from raw events (the cdc_scd2_history window).

        ``dedup=True`` additionally drops duplicate (key, event_seq) rows —
        the replay/idempotence guard of the merge — INSIDE the same window
        pass: a lag over the identical (keys, event_seq) window spec marks
        repeats, so the filter rides the one existing Exchange+Sort instead
        of the separate ``dropDuplicates`` exchange on (keys, event_seq)
        the merge used to pay first (guide §2.4: two ops keyed the same way
        share one exchange). Duplicate rows are the same event delivered
        twice, so which physical copy survives is immaterial."""
        from pyspark.sql import Window

        w = Window.partitionBy(*self.keys).orderBy("event_seq")
        if dedup:
            events = (
                events.withColumn("__prev_seq", F.lag("event_seq").over(w))
                .filter(
                    F.col("__prev_seq").isNull()
                    | (F.col("__prev_seq") != F.col("event_seq"))
                )
                .drop("__prev_seq")
            )
        return (
            events.withColumn("valid_to", F.lead("commit_lsn").over(w))
            .withColumn(
                "is_current",
                F.col("valid_to").isNull() & (F.col("op") != "DELETE"),
            )
        )

    def write_snapshot(self, table: str, df: DataFrame, snapshot_lsn: int = 0) -> None:
        self._commit(
            table,
            self._derive(_stamp_snapshot(df, snapshot_lsn)),
            touched=None,
            batch_id=None,
        )

    def _merge(self, stored: DataFrame | None, df: DataFrame) -> DataFrame:
        events = df
        if stored is not None:
            event_cols = [
                c for c in stored.columns if c not in ("valid_to", "is_current")
            ]
            events = stored.select(*event_cols).unionByName(df.select(
                *[c if c in df.columns else F.lit(None).alias(c) for c in event_cols]
            ))
        return self._derive(events, dedup=True)

    def read(self, table: str) -> DataFrame:
        """The SCD2 surface: version rows only (tombstones are internal
        closure bookkeeping, not versions)."""
        return (
            super().read(table)
            .filter(F.col("op") != "DELETE")
            .withColumnRenamed("commit_lsn", "valid_from")
        )
