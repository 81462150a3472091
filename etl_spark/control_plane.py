"""Control-plane verbs over pipelines (SURVEY §2.12).

The reference exposes its pipeline lifecycle as an HTTP API
(`crates/etl-api/src/routes/pipelines.rs`: create / read / update /
delete / read_all / validate / start / stop / stop-all / restart /
version get+update / status / replication-status / rollback-tables).
This module is the library-level equivalent: a durable
:class:`PipelineRegistry` holding declarative pipeline configs, with the
same verb set operating on them. No HTTP framework — the verbs are the
contract; any REST shim is a thin wrapper.

Config is DECLARATIVE (JSON-serializable) so the registry can persist
and rebuild runtime pipelines: the sink is named by kind + parameters
(the reference stores destination configs the same way), tables carry
key/schema/filter specs. ``start`` materializes a
:class:`~etl_spark.streaming.pipeline.Pipeline` from the config; the
registry tracks the live instance for stop/status.

Guards mirror the reference:
- ``create`` enforces ``max_pipelines`` (MAX_PIPELINES_PER_TENANT,
  pipelines.rs:702) and validates the config;
- ``update``/``delete`` refuse while the pipeline runs (the reference
  checks ``is_replicator_active``);
- ``delete`` removes the durable work state too (the analog of deleting
  API state + source state + replication slots, pipelines.rs:922-931);
- ``rollback_tables`` maps to the pipeline's retry/resync verbs with an
  explicit target, like RollbackTablesTarget (pipelines.rs:554-565).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession

from etl_spark.state import write_json_atomic

#: reference MAX_PIPELINES_PER_TENANT default
MAX_PIPELINES = 10


class ControlPlaneError(Exception):
    pass


class PipelineNotFound(ControlPlaneError):
    pass


class PipelineActive(ControlPlaneError):
    pass


class InvalidConfig(ControlPlaneError):
    pass


def validate_config(config: dict) -> list[str]:
    """Static validation (POST /pipelines/validate): returns problem list
    (empty = valid). Checks the invariants the runtime would trip over."""
    problems = []
    if not config.get("source_dir"):
        problems.append("source_dir is required")
    tables = config.get("tables") or []
    if not tables:
        problems.append("at least one table is required")
    for t in tables:
        name = t.get("name") or "<unnamed>"
        if not t.get("name"):
            problems.append("table without a name")
        keys = t.get("keys") or []
        if not keys:
            problems.append(f"{name}: keys (replica identity) required")
        schema = t.get("payload_schema")
        if schema:
            cols = [f.strip().split()[0] for f in schema.split(",") if f.strip()]
            for k in keys:
                if k not in cols:
                    problems.append(f"{name}: key {k!r} missing from payload_schema")
    sink = config.get("sink") or {}
    kinds = ("parquet_current_state", "parquet_scd2", "parquet_changelog", "memory")
    if sink.get("kind") not in kinds:
        problems.append(f"unknown sink kind: {sink.get('kind')!r}")
    if sink.get("kind", "").startswith("parquet_") and not sink.get("root"):
        problems.append(f"{sink.get('kind')} sink requires root")
    return problems


def _build_sink(spec: dict, tables: list[dict], spark: SparkSession):
    """Materialize the declarative sink spec. Keyed sinks (current-state,
    SCD2) are built PER TABLE with that table's replica-identity keys —
    a multi-table pipeline whose tables declare different keys must never
    merge a non-first table on the first table's keys (the reference keeps
    one key mapping per table inside one destination)."""
    from etl_spark.streaming.sinks import (
        MemorySink,
        ParquetChangelogSink,
        ParquetCurrentStateSink,
        ParquetScd2Sink,
        TableRoutingSink,
    )

    if spec["kind"] == "memory":
        return MemorySink()
    if spec["kind"] == "parquet_changelog":
        return ParquetChangelogSink(spec["root"])
    cls = ParquetScd2Sink if spec["kind"] == "parquet_scd2" else ParquetCurrentStateSink
    per_table = {
        t["name"]: cls(
            spec["root"], keys=t["keys"], spark=spark,
            n_buckets=spec.get("n_buckets"),
        )
        for t in tables
    }
    if len(per_table) == 1:
        return next(iter(per_table.values()))
    return TableRoutingSink(per_table)


class ResourceNotFound(ControlPlaneError):
    pass


class ResourceInUse(ControlPlaneError):
    """Source/destination referenced by a pipeline, or tenant with
    pipelines — CONFLICT in the reference (sources.rs:68,436,
    destinations.rs:73,393)."""


class PipelineRegistry:
    """Durable multi-pipeline registry + lifecycle verbs.

    Also carries the reference API's RESOURCE routes at library level
    (tenants.rs / sources.rs / destinations.rs): tenants are named
    scopes (per-tenant pipeline cap = MAX_PIPELINES_PER_TENANT), sources
    and destinations are named declarative configs a pipeline may
    reference by id (``source_id`` / ``destination_id``) instead of
    inlining ``source_dir`` / ``sink`` — resolution happens at
    validate/start, so updating a source re-points every referencing
    pipeline on its next start, exactly like the reference's
    stored-config model. k8s/image routes stay out of scope (no
    orchestrator in a library engine)."""

    def __init__(self, root: str, max_pipelines: int = MAX_PIPELINES):
        self.root = root
        self.max_pipelines = max_pipelines
        os.makedirs(root, exist_ok=True)
        self._configs: dict[int, dict] = {}
        self._live: dict[int, object] = {}  # id → running Pipeline
        self._next_id = 1
        self._tenants: dict[str, dict] = {}
        self._sources: dict[int, dict] = {}
        self._destinations: dict[int, dict] = {}
        self._next_resource_id = 1
        self._load()

    # -- persistence --------------------------------------------------------
    @property
    def _path(self) -> str:
        return os.path.join(self.root, "pipelines.json")

    def _load(self) -> None:
        try:
            with open(self._path) as f:
                raw = json.load(f)
            self._configs = {int(k): v for k, v in raw["pipelines"].items()}
            self._next_id = raw.get("next_id", max(self._configs, default=0) + 1)
            self._tenants = raw.get("tenants", {})
            self._sources = {int(k): v for k, v in raw.get("sources", {}).items()}
            self._destinations = {
                int(k): v for k, v in raw.get("destinations", {}).items()
            }
            self._next_resource_id = raw.get(
                "next_resource_id",
                max([*self._sources, *self._destinations], default=0) + 1,
            )
        except FileNotFoundError:
            pass

    def _save(self) -> None:
        write_json_atomic(self._path, {
            "pipelines": {str(k): v for k, v in self._configs.items()},
            "next_id": self._next_id,
            "tenants": self._tenants,
            "sources": {str(k): v for k, v in self._sources.items()},
            "destinations": {str(k): v for k, v in self._destinations.items()},
            "next_resource_id": self._next_resource_id,
        })

    # -- tenants (tenants.rs: caller-supplied id + display name) -------------
    def create_tenant(self, tenant_id: str, name: str) -> str:
        if tenant_id in self._tenants:
            raise ControlPlaneError(f"tenant {tenant_id!r} already exists")
        self._tenants[tenant_id] = {"name": name}
        self._save()
        return tenant_id

    def read_tenant(self, tenant_id: str) -> dict:
        if tenant_id not in self._tenants:
            raise ResourceNotFound(f"tenant {tenant_id}")
        return {"id": tenant_id, **self._tenants[tenant_id]}

    def read_all_tenants(self) -> list[dict]:
        return [self.read_tenant(t) for t in sorted(self._tenants)]

    def update_tenant(self, tenant_id: str, name: str) -> None:
        if tenant_id not in self._tenants:
            raise ResourceNotFound(f"tenant {tenant_id}")
        self._tenants[tenant_id]["name"] = name
        self._save()

    def delete_tenant(self, tenant_id: str) -> None:
        if tenant_id not in self._tenants:
            raise ResourceNotFound(f"tenant {tenant_id}")
        owned = [p for p, e in self._configs.items()
                 if e["config"].get("tenant_id") == tenant_id]
        if owned:
            raise ResourceInUse(f"tenant {tenant_id} owns pipelines {owned}")
        del self._tenants[tenant_id]
        self._save()

    # -- sources / destinations (sources.rs:123-129, destinations.rs:133-139:
    # -- {name, config}; delete guarded by referencing pipelines) ------------
    def _create_resource(self, store: dict, name: str, config: dict) -> int:
        rid = self._next_resource_id
        self._next_resource_id += 1
        store[rid] = {"name": name, "config": config}
        self._save()
        return rid

    def _read_resource(self, store: dict, kind: str, rid: int) -> dict:
        if rid not in store:
            raise ResourceNotFound(f"{kind} {rid}")
        return {"id": rid, **store[rid]}

    def _referencing(self, key: str, rid: int) -> list[int]:
        return [p for p, e in self._configs.items() if e["config"].get(key) == rid]

    def _delete_resource(self, store: dict, kind: str, key: str, rid: int) -> None:
        if rid not in store:
            raise ResourceNotFound(f"{kind} {rid}")
        refs = self._referencing(key, rid)
        active = [p for p in refs if p in self._live]
        if active:
            raise PipelineActive(f"{kind} {rid} used by running pipelines {active}")
        if refs:
            # the reference cascades only with explicit pipeline deletion;
            # a referenced resource is a CONFLICT (sources.rs:436)
            raise ResourceInUse(f"{kind} {rid} referenced by pipelines {refs}")
        del store[rid]
        self._save()

    def create_source(self, name: str, config: dict) -> int:
        if not config.get("source_dir"):
            raise InvalidConfig("source config requires source_dir")
        return self._create_resource(self._sources, name, config)

    def read_source(self, source_id: int) -> dict:
        return self._read_resource(self._sources, "source", source_id)

    def read_all_sources(self) -> list[dict]:
        return [self.read_source(r) for r in sorted(self._sources)]

    def update_source(self, source_id: int, name: str, config: dict) -> None:
        if source_id not in self._sources:
            raise ResourceNotFound(f"source {source_id}")
        if not config.get("source_dir"):
            raise InvalidConfig("source config requires source_dir")
        self._sources[source_id] = {"name": name, "config": config}
        self._save()

    def delete_source(self, source_id: int) -> None:
        self._delete_resource(self._sources, "source", "source_id", source_id)

    def create_destination(self, name: str, config: dict) -> int:
        probe = {"source_dir": "/x", "tables": [{"name": "t", "keys": ["k"]}],
                 "sink": config}
        sink_problems = [p for p in validate_config(probe) if "sink" in p]
        if sink_problems:
            raise InvalidConfig("; ".join(sink_problems))
        return self._create_resource(self._destinations, name, config)

    def read_destination(self, destination_id: int) -> dict:
        return self._read_resource(self._destinations, "destination", destination_id)

    def read_all_destinations(self) -> list[dict]:
        return [self.read_destination(r) for r in sorted(self._destinations)]

    def update_destination(self, destination_id: int, name: str, config: dict) -> None:
        if destination_id not in self._destinations:
            raise ResourceNotFound(f"destination {destination_id}")
        self._destinations[destination_id] = {"name": name, "config": config}
        self._save()

    def delete_destination(self, destination_id: int) -> None:
        self._delete_resource(
            self._destinations, "destination", "destination_id", destination_id
        )

    # -- reference resolution -------------------------------------------------
    def resolve_config(self, config: dict) -> dict:
        """Inline any ``source_id`` / ``destination_id`` references —
        the stored-config → deployed-config step the reference performs
        when it builds a replicator deployment from resource rows."""
        out = dict(config)
        sid = out.pop("source_id", None)
        if sid is not None:
            src = self.read_source(sid)["config"]
            out.setdefault("source_dir", src["source_dir"])
            if "source_fmt" in src:
                out.setdefault("source_fmt", src["source_fmt"])
        did = out.pop("destination_id", None)
        if did is not None:
            out.setdefault("sink", self.read_destination(did)["config"])
        tid = out.get("tenant_id")
        if tid is not None and tid not in self._tenants:
            raise ResourceNotFound(f"tenant {tid}")
        return out

    def _work_dir(self, pipeline_id: int) -> str:
        return os.path.join(self.root, f"pipeline_{pipeline_id}")

    # -- CRUD (POST/GET/POST/DELETE /pipelines[/{id}]) ----------------------
    def create_pipeline(self, config: dict) -> int:
        # cap is PER TENANT (MAX_PIPELINES_PER_TENANT, pipelines.rs:702);
        # pipelines without a tenant share the default scope
        tid = config.get("tenant_id")
        scope = [p for p, e in self._configs.items()
                 if e["config"].get("tenant_id") == tid]
        if len(scope) >= self.max_pipelines:
            raise ControlPlaneError(
                f"max pipelines reached ({self.max_pipelines})")
        problems = validate_config(self.resolve_config(config))
        if problems:
            raise InvalidConfig("; ".join(problems))
        pid = self._next_id
        self._next_id += 1
        self._configs[pid] = {"config": config, "version": 1}
        self._save()
        return pid

    def read_pipeline(self, pipeline_id: int) -> dict:
        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        entry = self._configs[pipeline_id]
        return {"id": pipeline_id, "version": entry["version"],
                "active": pipeline_id in self._live, **entry["config"]}

    def read_all_pipelines(self) -> list[dict]:
        return [self.read_pipeline(pid) for pid in sorted(self._configs)]

    def update_pipeline(self, pipeline_id: int, config: dict) -> int:
        """Replace the config; bumps the version. Refused while active
        (the reference checks is_replicator_active before updates)."""
        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        if pipeline_id in self._live:
            raise PipelineActive("stop the pipeline before updating it")
        problems = validate_config(self.resolve_config(config))
        if problems:
            raise InvalidConfig("; ".join(problems))
        entry = self._configs[pipeline_id]
        entry["config"] = config
        entry["version"] += 1
        self._save()
        return entry["version"]

    def delete_pipeline(self, pipeline_id: int) -> None:
        """Remove config AND durable work state (the analog of deleting
        API state + source state + replication slots,
        pipelines.rs:922-931)."""
        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        if pipeline_id in self._live:
            raise PipelineActive("stop the pipeline before deleting it")
        del self._configs[pipeline_id]
        shutil.rmtree(self._work_dir(pipeline_id), ignore_errors=True)
        self._save()

    # -- version (GET/POST /pipelines/{id}/version) -------------------------
    def get_version(self, pipeline_id: int) -> int:
        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        return self._configs[pipeline_id]["version"]

    # -- lifecycle ----------------------------------------------------------
    def _materialize(self, pipeline_id: int, spark: SparkSession):
        from etl_spark.streaming.pipeline import Pipeline, TableConfig

        cfg = self.resolve_config(self._configs[pipeline_id]["config"])
        tables = [
            TableConfig(
                name=t["name"], snapshot_path=t.get("snapshot_path"),
                keys=t["keys"], payload_schema=t.get("payload_schema"),
                row_filter=t.get("row_filter"),
            )
            for t in cfg["tables"]
        ]
        sink = _build_sink(cfg["sink"], cfg["tables"], spark)
        return Pipeline(
            spark, cfg["source_dir"], tables, sink,
            self._work_dir(pipeline_id),
            source_fmt=cfg.get("source_fmt", "envelope"),
        )

    def start_pipeline(self, pipeline_id: int, spark: SparkSession,
                       available_now: bool = True):
        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        if pipeline_id in self._live:
            raise PipelineActive("already running")
        p = self._materialize(pipeline_id, spark)
        self._live[pipeline_id] = p
        if available_now:
            # sim semantics: drain what exists, then the pipeline is idle
            # but stays registered as live until stop_pipeline
            p.run_until_drained()
        else:
            p.start(available_now=False)
        return p

    def stop_pipeline(self, pipeline_id: int) -> None:
        p = self._live.pop(pipeline_id, None)
        if p is None:
            raise PipelineNotFound(f"{pipeline_id} not running")
        p.stop()

    def stop_all_pipelines(self) -> list[int]:
        """POST /pipelines/stop — stop every running pipeline."""
        stopped = []
        for pid in list(self._live):
            self.stop_pipeline(pid)
            stopped.append(pid)
        return stopped

    def restart_pipeline(self, pipeline_id: int, spark: SparkSession):
        if pipeline_id in self._live:
            self.stop_pipeline(pipeline_id)
        return self.start_pipeline(pipeline_id, spark)

    # -- observability ------------------------------------------------------
    def pipeline_status(self, pipeline_id: int) -> dict:
        p = self._live.get(pipeline_id)
        if p is not None:
            return p.status()
        # not running: report durable state from the work dir
        from etl_spark.state import ControlStore

        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        store = ControlStore(os.path.join(self._work_dir(pipeline_id), "control"))
        return {
            "flush_lsn": store.flush_lsn,
            "tables": {t: e.state.value for t, e in store.tables.items()},
            "active": False,
        }

    def replication_status(self, pipeline_id: int) -> dict:
        p = self._live.get(pipeline_id)
        if p is None:
            raise PipelineNotFound(f"{pipeline_id} not running")
        return p.replication_status()

    def run_maintenance(self, pipeline_id: int, spark: SparkSession,
                        keep_versions: int = 2,
                        rebucket_to: int | None = None) -> dict:
        """External maintenance verb (the reference runs compaction +
        snapshot expiry as a scheduled job against DuckLake destinations,
        ducklake/external_maintenance.rs): for every table of the
        pipeline's PARQUET STATE destination, fold the bucket-manifest
        chain into one fresh version (``sink.compact``) and expire
        version dirs no retained manifest references. Refused while the
        pipeline runs (maintenance is external by design — it must never
        race a live micro-batch's commit). ``rebucket_to`` migrates every
        table to that bucket count instead of compacting (the
        bucket-evolution path for a table that outgrew its creation-time
        count; itself a full-rewrite compaction). Returns per-table
        ``{compacted: bool, removed_dirs: [..]}``."""
        from etl_spark.maintenance import expire_versions
        from etl_spark.streaming.sinks import _BucketedVersionedTable

        if pipeline_id in self._live:
            raise PipelineActive("stop the pipeline before maintenance")
        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        cfg = self.resolve_config(self._configs[pipeline_id]["config"])
        sink_spec = cfg["sink"]
        report: dict[str, dict] = {}
        if not sink_spec.get("kind", "").startswith("parquet_"):
            return report  # memory sink: nothing durable to maintain
        if sink_spec["kind"] == "parquet_changelog":
            from etl_spark.streaming.sinks import ParquetChangelogSink

            sink = ParquetChangelogSink(sink_spec["root"])
            for t in cfg["tables"]:
                tdir = os.path.join(sink_spec["root"], t["name"])
                if not os.path.isdir(tdir):
                    report[t["name"]] = {"compacted": False, "folded_batches": []}
                    continue
                folded = sink.compact(t["name"])
                report[t["name"]] = {"compacted": bool(folded),
                                     "folded_batches": folded}
            return report
        root = sink_spec["root"]
        for t in cfg["tables"]:
            name = t["name"]
            tdir = os.path.join(root, name)
            if not os.path.exists(os.path.join(tdir, "VERSION")):
                report[name] = {"compacted": False, "removed_dirs": []}
                continue
            cls_kind = sink_spec["kind"]
            from etl_spark.streaming.sinks import (
                ParquetCurrentStateSink,
                ParquetScd2Sink,
            )

            cls = ParquetScd2Sink if cls_kind == "parquet_scd2" else ParquetCurrentStateSink
            sink: _BucketedVersionedTable = cls(root, keys=t["keys"], spark=spark)
            # the stored config's key names predate any mid-stream key
            # RENAME; replay the manifest ddl_log so rebucket/compact
            # hash the CURRENT key column
            sink.sync_keys(name)
            if rebucket_to is not None:
                sink.rebucket(name, rebucket_to)
            else:
                sink.compact(name)
            removed = expire_versions(tdir, keep=keep_versions)
            report[name] = {"compacted": True, "removed_dirs": removed}
            if rebucket_to is not None:
                report[name]["n_buckets"] = rebucket_to
        return report

    def rollback_tables(self, pipeline_id: int, target: str = "errored",
                        force: bool = True) -> list[str]:
        """POST /pipelines/{id}/rollback-tables with an explicit target
        (RollbackTablesTarget, pipelines.rs:554-565): 'errored' resets
        quarantined tables for retry; 'all' re-syncs everything."""
        p = self._live.get(pipeline_id)
        if p is None:
            raise PipelineNotFound(f"{pipeline_id} not running")
        if target == "errored":
            return p.retry_errored(force=force)
        if target == "all":
            return p.resync_errored(force=force)
        raise InvalidConfig(f"unknown rollback target {target!r}")

    def rollback_destination(self, pipeline_id: int, spark: SparkSession,
                             table: str, version: int) -> int:
        """Re-point a stopped pipeline's PARQUET STATE destination table at
        a prior committed version (composes the sinks' time-travel reads
        with the rollback verb — the reference's rollback re-syncs the
        destination; the VERSION-swap layout makes it a metadata-only
        commit via :meth:`_BucketedVersionedTable.rollback_to`). The old
        manifest is re-committed as a NEW version, so readers never see
        version numbers move backwards. Refused while the pipeline runs;
        the next start's micro-batches merge on top of the rolled-back
        state (pair with ``rollback_tables`` when the source position
        must rewind too). Returns the new version number."""
        from etl_spark.streaming.sinks import (
            ParquetCurrentStateSink,
            ParquetScd2Sink,
        )

        if pipeline_id in self._live:
            raise PipelineActive("stop the pipeline before a destination rollback")
        if pipeline_id not in self._configs:
            raise PipelineNotFound(str(pipeline_id))
        cfg = self.resolve_config(self._configs[pipeline_id]["config"])
        sink_spec = cfg["sink"]
        if sink_spec.get("kind") not in (
            "parquet_state", "parquet_current_state", "parquet_scd2"
        ):
            raise InvalidConfig(
                f"destination rollback needs a versioned parquet sink, "
                f"got {sink_spec.get('kind')!r}"
            )
        tcfg = next((t for t in cfg["tables"] if t["name"] == table), None)
        if tcfg is None:
            raise InvalidConfig(f"table {table!r} not in pipeline {pipeline_id}")
        cls = (
            ParquetScd2Sink
            if sink_spec["kind"] == "parquet_scd2"
            else ParquetCurrentStateSink
        )
        sink = cls(sink_spec["root"], keys=tcfg["keys"], spark=spark)
        sink.sync_keys(table)
        try:
            return sink.rollback_to(table, version)
        except FileNotFoundError as exc:
            raise InvalidConfig(
                f"version {version} of {table!r} is expired or never existed"
            ) from exc
