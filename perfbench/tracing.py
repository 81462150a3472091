"""Traced run: spans and counters recorded from outside the engine.

Nothing in the engine is edited. Layers are timed by wrapping the calls
into their public functions:

- module attributes the engine imports at call time —
  ``pgoutput.collect_wire_stats`` / ``decode_frames`` (imported inside
  ``Pipeline._apply_batch``) and ``snapshot.snapshot_via_copy[_parallel]``
  (imported inside ``Replicator.initial_sync``) — are replaced for the
  duration of the traced window;
- sink, ``ControlStore``, ``SchemaRegistry``, pump, pipeline and source
  methods are wrapped per instance;
- micro-batch durations come from a Python ``StreamingQueryListener``;
- Spark job/task counts from the scheduler and ``statusTracker()``, GC
  time from the JVM's GC MXBeans, Python UDF self time from the
  ``spark.sql.pyspark.udf.profiler`` results.

Spans (name, start, end, parent, micro-batch id) and counters stay in
memory and are written to ``.perfbench/traces/`` when the window ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: sink classes whose calls are reported by class name
SINK_CLASSES = ("ParquetCurrentStateSink", "ParquetChangelogSink",
                "DuckDBCurrentStateSink")
SINK_METHODS = ("write_changes", "write_snapshot", "truncate",
                "apply_schema_change")

#: every per-layer metric the traced run emits, with its unit
PER_LAYER = {
    "socket_transport.poll_s": "s", "socket_transport.bytes": "bytes",
    "live.drain_once_s": "s", "live.drains": "count",
    "live.frames_per_drain": "count",
    "pipeline.run_until_drained_s": "s", "pipeline.backfill_s": "s",
    "pipeline.query_start_s": "s", "pipeline.add_batch_s": "s",
    "pipeline.trigger_overhead_s": "s", "pipeline.micro_batches": "count",
    "pipeline.spark_jobs_per_drain": "count", "pipeline.wait_s": "s",
    "pgoutput.wire_stats_s": "s", "pgoutput.decode_plan_s": "s",
    "pgoutput.python_udf_s": "s",
    **{f"sink.{c}.{m}_s": "s" for c in SINK_CLASSES for m in SINK_METHODS},
    "sink.bytes_written": "bytes", "sink.rows_written_per_event": "ratio",
    "snapshot.copy_s": "s", "snapshot.rows": "count",
    "state.advance_flush_lsn_calls": "count", "state.transition_calls": "count",
    "schema_registry.record_calls": "count", "schema_registry.record_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "jvm.gc_s": "s",
    "trace.spans": "count", "trace.self_s": "s",
}


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = dict(p.durationMs)
        self.tracer.batches.append({
            "batch": p.batchId, "rows": p.numInputRows,
            "add_batch_ms": d.get("addBatch", 0),
            "trigger_ms": d.get("triggerExecution", 0),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.batches: list[dict] = []
        self.drains: list[dict] = []
        self.self_s = 0.0
        self.active = False
        self._local = threading.local()
        self._drain_span: int | None = None
        self._restore: list = []
        self._engines: list = []
        self.listener = _Listener(self)

    # -- window -----------------------------------------------------------
    def begin(self) -> None:
        """Start recording: install module patches, the listener and the
        UDF profiler; snapshot the JVM counters."""
        from etl_spark.sources import pgoutput, snapshot

        self.active = True
        for mod, attr, name in (
            (pgoutput, "collect_wire_stats", "pgoutput.wire_stats"),
            (pgoutput, "decode_frames", "pgoutput.decode_plan"),
            (snapshot, "snapshot_via_copy", "snapshot.copy"),
            (snapshot, "snapshot_via_copy_parallel", "snapshot.copy"),
        ):
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, name))
            self._restore.append((mod, attr, orig))
        self.spark.streams.addListener(self.listener)
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.jobs0 = self._total_jobs()
        self.gc0 = self._gc_ms()

    def end(self) -> None:
        """Stop recording and read the JVM-side counters."""
        self.active = False
        for mod, attr, orig in self._restore:
            setattr(mod, attr, orig)
        self.spark.streams.removeListener(self.listener)
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        jobs1 = self._total_jobs()
        self.counters["spark.jobs"] = jobs1 - self.jobs0
        self.counters["spark.tasks"] = self._tasks(self.jobs0, jobs1)
        self.counters["jvm.gc_s"] = (self._gc_ms() - self.gc0) / 1000.0
        self.counters["pgoutput.python_udf_s"] = self._udf_self_s()

    # -- JVM-side counters ------------------------------------------------
    def _total_jobs(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())

    def _tasks(self, lo: int, hi: int) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for j in range(lo, hi):
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                s = st.getStageInfo(sid)
                n += s.numTasks if s else 0
        return n

    def _gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def _udf_self_s(self) -> float:
        """Self time of the Python UDFs whose profile contains the
        pgoutput frame decoder."""
        results = self.spark._profiler_collector._perf_profile_results
        total = 0.0
        for st in results.values():
            if any(f[0].endswith("pgoutput.py") for f in st.stats):
                total += sum(v[2] for v in st.stats.values())
        return total

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def _wrap(self, fn, name: str, after=None):
        """``fn`` timed as span ``name``; ``after(result, span)`` may add
        counters from the call's result."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            a = time.perf_counter()
            stack = tracer._stack()
            parent = stack[-1] if stack else tracer._drain_span
            span = {"name": name, "parent": parent,
                    "batch": getattr(tracer._local, "batch", None)}
            span_id = len(tracer.spans)
            tracer.spans.append(span)
            stack.append(span_id)
            b = time.perf_counter()
            span["start"] = time.monotonic()
            try:
                res = fn(*args, **kwargs)
            finally:
                span["end"] = time.monotonic()
                c = time.perf_counter()
                stack.pop()
            if after is not None:
                after(res, span)
            tracer.self_s += (b - a) + (time.perf_counter() - c)
            return res
        return wrapper

    def _patch(self, obj, method: str, name: str, after=None) -> None:
        setattr(obj, method, self._wrap(getattr(obj, method), name, after))

    # -- per-engine instrumentation ----------------------------------------
    def instrument(self, engine) -> None:
        """Wrap the pipeline, pump, source, control store, schema
        registry and sinks of a freshly started engine."""
        tracer = self
        if self.active:
            self._engines.append(engine)
        pipe, pump = engine.pipeline, engine.pump
        self._patch(pump.source, "poll_frames", "socket_transport.poll")

        def drained(n, span):
            if n:
                tracer.drains.append({"frames": n, "write_pos": pump._write_pos,
                                      "end": span["end"], "apply_start": None})
        self._patch(pump, "drain_once", "live.drain_once", drained)

        orig_rud = pipe.run_until_drained

        def run_until_drained():
            if tracer.active and tracer.drains and \
                    tracer.drains[-1]["apply_start"] is None:
                tracer.drains[-1]["apply_start"] = time.monotonic()
            j0 = tracer._total_jobs() if tracer.active else 0
            span_id = len(tracer.spans)
            tracer._drain_span = span_id
            try:
                return timed()
            finally:
                if tracer.active:
                    tracer.spans[span_id]["jobs"] = tracer._total_jobs() - j0
                tracer._drain_span = None
        timed = self._wrap(orig_rud, "pipeline.run_until_drained")
        pipe.run_until_drained = run_until_drained
        self._patch(pipe, "start", "pipeline.start")
        self._patch(pipe, "backfill", "pipeline.backfill")

        orig_apply = pipe._apply_batch

        def apply_batch(batch, batch_id):
            tracer._local.batch = batch_id
            try:
                return orig_apply(batch, batch_id)
            finally:
                tracer._local.batch = None
        pipe._apply_batch = self._wrap(apply_batch, "pipeline.apply_batch")
        self._patch(pipe.control, "advance_flush_lsn", "state.advance_flush_lsn")
        self._patch(pipe.control, "transition", "state.transition")
        self._patch(pipe.schemas, "record", "schema_registry.record")
        for sink in {id(s): s for s in pipe.sink.sinks.values()}.values():
            cls = type(sink).__name__
            for m in SINK_METHODS:
                if m == "write_changes":
                    self._patch_write(sink, cls)
                elif hasattr(sink, m):
                    self._patch(sink, m, f"sink.{cls}.{m}")

    def _sink_roots(self, sink) -> list[str]:
        return [p for p in (getattr(sink, "root", None),
                            getattr(sink, "staging_dir", None)) if p]

    def _files(self, sink) -> dict[str, int]:
        out = {}
        for root in self._sink_roots(sink):
            for d, _, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        p = os.path.join(d, f)
                        out[p] = os.path.getsize(p)
        return out

    def _patch_write(self, sink, cls: str) -> None:
        """write_changes: timed, plus the rows and bytes of every parquet
        file the call left behind (the sink's write amplification)."""
        import pyarrow.parquet as pq

        tracer = self
        timed = self._wrap(sink.write_changes, f"sink.{cls}.write_changes")

        def write_changes(table, df, batch_id):
            if not tracer.active:
                return timed(table, df, batch_id)
            a = time.perf_counter()
            before = tracer._files(sink)
            db = getattr(sink, "db_path", None)
            db0 = os.path.getsize(db) if db and os.path.exists(db) else 0
            b = time.perf_counter()
            res = timed(table, df, batch_id)
            c = time.perf_counter()
            new = {p: n for p, n in tracer._files(sink).items() if p not in before}
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in new)
            db1 = os.path.getsize(db) if db and os.path.exists(db) else 0
            tracer.counters["sink.rows_written"] = (
                tracer.counters.get("sink.rows_written", 0) + rows)
            tracer.counters["sink.bytes_written"] = (
                tracer.counters.get("sink.bytes_written", 0)
                + sum(new.values()) + max(0, db1 - db0))
            tracer.self_s += (b - a) + (time.perf_counter() - c)
            return res
        sink.write_changes = write_changes

    # -- results ----------------------------------------------------------
    def _sum(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and "end" in s)

    def _count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def waits(self, sent: list[tuple[int, float]]) -> list[float]:
        """Per commit: from the server sending its COMMIT to the start of
        the pipeline drain that applied it. ``sent``: (COMMIT position,
        send time)."""
        drains = [d for d in self.drains if d["apply_start"] is not None]
        out = []
        for pos, t in sent:
            d = next((d for d in drains if d["write_pos"] >= pos), None)
            if d is not None:
                out.append(d["apply_start"] - t)
        return out

    def metrics(self) -> dict:
        from etl_spark import telemetry

        c = self.counters
        n_drains = len(self.drains)
        frames = sum(d["frames"] for d in self.drains)
        events = sum(e.metrics.value(telemetry.ETL_EVENTS_PROCESSED_TOTAL)
                     for e in self._engines)
        rud = [s for s in self.spans if s["name"] == "pipeline.run_until_drained"
               and "end" in s]
        v = {
            "socket_transport.poll_s": self._sum("socket_transport.poll"),
            "socket_transport.bytes": sum(
                e.metrics.value(telemetry.ETL_SOCKET_BYTES_RECEIVED_TOTAL)
                for e in self._engines),
            "live.drain_once_s": self._sum("live.drain_once"),
            "live.drains": n_drains,
            "live.frames_per_drain": frames / n_drains if n_drains else 0.0,
            "pipeline.run_until_drained_s": self._sum("pipeline.run_until_drained"),
            "pipeline.backfill_s": self._sum("pipeline.backfill"),
            "pipeline.query_start_s": (self._sum("pipeline.start")
                                       - self._sum("pipeline.backfill")),
            "pipeline.add_batch_s": sum(b["add_batch_ms"] for b in self.batches) / 1e3,
            "pipeline.trigger_overhead_s": sum(
                b["trigger_ms"] - b["add_batch_ms"] for b in self.batches) / 1e3,
            "pipeline.micro_batches": len(self.batches),
            "pipeline.spark_jobs_per_drain": (
                statistics.mean(s.get("jobs", 0) for s in rud) if rud else 0.0),
            "pipeline.wait_s": c.get("pipeline.wait_s", 0.0),
            "pgoutput.wire_stats_s": self._sum("pgoutput.wire_stats"),
            "pgoutput.decode_plan_s": self._sum("pgoutput.decode_plan"),
            "pgoutput.python_udf_s": c.get("pgoutput.python_udf_s", 0.0),
            **{f"sink.{k}.{m}_s": self._sum(f"sink.{k}.{m}")
               for k in SINK_CLASSES for m in SINK_METHODS},
            "sink.bytes_written": c.get("sink.bytes_written", 0),
            "sink.rows_written_per_event": (
                c.get("sink.rows_written", 0) / events if events else 0.0),
            "snapshot.copy_s": self._sum("snapshot.copy"),
            "snapshot.rows": c.get("snapshot.rows", 0),
            "state.advance_flush_lsn_calls": self._count("state.advance_flush_lsn"),
            "state.transition_calls": self._count("state.transition"),
            "schema_registry.record_calls": self._count("schema_registry.record"),
            "schema_registry.record_s": self._sum("schema_registry.record"),
            "spark.jobs": c.get("spark.jobs", 0),
            "spark.tasks": c.get("spark.tasks", 0),
            "jvm.gc_s": c.get("jvm.gc_s", 0.0),
            "trace.spans": len(self.spans),
            "trace.self_s": self.self_s,
        }
        return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "micro_batches": self.batches,
                       "drains": self.drains, "counters": self.counters}, fh)
