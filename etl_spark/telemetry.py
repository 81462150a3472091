"""Metrics registry + Prometheus text exposition (reference parity:
``crates/etl-telemetry/src/metrics.rs`` and the metric inventory in
``crates/etl/src/observability.rs``).

The reference installs a Prometheus recorder with global labels
(project / pipeline_id / destination, metrics.rs:98-123) and registers
``etl_*`` counters/gauges/histograms (observability.rs:7-50). This is
the engine-side twin: a driver-side registry the pipeline increments at
the same semantic points (events processed, transactions, DDL changes,
schema cleanups, status updates), rendered in the standard Prometheus
text exposition format. Round 12 also ships the scrape binding itself:
:class:`MetricsHttpServer`, a daemon-threaded stdlib HTTP server for
``/metrics`` matching the reference's automatic :9000 exporter
(metrics.rs:82-97) — opt-in, best-effort, never on the data path.

Registry state is metadata-sized (one float per (metric, label-set) —
never row data) and lives on the driver.
"""

from __future__ import annotations

import threading
from bisect import bisect_left
from contextlib import contextmanager

# -- the reference's metric inventory (observability.rs:7-50) --------------
ETL_TABLES_TOTAL = "etl_tables_total"
ETL_TRANSACTIONS_TOTAL = "etl_transactions_total"
ETL_EVENTS_RECEIVED_TOTAL = "etl_events_received_total"
ETL_EVENTS_PROCESSED_TOTAL = "etl_events_processed_total"
ETL_TABLE_COPY_ROWS_TOTAL = "etl_table_copy_rows_total"
ETL_REPLICATION_MESSAGES_TOTAL = "etl_replication_messages_total"
ETL_STATUS_UPDATES_TOTAL = "etl_status_updates_total"
ETL_STATUS_UPDATES_SKIPPED_TOTAL = "etl_status_updates_skipped_total"
ETL_SCHEMA_CLEANUPS_TOTAL = "etl_schema_cleanups_total"
ETL_SCHEMA_CLEANUP_PRUNED_VERSIONS_TOTAL = (
    "etl_schema_cleanup_pruned_versions_total"
)
ETL_DDL_SCHEMA_CHANGES_TOTAL = "etl_ddl_schema_changes_total"
ETL_SLOT_INVALIDATIONS_TOTAL = "etl_slot_invalidations_total"
ETL_WORKER_ERRORS_TOTAL = "etl_worker_errors_total"
ETL_TRANSACTION_SIZE = "etl_transaction_size"
ETL_BATCH_APPLY_DURATION_SECONDS = "etl_batch_apply_duration_seconds"
ETL_APPLY_LOOP_FLUSH_LAG_BYTES = "etl_apply_loop_flush_lag_bytes"

# -- socket transport boundary (round 13: the one component the reference
# inventory doesn't name — its apply loop sits above tokio-postgres, ours
# above the stdlib socket, so the byte/connection counters live here) ----
ETL_SOCKET_CONNECTS_TOTAL = "etl_socket_connects_total"
ETL_SOCKET_TLS_HANDSHAKES_TOTAL = "etl_socket_tls_handshakes_total"
ETL_SOCKET_BYTES_RECEIVED_TOTAL = "etl_socket_bytes_received_total"
ETL_SOCKET_BYTES_SENT_TOTAL = "etl_socket_bytes_sent_total"
ETL_REPLICATION_KEEPALIVES_TOTAL = "etl_replication_keepalives_total"

#: default histogram buckets (seconds / counts — shared, Prometheus-style)
DEFAULT_BUCKETS = (
    0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0, 30.0,
    60.0, 300.0,
)


def _fmt_labels(labels: dict[str, str]) -> str:
    if not labels:
        return ""
    # Exposition-format escaping: backslash first, then quote and newline
    # (a raw newline inside a label value would corrupt the whole scrape
    # body — e.g. a table label derived from an error string; ADVICE r11).
    def esc(v) -> str:
        return (
            str(v)
            .replace(chr(92), chr(92) * 2)
            .replace(chr(34), chr(92) + chr(34))
            .replace(chr(10), chr(92) + "n")
        )

    inner = ",".join(f'{k}="{esc(v)}"' for k, v in sorted(labels.items()))
    return "{" + inner + "}"


def _fmt_value(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(float(v))


class MetricsRegistry:
    """Counters, gauges and histograms with label sets + global labels.

    Thread-safe (the ``/metrics`` HTTP server renders from its own
    thread while the apply loop records). ``render()`` emits the Prometheus text exposition format:
    ``# TYPE`` headers, one ``name{labels} value`` sample per series,
    ``_bucket``/``_sum``/``_count`` for histograms.
    """

    def __init__(self, global_labels: dict[str, str] | None = None):
        self.global_labels = dict(global_labels or {})
        self._lock = threading.Lock()
        #: name -> ("counter"|"gauge"|"histogram", {frozen_labels: state})
        self._metrics: dict[str, tuple[str, dict]] = {}

    # -- recording ---------------------------------------------------------
    def _series(self, name: str, kind: str, labels: dict | None):
        key = tuple(sorted((labels or {}).items()))
        with self._lock:
            typ, table = self._metrics.setdefault(name, (kind, {}))
            if typ != kind:
                raise ValueError(
                    f"metric {name!r} already registered as {typ}, not {kind}"
                )
            return table, key

    def inc(self, name: str, value: float = 1.0, labels: dict | None = None) -> None:
        table, key = self._series(name, "counter", labels)
        with self._lock:
            table[key] = table.get(key, 0.0) + value

    def set_gauge(self, name: str, value: float, labels: dict | None = None) -> None:
        table, key = self._series(name, "gauge", labels)
        with self._lock:
            table[key] = float(value)

    def observe(
        self,
        name: str,
        value: float,
        labels: dict | None = None,
        buckets: tuple = DEFAULT_BUCKETS,
    ) -> None:
        table, key = self._series(name, "histogram", labels)
        with self._lock:
            st = table.setdefault(
                key, {"buckets": buckets, "counts": [0] * len(buckets),
                      "sum": 0.0, "count": 0}
            )
            i = bisect_left(st["buckets"], value)
            if i < len(st["counts"]):
                st["counts"][i] += 1
            st["sum"] += value
            st["count"] += 1

    # -- reading -----------------------------------------------------------
    def value(self, name: str, labels: dict | None = None) -> float:
        key = tuple(sorted((labels or {}).items()))
        with self._lock:
            _, table = self._metrics.get(name, ("", {}))
            v = table.get(key, 0.0)
        return v if not isinstance(v, dict) else float(v["count"])

    def render(self) -> str:
        """Prometheus text exposition (the /metrics scrape body)."""
        out: list[str] = []
        with self._lock:
            items = sorted(self._metrics.items())
            for name, (kind, table) in items:
                out.append(f"# TYPE {name} {kind}")
                for key, st in sorted(table.items()):
                    labels = dict(self.global_labels)
                    labels.update(dict(key))
                    if kind in ("counter", "gauge"):
                        out.append(f"{name}{_fmt_labels(labels)} {_fmt_value(st)}")
                        continue
                    cum = 0
                    for ub, c in zip(st["buckets"], st["counts"]):
                        cum += c
                        bl = dict(labels, le=_fmt_value(ub))
                        out.append(f"{name}_bucket{_fmt_labels(bl)} {cum}")
                    bl = dict(labels, le="+Inf")
                    out.append(f"{name}_bucket{_fmt_labels(bl)} {st['count']}")
                    out.append(
                        f"{name}_sum{_fmt_labels(labels)} {_fmt_value(st['sum'])}"
                    )
                    out.append(
                        f"{name}_count{_fmt_labels(labels)} {st['count']}"
                    )
        return "\n".join(out) + "\n"


#: process-default registry (init_metrics analog); pipelines attach their
#: own labelled registry via Pipeline(metrics_registry=...) when isolation
#: is needed, exactly like the reference's per-recorder global labels
DEFAULT = MetricsRegistry()


def init_metrics(
    project: str | None = None,
    pipeline_id: int | None = None,
    destination: str | None = None,
) -> MetricsRegistry:
    """Reset the default registry with global labels (metrics.rs:98-123:
    project / pipeline_id / destination become labels on every series)."""
    global DEFAULT
    labels = {}
    if project is not None:
        labels["project"] = project
    if pipeline_id is not None:
        labels["pipeline_id"] = str(pipeline_id)
    if destination is not None:
        labels["destination"] = destination
    DEFAULT = MetricsRegistry(labels)
    return DEFAULT


@contextmanager
def job_scope(desc: str):
    """Tag every Spark job the block submits with ``desc``
    (``spark.job.description``, shown per job in the UI and the status
    tracker) and clear it on exit, raised or not, so the tag can never
    leak onto later jobs. The description is a thread-local property."""
    from pyspark import SparkContext

    sc = SparkContext.getOrCreate()
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


class MetricsHttpServer:
    """Prometheus scrape endpoint over stdlib ``http.server`` (round 12 —
    closes the last telemetry gap: the reference exposes the exporter on
    an automatic HTTP server at ``[::]:9000/metrics``,
    etl-telemetry/src/metrics.rs:82-97; the exposition BODY was already
    implemented/tested in round 11, this binds it).

    Daemon-threaded and best-effort by the same contract as the rest of
    telemetry: serving can never affect pipeline correctness — a dead
    scrape port loses observability, not data. ``port=0`` picks a free
    port (tests); production passes 9000 to match the reference.

        srv = MetricsHttpServer(registry, port=9000).start()
        ... curl :9000/metrics ...
        srv.stop()
    """

    def __init__(self, registry: MetricsRegistry | None = None,
                 host: str = "0.0.0.0", port: int = 9000):
        self.registry = registry if registry is not None else DEFAULT
        self.host, self.port = host, port
        self._httpd = None
        self._thread = None

    def start(self) -> "MetricsHttpServer":
        import http.server
        import threading

        reg = self.registry

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib casing)
                if self.path.rstrip("/") not in ("/metrics", ""):
                    self.send_error(404)
                    return
                body = reg.render().encode()
                self.send_response(200)
                self.send_header("Content-Type",
                                 "text/plain; version=0.0.4; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence per-scrape stderr lines
                pass

        self._httpd = http.server.ThreadingHTTPServer(
            (self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._thread.join(timeout=5)
            self._httpd = None

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()
