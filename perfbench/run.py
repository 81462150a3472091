"""Replication benchmark: commit lag, restart catch-up and table-sync
throughput through the live socket path.

Run from the repository root::

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 30 --trace 0

Each run drives the engine's real replication entrypoint —
``Replicator.initial_sync`` for the parallel COPY, then ``Replicator.run``
(``FrameFilePump`` over ``SocketReplicationSource`` into
``Pipeline(source_fmt="pgoutput")`` and its sinks) — against the paced
replication server in ``server.py``, which runs as a separate process.
The run then checks the destination against the plain-Python oracle in
``gen.py``. The report goes to stdout; its last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
See README.md in this directory for the workloads and metrics.
"""

import time

#: process start, before any heavy import (setup_s counts from here)
T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

#: socket poll timeout: a poll hands its partial batch to the pipeline
#: once the server has been idle this long (the live-loop mode)
POLL_TIMEOUT_S = 0.05
#: every wait on the engine ends by this many seconds after process
#: start, so a stuck engine still yields a (failed) result in time
DEADLINE_S = 150.0

END_TO_END = {
    "setup_s": "s", "commit_lag_p50_s": "s", "commit_lag_p99_s": "s",
    "resume_s": "s", "catchup_events_per_s": "1/s",
    "sync_rows_per_s": "1/s", "peak_rss_mb": "MB",
}


def time_left() -> float:
    return max(1.0, T_START + DEADLINE_S - time.monotonic())


class ServerProcess:
    """The paced replication server child and its line protocol."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 connections: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--connections", str(connections)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=ROOT)
        self.port = self._read()["port"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("replication server exited")
        return json.loads(line)

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call("quit")
            except (OSError, RuntimeError, ValueError):
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class Engine:
    """One pipeline deployment (work dir, sinks, replication slot) over a
    set of tables, driven through the engine's public entrypoints."""

    def __init__(self, bench: "Bench", tables, name: str, pipeline_id: int):
        from etl_spark import telemetry
        from etl_spark.config import PgConnectionConfig, PipelineConfig
        from etl_spark.replicator import Replicator

        self.bench = bench
        self.spark = bench.spark
        self.tables = tables
        self.dir = os.path.join(bench.base, name)
        self.frames_dir = os.path.join(self.dir, "frames")
        os.makedirs(self.frames_dir, exist_ok=True)
        self.metrics = telemetry.MetricsRegistry()
        cfg = PipelineConfig(
            id=pipeline_id, publication_name="pub",
            pg_connection=PgConnectionConfig(host="127.0.0.1",
                                             port=bench.server.port),
            max_copy_connections_per_table=bench.connections)
        self.rep = Replicator(self.spark, cfg, self.dir,
                              make_source=self.make_source)
        self.snapshot_paths: dict[str, str] = {}
        self.snapshot_rows = 0
        self.pipeline = self.pump = self.thread = None
        self.errors: list[BaseException] = []
        self.stop_event = threading.Event()

    def make_source(self):
        from etl_spark.sources.socket_transport import SocketReplicationSource

        return SocketReplicationSource("127.0.0.1", self.bench.server.port,
                                       poll_timeout_s=POLL_TIMEOUT_S,
                                       metrics=self.metrics)

    def make_sink(self):
        from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink
        from etl_spark.streaming.sinks import (
            ParquetChangelogSink,
            ParquetCurrentStateSink,
            TableRoutingSink,
        )

        d = self.dir
        by_role = {
            "merge": lambda: ParquetCurrentStateSink(
                os.path.join(d, "merge"), keys=["pk"], spark=self.spark),
            "append": lambda: ParquetChangelogSink(os.path.join(d, "append")),
            "duckdb": lambda: DuckDBCurrentStateSink(
                os.path.join(d, "wh.duckdb"),
                keys={t.name: ["pk"] for t in self.tables},
                staging_dir=os.path.join(d, "stage")),
        }
        inner = {role: by_role[role]() for role in {t.role for t in self.tables}}
        return TableRoutingSink({t.name: inner[t.role] for t in self.tables})

    def sync(self, phase: str) -> dict:
        """Slot with exported snapshot, then the configured initial copy
        of every table; ``phase`` is committed right after the slot, so
        it is the stream half of the handoff."""
        from etl_spark.replicator import TableSpec

        probe = self.make_source()
        try:
            slot = probe.create_slot(self.rep.slot_name(), export_snapshot=True)
            rel = self.bench.server.call("release", phase=phase)
            specs = [TableSpec(oid=t.rel_id, name=t.name,
                               payload_schema=self.bench.initial_schema(t),
                               ctid_ranges=self.bench.ranges)
                     for t in self.tables]
            copied = self.rep.initial_sync(specs, snapshot_name=slot.snapshot_name)
        finally:
            probe.close()
        for t in self.tables:
            path = os.path.join(self.dir, "snapshot", t.name)
            copied[t.name].write.mode("overwrite").parquet(path)
            self.snapshot_paths[t.name] = path
        self.snapshot_rows = sum(len(self.bench.wl.snapshots[t.name])
                                 for t in self.tables)
        return rel

    def start(self) -> None:
        """Construct pipeline, pump and source on the work dir and enter
        ``Replicator.run`` on a thread (until :meth:`stop`)."""
        from etl_spark.sources.live import FrameFilePump
        from etl_spark.streaming.pipeline import Pipeline, TableConfig

        cfgs = [TableConfig(name=t.name, snapshot_path=self.snapshot_paths[t.name],
                            keys=["pk"], payload_schema=self.bench.initial_schema(t))
                for t in self.tables]
        self.pipeline = Pipeline(self.spark, self.frames_dir, cfgs,
                                 self.make_sink(), os.path.join(self.dir, "work"),
                                 source_fmt="pgoutput",
                                 metrics_registry=self.metrics)
        self.pump = FrameFilePump(self.make_source(), self.spark,
                                  self.frames_dir, control=self.pipeline.control,
                                  metrics=self.metrics)
        if self.bench.tracer is not None:
            self.bench.tracer.instrument(self)
        self.stop_event = threading.Event()

        def run():
            try:
                self.rep.run(self.pump, self.pipeline, self.stop_event,
                             wal_sender_timeout_s=10.0)
            except BaseException as exc:  # reported as a failed run
                self.errors.append(exc)

        self.thread = threading.Thread(target=run, name="replicator", daemon=True)
        self.thread.start()

    def stop(self) -> None:
        self.stop_event.set()
        if self.thread is not None:
            self.thread.join(time_left())
        if self.pump is not None:
            self.pump.source.close()

    def quarantined(self) -> list[str]:
        from etl_spark.state import TableState

        return [t.name for t in self.tables
                if self.pipeline.control.get(t.name).state == TableState.ERRORED]


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.base = os.path.join(ROOT, ".perfbench",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.base, ignore_errors=True)
        tmp = os.path.join(self.base, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        # Spark, this process's Python threads, the JVM's compiler and GC
        # threads and the server process share the machine: Spark gets
        # two cores fewer than it has, the COPY pool at most nproc - 1
        ncpu = os.cpu_count() or 2
        self.cores = max(1, ncpu - 2)
        self.connections = max(1, min(3, ncpu - 1))
        import gen

        self.ranges = gen.ctid_ranges(self.connections)
        self.server = None
        self.spark = None
        self.tracer = None
        self.wl = None

    # -- fixtures ---------------------------------------------------------
    def initial_schema(self, t) -> str:
        """The table's schema at snapshot time (before any ADD COLUMN)."""
        return ", ".join(f"{n} {ty}" for n, ty in self.wl.initial_columns(t.name))

    def start(self) -> None:
        import gen
        from etl_spark.session import get_spark

        self.server = ServerProcess(self.workload, self.args.seed,
                                    self.args.seconds, self.connections)
        # the generator's transactions give the schema history (ADD
        # COLUMN) the pipeline config starts from, and later the oracle;
        # generated while the JVM starts
        made: dict = {}
        gen_thread = threading.Thread(target=lambda: made.setdefault(
            "wl", gen.Workload(self.workload, self.args.seed, self.args.seconds)))
        gen_thread.start()
        local = os.path.join(self.base, "spark-local")
        os.makedirs(local)
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
        gen_thread.join()
        self.wl = made["wl"]
        self.spec = self.wl.spec
        if self.args.trace:
            import tracing

            self.tracer = tracing.Tracer(self.spark)

    def wait_ack(self, lsn: int, engine: Engine) -> float | None:
        """Server-side arrival time of the ack covering ``lsn``."""
        deadline = T_START + DEADLINE_S
        while time.monotonic() < deadline:
            t = self.server.call("wait_ack", lsn=lsn, timeout=1.0)["t"]
            if t is not None:
                return t
            if engine.errors or not engine.thread.is_alive():
                return None
        return None

    # -- the run ----------------------------------------------------------
    def progress(self, what: str) -> None:
        print(f"[perfbench] {time.monotonic() - T_START:7.1f}s {what}",
              file=sys.stderr, flush=True)

    def run(self) -> dict:
        self.start()
        out: dict = {}
        # untimed warm-up on throwaway tables: JVM, Python workers and
        # every code path the measured phases use are loaded
        warm = Engine(self, self.spec.warm_tables, "warm", 1)
        rel = warm.sync("warm")
        warm.start()
        self.wait_ack(rel["last_lsn"], warm)
        warm.stop()
        errors = list(warm.errors)
        out["setup_s"] = time.monotonic() - T_START
        self.progress("warm-up acknowledged")
        if self.tracer is not None:
            self.tracer.begin()

        # A. initial sync + handoff stream until every table is Ready
        eng = Engine(self, self.spec.tables, "main", 2)
        t0 = time.monotonic()
        handoff = eng.sync("handoff")
        eng.start()
        t_ready = self.wait_ack(handoff["last_lsn"], eng)
        out["sync_rows"] = eng.snapshot_rows
        out["sync_s"] = (t_ready - t0) if t_ready else None
        self.progress("tables ready")
        # B. open-loop paced stream
        paced = self.server.call("pace")
        out.update(self.server.call("wait_paced"))
        if paced["txs"]:
            self.wait_ack(paced["last_lsn"], eng)
            self.progress("paced stream acknowledged")
        # C. restarts: a backlog commits while the pipeline is down, then
        # a new pipeline, pump and source drain it from the work dir
        restarts = []
        quarantined: set[str] = set()
        for r in range(1, self.spec.restarts + 1):
            eng.stop()
            errors += eng.errors
            quarantined |= set(eng.quarantined())
            acked_before = self.server.call("acked")["lsn"]
            backlog = self.server.call("release", phase=f"backlog{r}")
            t_restart = time.monotonic()
            snapshots = eng.snapshot_paths
            eng = Engine(self, self.spec.tables, "main", 2)
            eng.snapshot_paths = snapshots
            eng.start()
            t_caught = self.wait_ack(backlog["last_lsn"], eng)
            restarts.append((t_restart, acked_before, t_caught, backlog["events"]))
        eng.stop()
        errors += eng.errors
        quarantined |= set(eng.quarantined())
        self.progress("backlogs acknowledged")
        if self.tracer is not None:
            self.tracer.end()
            self.tracer.counters["snapshot.rows"] = out["sync_rows"]

        log = self.server.call("log")
        acks = sorted(tuple(a) for a in log["acks"])
        resumes = []
        for t_restart, acked_before, _t, _n in restarts:
            first = next((t for t, f in acks if t >= t_restart and f > acked_before),
                         None)
            resumes.append(None if first is None else first - t_restart)
        out["resume_s"] = (statistics.median(resumes)
                           if None not in resumes else None)
        out["catchup_events"] = sum(n for *_, n in restarts)
        out["catchup_s"] = (sum(t - t0 for t0, _a, t, _n in restarts)
                            if all(t is not None for _t0, _a, t, _n in restarts)
                            else None)
        out["peak_rss_mb"] = self.peak_rss_mb()
        out.update(self.verify(eng, log, sorted(quarantined), out["sync_rows"]))
        if self.tracer is not None:
            waits = self.tracer.waits(out["lag_sent"])
            self.tracer.counters["pipeline.wait_s"] = (
                statistics.median(waits) if waits else 0.0)
            out["trace"] = self.tracer.metrics()
            self.tracer.dump(os.path.join(
                ROOT, ".perfbench", "traces",
                f"{self.workload}-{self.args.seed}.json"))
        self.progress("verified")
        out["errors"] = [repr(e)[:300] for e in errors]
        return out

    def peak_rss_mb(self) -> float:
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        total = 0
        for pid in (jvm_pid, os.getpid()):
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    # -- correctness ------------------------------------------------------
    def verify(self, eng: Engine, log: dict, quarantined: list[str],
               copied_rows: int) -> dict:
        """Destination vs the oracle. Units: every streamed transaction
        of the measured phases plus every copied row; a unit fails when
        it is unacknowledged, wrong at the destination, or in a
        quarantined table."""
        import gen
        import stats

        names = [t.name for t in self.spec.tables]
        measured = {tx.phase for tx in self.wl.txs} - {"warm"}
        oracle = gen.fold(self.wl, names, measured)
        txs = [(k, phase, lsn, sent) for k, phase, lsn, sent in log["txs"]
               if phase in measured]
        failed_tx = {k for k, _p, _l, sent in txs if sent is None}
        # commit lag over every transaction streamed once the tables are
        # Ready (the handoff's lag is part of the sync time)
        lag_sent = [(lsn, sent) for _k, p, lsn, sent in txs
                    if p != "handoff" and sent is not None]
        acks = [tuple(a) for a in log["acks"]]
        lags = stats.commit_lags(lag_sent, acks)
        # backlog check for the open loop: paced lag, first vs second half
        paced = sorted((sent, lsn) for _k, p, lsn, sent in txs
                       if p == "paced" and sent is not None)
        halves = [stats.commit_lags([(lsn, t) for t, lsn in part], acks)
                  for part in (paced[: len(paced) // 2], paced[len(paced) // 2:])]
        acked_max = max((f for _, f in log["acks"]), default=0)
        failed_tx |= {k for k, _p, lsn, _s in txs if lsn > acked_max}
        wrong_rows = 0
        for t in self.spec.tables:
            if t.name in quarantined:
                failed_tx |= {k for k, tx in enumerate(self.wl.txs)
                              if tx.phase in measured
                              and any(c.table == t.name for c in tx.changes)}
                wrong_rows += len(self.wl.snapshots[t.name])
                continue
            bad_keys, bad_events = self.compare(eng, t, oracle)
            for pk in bad_keys:
                if pk in oracle.writer[t.name]:
                    failed_tx.add(oracle.writer[t.name][pk])
                else:
                    wrong_rows += 1
            wrong_rows += bad_events
        attempted = len(txs) + copied_rows
        failed = len(failed_tx) + wrong_rows
        return {"attempted": attempted, "failed": failed, "lags": lags,
                "paced_halves_p50": [stats.percentile(h, 50) if h else None
                                     for h in halves],
                # COMMIT positions (final_lsn - 1) with their send times
                "lag_sent": [(lsn - 1, t) for lsn, t in lag_sent],
                "quarantined": quarantined}

    def compare(self, eng: Engine, t, oracle) -> tuple[set, int]:
        """Wrong keys (missing, extra or differing rows) for a state
        table; for an append-only table, the size of the multiset
        difference between the changelog and every event exactly once."""
        import gen

        cols = oracle.columns[t.name]
        names = [n for n, _ in cols]

        def typed(rows):
            return [tuple(gen.normalize(ty, v) for (_, ty), v in zip(cols, r))
                    for r in rows]

        if t.role == "append":
            from etl_spark.streaming.sinks import ParquetChangelogSink

            df = ParquetChangelogSink(os.path.join(eng.dir, "append")).read(
                self.spark, t.name)
            got = Counter(typed(df.select(*names).collect()))
            want = Counter(oracle.typed_events(t.name))
            return set(), sum(((got - want) + (want - got)).values())
        if t.role == "merge":
            from etl_spark.streaming.sinks import ParquetCurrentStateSink

            sink = ParquetCurrentStateSink(os.path.join(eng.dir, "merge"),
                                           keys=["pk"], spark=self.spark)
            rows = typed(sink.read(t.name).select(*names).collect())
        else:
            import duckdb

            con = duckdb.connect(os.path.join(eng.dir, "wh.duckdb"), read_only=True)
            try:
                sel = ", ".join(f'"{n}"' for n in names)
                rows = typed(con.execute(f'SELECT {sel} FROM "{t.name}"').fetchall())
            finally:
                con.close()
        got = {r[0]: r for r in rows}
        want = oracle.typed(t.name)
        bad = {pk for pk in set(got) | set(want) if got.get(pk) != want.get(pk)}
        if len(rows) != len(got):
            bad |= {pk for pk, n in Counter(r[0] for r in rows).items() if n > 1}
        return bad, 0

    def close(self) -> None:
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        if self.server is not None:
            self.server.close()
        shutil.rmtree(self.base, ignore_errors=True)


def metrics_of(out: dict) -> dict:
    """The end-to-end metrics of one run (None where a phase failed)."""
    import stats

    lags = out["lags"]
    p_tail = stats.tail_percentile(len(lags))
    return {
        "setup_s": out["setup_s"],
        "commit_lag_p50_s": stats.percentile(lags, 50) if lags else None,
        "commit_lag_p99_s": stats.percentile(lags, p_tail) if p_tail else None,
        "resume_s": out["resume_s"],
        "catchup_events_per_s": (out["catchup_events"] / out["catchup_s"]
                                 if out["catchup_s"] else None),
        "sync_rows_per_s": (out["sync_rows"] / out["sync_s"]
                            if out["sync_s"] else None),
        "peak_rss_mb": out["peak_rss_mb"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Replication benchmark.")
    ap.add_argument("--workload", required=True,
                    choices=["trickle", "catchup", "table_sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_spark")):
        print("perfbench: the engine (etl_spark/) is not in the working "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import stats

    bench = Bench(args)
    try:
        out = bench.run()
    finally:
        bench.close()
    e2e = metrics_of(out)
    failed_metrics = [k for k, v in e2e.items() if v is None]
    late_ok = out["late_max_s"] <= 0.25
    correct = (out["failed"] == 0 and not out["errors"] and late_ok
               and not failed_metrics)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    for k, v in e2e.items():
        print(f"  {k:22s} {v if v is None else round(v, 4)} {END_TO_END[k]}")
    n_lags = len(out["lags"])
    print(f"  commit_lag samples={n_lags} "
          f"commit_lag_p99_s is p{stats.tail_percentile(n_lags)}")
    print(f"  error_ratio           {out['failed'] / out['attempted']:.6f} "
          f"({out['failed']} of {out['attempted']} units)")
    first, second = out["paced_halves_p50"]
    if first is not None and second is not None:
        print(f"  paced commit lag p50: first half {first:.3f} s, "
              f"second half {second:.3f} s")
    print(f"  generator lateness p99={out['late_p99_s']:.4f}s "
          f"max={out['late_max_s']:.4f}s")
    for e in out["errors"]:
        print(f"  engine error: {e}")
    if out["quarantined"]:
        print(f"  quarantined tables: {out['quarantined']}")
    if args.trace:
        print("  traced run: the figures above include tracing overhead "
              f"(tracer bookkeeping {out['trace']['trace.self_s']['value']:.3f} s)")
        metrics = out["trace"]
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items() if v is not None}
    print(json.dumps({"correct": bool(correct), "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
