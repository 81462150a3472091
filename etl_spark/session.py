"""SparkSession factory with scale-aware defaults.

The engine targets multi-executor clusters reading ~100 TB; locally it runs
``local[N]``. All knobs that matter for both are centralized here so tests,
bench, and the driver entrypoint share one tuned configuration:

- AQE on (runtime coalescing, skew-join splitting) — at cluster scale the
  static shuffle-partition count is always wrong for some stage.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalescing makes the initial number a ceiling, not a
  commitment.
- Arrow enabled for every pandas interchange (the only Python-side hot paths
  we allow are Arrow-vectorized).
- Session timezone pinned UTC: the reference normalizes timestamptz to UTC
  (crates/etl/src/data/cell.rs:49) and the DuckDB oracle is UTC-naive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` controls both local parallelism and the shuffle-partition
    default. On a real cluster, pass ``master`` via spark-submit and these
    configs still apply.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan CACHED plans too (default false): the pipeline
        # persists each micro-batch (pipeline.py _apply_batch), and with
        # the default every shuffle under or over the cached plan is
        # pinned at the static partition count — a KB-sized CDC batch
        # ran 32-64 task stages per decode/window/merge (measured via
        # the job profiler: ~480 tasks per cdc_crash_replay_ddl rep,
        # 263 after). Coalescing is size-based, so big batches keep
        # their width at cluster scale; only the output partitioning of
        # the cache can change, which no consumer here relies on.
        # A/B min-of-4 at sf0.1: cdc_schema_evolution 3.47 -> 2.82,
        # cdc_scd2_schema_evolution 3.47 -> 3.16, crash_replay ~3% off.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # Shuffled-hash over sort-merge when the per-partition build side
        # fits (join-heavy subset A/B at sf0.1: 14.4 -> 13.5 s min-of-4;
        # q9 0.94 -> 0.72, lineitem_basket_lift 2.15 -> 1.80). Risk
        # note (ADVICE r13): the AQE threshold below governs AQE's
        # SMJ->SHJ *conversion* from real post-shuffle sizes, not a
        # demotion of a statically-planned SHJ; protection against an
        # oversized build side chosen at static planning relies on AQE's
        # logical re-planning with runtime stats, which does not cover
        # joins planned directly over scans with bad estimates — on a
        # real cluster, prefer leaving preferSortMergeJoin at default
        # and keeping only the AQE threshold if executor memory is
        # tight. Locally the build sides are bounded by the suite's
        # data, so the flip is safe and measured faster.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark has no
        # native type for; read as long (epoch nanos, io.read_table's contract)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # long-running sessions accumulate finished-query shuffle/broadcast
        # state until a full GC lets ContextCleaner reclaim it; the default
        # periodic GC (30min) is far too lazy for a query-per-minute driver
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
    )
    # Only force local master when no master is configured externally
    # (spark-submit on a cluster sets one).
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONF_DIR" not in os.environ:
        builder = builder.master(f"local[{n}]")
        # spark.local.dir stays on the default disk path: a tmpfs scratch
        # dir was tried (the sandbox root disk writes at ~10 MB/s) and
        # measured consistently SLOWER for the shuffle-heavy tail
        # (containment family 4.2/7.3 s on disk vs 8.1/9.6 s on tmpfs,
        # order-controlled A/B) — shuffle files are short-lived and die in
        # page cache before writeback, so the slow device never bites.
        # Env SPARK_GRAFT_LOCAL_DIR overrides for machines where it helps.
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir:
            os.makedirs(local_dir, exist_ok=True)
            builder = builder.config("spark.local.dir", local_dir)
        # 48g (was 16g): the long query-per-minute suite accumulates
        # localCheckpoint blocks + shuffle state between ContextCleaner
        # GCs; at 16g the heavy tail ran under constant G1 pressure
        # (measured: a 14-query heavy slice 76-81 s at 16g vs 62-73 s at
        # 48g, two reps each, same code). Env-overridable; on a real
        # cluster spark-submit sizes the driver and this default is moot.
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # whole-stage codegen emits one class set per distinct plan; a long
        # query-per-minute driver fills the default ~240 MB code cache,
        # after which the JIT stops compiling and hot queries run 2-3×
        # slower — permanently. Bigger cache + flushing keeps JIT alive.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
