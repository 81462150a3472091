"""Initial snapshot scan — the reference's parallel table copy.

Reference behavior (SURVEY §2.1 S1/S2): a consistent full-table read inside
an exported-snapshot transaction, parallelized by CTID block ranges
(crates/etl/src/replication/table_sync/copy.rs:53-58, range math
crates/etl/src/postgres/client/transaction.rs:64-110), with the
publication's column list (P1) and row filter (P2) pushed into the COPY SQL
(transaction.rs:26-62, 51-55).

Spark-native equivalents:

- **files**: ``Pipeline.backfill`` reads a parquet snapshot with
  ``spark.read.parquet`` — file splits are the CTID ranges; Catalyst
  pushes the row filter (``PushedFilters``) into the scan.
- **wire**: :func:`snapshot_via_copy` / :func:`snapshot_via_copy_parallel`
  below run the reference's ``COPY ... TO STDOUT`` choreography.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Initial table copy OVER THE WIRE — `COPY ... TO STDOUT` on the
# replication connection, anchored to the slot's exported snapshot: the
# reference's exact wire choreography (crates/etl/src/replication/
# table_sync/copy.rs over postgres/client/transaction.rs:328-385 +
# child.rs:35-45).
# ---------------------------------------------------------------------------


def build_copy_query(
    table: str,
    column_list: list[str] | None = None,
    row_filter: str | None = None,
    ctid_range: tuple[str | None, str | None] | None = None,
) -> str:
    """The reference's ``build_ctid_copy_query`` (transaction.rs:28-62):
    ``copy (select <cols> from <table> [where <ctid bounds> [and
    (<row filter>)]]) to stdout with (format text)``. The publication's
    column list (P1) and row filter (P2) ride INSIDE the copy SQL so the
    server never ships unpublished cells; the ctid half-open range is
    one partition of the parallel plan (:func:`snapshot_via_copy_parallel`)."""
    cols = ", ".join(column_list) if column_list else "*"
    preds: list[str] = []
    if ctid_range is not None:
        start, end = ctid_range
        if start is not None:
            preds.append(f"ctid >= '{start}'::tid")
        if end is not None:
            preds.append(f"ctid < '{end}'::tid")
    if row_filter:
        preds.append(f"({row_filter})")
    where = f" where {' and '.join(preds)}" if preds else ""
    return (f"copy (select {cols} from {table}{where}) "
            "to stdout with (format text)")


#: Spark cast types whose COPY text form needs a PG-specific decoder
#: instead of a plain CAST (codec F1–F8 text parsers).
_PG_TEXT_DECODERS = {
    "boolean": "pg_bool",
    "binary": "pg_bytea",
    "timestamp": "pg_timestamp",
    "date": "pg_date",
}


def snapshot_via_copy(
    spark: SparkSession,
    source,
    table: str,
    payload_schema: str,
    out_dir: str,
    column_list: list[str] | None = None,
    row_filter: str | None = None,
    snapshot_name: str | None = None,
    ctid_ranges: list[tuple[str | None, str | None]] | None = None,
    batch_bytes: int = 8 << 20,
) -> DataFrame:
    """Initial sync of one table over the replication socket.

    Choreography (table_sync/copy.rs → transaction.rs:328-385):

    1. ``BEGIN READ ONLY ISOLATION LEVEL REPEATABLE READ``
    2. ``SET TRANSACTION SNAPSHOT '<name>'`` when anchored to
       ``create_slot(..., export_snapshot=True)`` (child.rs:41) — the
       copy then sees EXACTLY the state the WAL stream starts after,
       making the snapshot→stream handoff (T6) gap- and overlap-free
       by construction.
    3. one ``COPY (select ...) TO STDOUT`` per ctid partition
       (:func:`build_copy_query`); the driver relays opaque line
       batches into ``line string`` parquet files — it never parses.
    4. ``COMMIT``.
    5. Distributed decode: ``codec.copy_text_split`` (the gate-proven
       F10 unescape) + per-type casts from ``payload_schema``.

    Scale note: like the reference, ONE connection is one serialized
    COPY stream; parallelism across ctid partitions comes from running
    partitions on separate connections (the reference's
    max_copy_connections) — and the DECODE here is fully distributed
    regardless, so a single-connection relay feeds all 32 cores. The
    driver holds at most one ``batch_bytes`` batch in memory.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    source.simple_command("BEGIN READ ONLY ISOLATION LEVEL REPEATABLE READ")
    if snapshot_name:
        source.simple_command(f"SET TRANSACTION SNAPSHOT '{snapshot_name}'")
    for i, rng in enumerate(ctid_ranges or [None]):
        sql = build_copy_query(table, column_list, row_filter, rng)
        _relay_copy(source, sql, out_dir, f"w0p{i:03d}", batch_bytes)
    source.simple_command("COMMIT")
    return decode_copy_lines(spark, out_dir, payload_schema)


def _relay_copy(source, sql: str, out_dir: str, prefix: str,
                batch_bytes: int) -> int:
    """Relay one ``copy_out`` stream into ``line string`` parquet files
    named ``{prefix}_NNNNNN.parquet`` (prefixes keep parallel workers
    collision-free). Each batch is written on the driver with pyarrow to
    a hidden temp name and renamed into place, so a reader never sees a
    partial file and no Spark job runs. Returns the file count."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 0
    for batch in source.copy_out(sql, max_bytes=batch_bytes):
        n += 1
        name = f"{prefix}_{n:06d}.parquet"
        staging = os.path.join(out_dir, f".{name}")
        pq.write_table(pa.table({"line": pa.array(
            [b.decode("utf-8") for b in batch], pa.string())}), staging)
        os.replace(staging, os.path.join(out_dir, name))
    return n


def decode_copy_lines(spark: SparkSession, out_dir: str,
                      payload_schema: str) -> DataFrame:
    """Distributed decode of relayed COPY text lines: the gate-proven
    F10 unescape (``codec.copy_text_split``) + per-type casts."""
    from etl_spark import codec
    from etl_spark.publication import _split_schema_fields

    fields = _split_schema_fields(payload_schema)
    names = [f.split()[0] for f in fields]
    types = [f.split(None, 1)[1] for f in fields]
    lines = spark.read.schema("line string").parquet(out_dir)
    cells = codec.copy_text_split(F.col("line"), len(names))
    proj = []
    for i, (name, typ) in enumerate(zip(names, types)):
        cell = F.element_at(cells, i + 1)
        decoder = _PG_TEXT_DECODERS.get(typ.lower())
        if decoder is not None:
            proj.append(getattr(codec, decoder)(cell).alias(name))
        else:
            proj.append(cell.cast(typ).alias(name))
    return lines.select(*proj)


def snapshot_via_copy_parallel(
    spark: SparkSession,
    make_source,
    table: str,
    payload_schema: str,
    out_dir: str,
    ctid_ranges: list[tuple[str | None, str | None]],
    column_list: list[str] | None = None,
    row_filter: str | None = None,
    snapshot_name: str | None = None,
    max_connections: int = 4,
    batch_bytes: int = 8 << 20,
) -> DataFrame:
    """Parallel initial sync: one replication CONNECTION per ctid
    partition, all anchored to the SAME exported snapshot — the
    reference's ``max_copy_connections`` table-sync pool
    (table_sync/copy.rs:143-160 sizes partitions per worker; every
    worker transaction runs ``SET TRANSACTION SNAPSHOT`` so the slices
    are one consistent cut, child.rs:35-45).

    ``make_source`` builds a fresh transport per worker (a connection
    carries one COPY stream at a time by protocol). Workers relay into
    one ``out_dir`` under per-worker file prefixes; the decode is a
    single distributed read over all slices. Errors in any worker
    propagate (fail-fast: a partial snapshot is worthless).

    Scale note: this is the wire-side S2 — the relay parallelism is
    min(max_connections, len(ctid_ranges)) sockets on the driver, and
    the real heavy lifting (unescape, casts, everything downstream)
    stays distributed regardless.
    """
    import os
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(out_dir, exist_ok=True)

    def worker(item) -> int:
        i, rng = item
        src = make_source()
        try:
            src.simple_command(
                "BEGIN READ ONLY ISOLATION LEVEL REPEATABLE READ")
            if snapshot_name:
                src.simple_command(
                    f"SET TRANSACTION SNAPSHOT '{snapshot_name}'")
            sql = build_copy_query(table, column_list, row_filter, rng)
            n = _relay_copy(src, sql, out_dir, f"w{i:03d}", batch_bytes)
            src.simple_command("COMMIT")
            return n
        finally:
            src.close()

    with ThreadPoolExecutor(max_workers=max_connections) as pool:
        list(pool.map(worker, enumerate(ctid_ranges)))  # raises on error
    return decode_copy_lines(spark, out_dir, payload_schema)
