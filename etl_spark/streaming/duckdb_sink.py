"""DuckDB warehouse sink: the external-destination shape (SURVEY §2.10).

The reference's warehouse destinations (BigQuery/Snowflake/DuckLake) all
follow the same contract: stage the micro-batch, then let the WAREHOUSE
execute the keyed merge (staging-table MERGE, ducklake/core.rs:1133-1216;
BigQuery CDC upserts, bigquery/core.rs:1409-1478). This sink reproduces
that division of labor with DuckDB as the warehouse:

- Spark writes the batch as parquet (distributed, its job);
- DuckDB ingests the staged files and applies the LWW merge in SQL keyed
  by (replica identity, event_seq), with batch-id replay dedup recorded in
  an ``applied_batches`` table (ducklake/core.rs:74-80).

On a cluster the staging directory is object storage and the DuckDB file
is whatever warehouse you point the same SQL at — the sink's Spark side
never changes.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
from pyspark.sql import DataFrame

from etl_spark.streaming.sinks import Sink

# Spark type names (as they appear in SchemaDiff / payload_schema) →
# DuckDB DDL type names. 'string'/'long'/'double' happen to be DuckDB
# aliases, but the pipeline also emits names DuckDB does not accept
# ('timestamp_ntz', 'float' means 32-bit in Spark but is an alias for
# DOUBLE in DuckDB, ...) — every ALTER goes through this map.
_DUCK_TYPES = {
    "string": "VARCHAR",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "short": "SMALLINT",
    "smallint": "SMALLINT",
    "byte": "TINYINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "REAL",
    "real": "REAL",
    "boolean": "BOOLEAN",
    "binary": "BLOB",
    "date": "DATE",
    "timestamp": "TIMESTAMP WITH TIME ZONE",
    "timestamp_ntz": "TIMESTAMP",
    "timestamp_ltz": "TIMESTAMP WITH TIME ZONE",
}


def _duck_type(typ: str) -> str:
    """Map a Spark type name to a DuckDB DDL type. decimal(p,s) passes
    through (same spelling both sides); unknown names pass through so a
    caller handing us a genuine DuckDB type (tests do) still works."""
    t = typ.strip().lower()
    if t.startswith("decimal"):
        return typ
    return _DUCK_TYPES.get(t, typ)


#: envelope columns every change batch carries; everything else is data
_ENVELOPE = ("op", "commit_lsn", "tx_ordinal", "event_seq")


def _scan(staged: str) -> str:
    return f"read_parquet('{staged}/*.parquet')"


def _table_exists(con, table: str) -> bool:
    return con.execute(
        "SELECT 1 FROM information_schema.tables WHERE table_name = ?", [table]
    ).fetchone() is not None


def _table_columns(con, table: str) -> list[str]:
    return [
        r[0]
        for r in con.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name = ? ORDER BY ordinal_position", [table],
        ).fetchall()
    ]


def _staged_types(con, staged: str) -> dict[str, str]:
    """Column → DuckDB type of the staged parquet batch."""
    return {
        r[0]: r[1]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM {_scan(staged)}"
        ).fetchall()
    }


def _ensure_columns(con, table: str, want: list[str], types: dict[str, str]) -> None:
    """ALTER TABLE ADD any of ``want`` missing from the warehouse table
    (as nullable, typed from the staged parquet schema). This is how a
    pure ADD COLUMN (no default — the pipeline's SchemaDiff carries no
    ALTER for it, only the widened batch) reaches the warehouse table:
    the first batch that stages the new column adds it, with pre-DDL
    rows reading NULL — the same semantics as the parquet sinks."""
    have = set(_table_columns(con, table))
    for col in want:
        if col not in have:
            con.execute(
                f'ALTER TABLE "{table}" ADD COLUMN "{col}" {types[col]}'
            )
            have.add(col)


def _alter_table(con, table, renames=None, drops=None,
                 defaults=None, nullability=None) -> None:
    """SchemaDiff as real ALTER statements on ONE warehouse table
    (schema.rs:729-784), idempotent under batch replay (a rename whose
    source column no longer exists, or a drop of an already-dropped
    column, is skipped; nullability ALTERs are naturally idempotent)."""
    if not _table_exists(con, table):
        return
    cols = set(_table_columns(con, table))
    for old, new in (renames or []):
        if old in cols and new not in cols:
            con.execute(f'ALTER TABLE "{table}" RENAME COLUMN "{old}" TO "{new}"')
            cols.discard(old)
            cols.add(new)
    for col in (drops or []):
        if col in cols:
            con.execute(f'ALTER TABLE "{table}" DROP COLUMN "{col}"')
            cols.discard(col)
    for col, value, spark_typ in (defaults or []):
        typ = _duck_type(spark_typ)
        if col not in cols:
            # DDL takes no bind parameters: add the column, then backfill
            # existing rows with a parameterized UPDATE — in ONE
            # transaction. Autocommitted, a crash between the two
            # statements leaves the column added but not backfilled, and
            # the idempotent replay skips it (col already exists), so
            # pre-DDL rows would permanently read NULL instead of the
            # declared default.
            con.execute("BEGIN TRANSACTION")
            try:
                con.execute(f'ALTER TABLE "{table}" ADD COLUMN "{col}" {typ}')
                con.execute(
                    f'UPDATE "{table}" SET "{col}" = CAST(? AS {typ})', [value]
                )
                con.execute("COMMIT")
            except Exception:
                con.execute("ROLLBACK")
                raise
            cols.add(col)
    for col, nullable in (nullability or []):
        if col in cols:
            verb = "DROP NOT NULL" if nullable else "SET NOT NULL"
            con.execute(f'ALTER TABLE "{table}" ALTER COLUMN "{col}" {verb}')


class _DuckDBSink(Sink):
    """Shared body of the DuckDB sinks: the idempotent-sink contract of
    the reference's warehouse destinations — stage the batch, merge it,
    and record its batch id in ``applied_batches`` in the SAME
    transaction, so a replayed batch is a no-op (ducklake/core.rs:74-80;
    the contract the pipeline's whole-batch replay relies on).

    The base owns the ledger, staging, the ``write_changes`` skeleton
    (replay check → stage → widen → BEGIN → merge → ledger row →
    COMMIT), truncate, ALTERs (keys follow renames) and read-back, each
    looped over :meth:`_tables` — every DuckDB table that backs one
    logical table. A subclass supplies only its SQL:
    ``_snapshot_sql(table, cols, staged, snapshot_lsn)`` and
    ``_merge_sql(table, cols, staged)``, where ``cols`` are the batch's
    data (non-envelope) columns and ``staged`` the staged parquet dir.

    Every method opens its connection in a ``with`` block: a statement
    that raises closes the connection, which rolls back an open
    transaction and releases the database file for other connections."""

    def __init__(self, db_path: str, keys: dict[str, list[str]],
                 staging_dir: str | None = None):
        self.db_path = db_path
        self.keys = keys  # table -> replica identity columns
        self.staging_dir = staging_dir or tempfile.mkdtemp(prefix="etl_stage_")
        with self._con() as con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS applied_batches ("
                "  tbl VARCHAR, batch_id BIGINT, PRIMARY KEY (tbl, batch_id))"
            )

    def _con(self):
        return duckdb.connect(self.db_path)

    def _tables(self, table: str) -> list[str]:
        return [table]

    def _stage(self, table: str, df: DataFrame, tag: str) -> str:
        out = os.path.join(self.staging_dir, table, tag)
        df.write.mode("overwrite").parquet(out)
        return out

    # -- Sink ----------------------------------------------------------------
    def write_snapshot(self, table: str, df: DataFrame, snapshot_lsn: int = 0) -> None:
        staged = self._stage(table, df, "snapshot")
        cols = [c for c in df.columns if c not in _ENVELOPE]
        with self._con() as con:
            for t in self._tables(table):
                con.execute(f'DROP TABLE IF EXISTS "{t}"')
            for sql in self._snapshot_sql(table, cols, staged, snapshot_lsn):
                con.execute(sql)
            con.execute("DELETE FROM applied_batches WHERE tbl = ?", [table])

    def write_changes(self, table: str, df: DataFrame, batch_id: int) -> None:
        with self._con() as con:
            if con.execute(
                "SELECT 1 FROM applied_batches WHERE tbl = ? AND batch_id = ?",
                [table, batch_id],
            ).fetchone():
                return  # replay: already durable in the warehouse
            staged = self._stage(table, df, f"batch_{batch_id}")
            cols = [c for c in df.columns if c not in _ENVELOPE]
            # a pure ADD COLUMN arrives only as a wider batch — add it to
            # every backing table before the merge (typed from the staged
            # parquet)
            types = _staged_types(con, staged)
            for t in self._tables(table):
                _ensure_columns(con, t, cols, types)
            con.execute("BEGIN")
            for sql in self._merge_sql(table, cols, staged):
                con.execute(sql)
            con.execute("INSERT INTO applied_batches VALUES (?, ?)", [table, batch_id])
            con.execute("COMMIT")

    def reconcile_keys(self, table: str, keys) -> None:
        self.keys[table] = list(keys)

    def truncate(self, table: str) -> None:
        with self._con() as con:
            for t in self._tables(table):
                if _table_exists(con, t):
                    con.execute(f'DELETE FROM "{t}"')
            con.execute("DELETE FROM applied_batches WHERE tbl = ?", [table])

    def apply_schema_change(self, table, renames=None, drops=None,
                            defaults=None, nullability=None) -> None:
        """The SchemaDiff as ALTERs on every backing table, so later
        merges see the evolved payload."""
        with self._con() as con:
            for t in self._tables(table):
                _alter_table(con, t, renames, drops, defaults, nullability)
        # key columns follow renames so the staged MERGE keeps matching
        ren = dict(renames or [])
        if table in self.keys:
            self.keys[table] = [ren.get(k, k) for k in self.keys[table]]

    def read(self, table: str):
        """Driver-side read-back (tests): list of dict rows."""
        with self._con() as con:
            return con.execute(f'SELECT * FROM "{table}"').df().to_dict("records")


class DuckDBCurrentStateSink(_DuckDBSink):
    """Current-state (LWW) tables materialized inside a DuckDB database.

    DELIVERY CONTRACT — what the LWW protection spans. A key's
    ``_etl_seq`` lives WITH its row, so it dies with the row's tombstone:
    after a DELETE wins, nothing in the warehouse remembers the key's
    high-water sequence. Protection therefore covers exactly what Spark
    micro-batches deliver — (a) batches arriving in order and (b)
    whole-batch replays of already-applied batches (absorbed by the
    ``applied_batches`` ledger). It does NOT cover arbitrary cross-batch
    reordering: a never-applied batch arriving AFTER a newer batch whose
    tombstone deleted a key would resurrect that key, because the stale
    row's NOT-EXISTS insert sees no surviving row to compare sequences
    against. This is the same stance as the reference's DuckLake
    destination (ducklake/core.rs:1133-1216) and deliberately weaker than
    BigQuery's persisted ``_CHANGE_SEQUENCE_NUMBER``
    (bigquery/core.rs:1391-1407), which survives reordering by keeping
    the sequence in the destination table even through deletes. The
    pipeline's frame queue guarantees ordered delivery + whole-batch
    replay, so the stronger contract is unnecessary here; pinned by
    ``tests/test_streaming.py::test_duckdb_sink_delivery_contract``."""

    def _snapshot_sql(self, table, cols, staged, snapshot_lsn):
        return [
            f'CREATE TABLE "{table}" AS '
            f"SELECT *, CAST({snapshot_lsn} AS HUGEINT) AS _etl_seq "
            f"FROM {_scan(staged)}"
        ]

    def _merge_sql(self, table, cols, staged):
        keys = self.keys[table]
        key_eq = " AND ".join(f't."{k}" = w.{k}' for k in keys)
        col_list = ", ".join(f'"{c}"' for c in cols)
        # winner per key within the batch (LWW by event_seq), then delete
        # superseded target rows and insert survivors — the staging-merge
        # pattern every reference warehouse destination uses
        return [
            f"CREATE TEMP TABLE w AS "
            f"SELECT * FROM ("
            f"  SELECT *, row_number() OVER ("
            f"    PARTITION BY {', '.join(keys)} ORDER BY CAST(event_seq AS HUGEINT) DESC) AS rn"
            f"  FROM {_scan(staged)}) WHERE rn = 1",
            f'DELETE FROM "{table}" t USING w WHERE {key_eq} AND CAST(w.event_seq AS HUGEINT) > t._etl_seq',
            # explicit target column list: ALTER ADD appends at the table's
            # end (after _etl_seq), so a positional INSERT would misalign
            # the first post-ADD batch — name every column on both sides
            f'INSERT INTO "{table}" ({col_list}, _etl_seq) '
            f"SELECT {col_list}, CAST(event_seq AS HUGEINT) FROM w "
            f"WHERE op <> 'DELETE' AND NOT EXISTS ("
            f'  SELECT 1 FROM "{table}" t WHERE {key_eq})',
        ]


class DuckDBScd2Sink(_DuckDBSink):
    """Versioned-dimension (SCD type-2) tables maintained inside a DuckDB
    database — the warehouse twin of :class:`~etl_spark.streaming.sinks.
    ParquetScd2Sink`, with the same division of labor as
    :class:`DuckDBCurrentStateSink`: Spark stages the micro-batch as
    parquet; the WAREHOUSE executes the versioned merge in SQL.

    Storage: ``{table}__events`` holds the key's full event history
    (including DELETE tombstones — they close versions but never surface),
    deduplicated on (key, _etl_seq) so replayed rows are inert; ``{table}``
    holds the derived version rows (valid_from / valid_to / is_current).
    Per batch, ONE transaction: append the batch's new events, then
    recompute versions for ONLY the touched keys (delete + re-derive via a
    per-key lead window over that key's history) — O(batch + touched
    keys' history), the same incremental shape as the bucket sink, with
    ``applied_batches`` absorbing whole-batch replays. Delivery contract
    identical to :class:`DuckDBCurrentStateSink` (ordered batches +
    whole-batch replays; the event-history dedup additionally makes
    PARTIAL replays of mixed batches inert, which the current-state sink
    cannot promise after tombstones). Schema changes and pure ADD COLUMNs
    reach BOTH tables."""

    def _tables(self, table: str) -> list[str]:
        return [table, f"{table}__events"]

    def _derive_sql(self, table: str, keys: list[str], payload: list[str],
                    key_filter: str) -> str:
        """INSERT..SELECT re-deriving version rows from the event history
        (the cdc_scd2_history window): every INSERT/UPDATE opens a version
        at its commit LSN; the key's next event — update OR delete —
        closes it; DELETEs emit no version row."""
        key_list = ", ".join(f'"{k}"' for k in keys)
        pay_list = "".join(f', "{c}"' for c in payload)
        # explicit target columns: post-ADD the version table's physical
        # order ends with the added column, not is_current/payload order
        return (
            f'INSERT INTO "{table}" '
            f"({key_list}, op, valid_from, tx_ordinal, valid_to, is_current{pay_list}) "
            f"SELECT {key_list}, op, valid_from, tx_ordinal, valid_to, "
            f"       (valid_to IS NULL AND op <> 'DELETE') AS is_current"
            f"       {pay_list} "
            f"FROM ("
            f"  SELECT *, commit_lsn AS valid_from,"
            f"         lead(commit_lsn) OVER ("
            f"           PARTITION BY {key_list} ORDER BY _etl_seq) AS valid_to"
            f'  FROM "{table}__events" e {key_filter}'
            f") WHERE op <> 'DELETE'"
        )

    def _snapshot_sql(self, table, cols, staged, snapshot_lsn):
        keys = self.keys[table]
        payload = [c for c in cols if c not in keys]
        key_list = ", ".join(f'"{k}"' for k in keys)
        pay_list = "".join(f', "{c}"' for c in payload)
        return [
            f'CREATE TABLE "{table}__events" AS '
            f"SELECT {key_list}{pay_list}, 'INSERT' AS op,"
            f"       CAST({snapshot_lsn} AS BIGINT) AS commit_lsn,"
            f"       CAST(0 AS BIGINT) AS tx_ordinal,"
            f"       CAST({snapshot_lsn} AS HUGEINT) * 18446744073709551616 AS _etl_seq "
            f"FROM {_scan(staged)}",
            f'CREATE TABLE "{table}" AS '
            f"SELECT {key_list}, op, commit_lsn AS valid_from, tx_ordinal,"
            f"       CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current"
            f"{pay_list} "
            f'FROM "{table}__events" WHERE 1 = 0',
            self._derive_sql(table, keys, payload, ""),
        ]

    def _merge_sql(self, table, cols, staged):
        keys = self.keys[table]
        key_list = ", ".join(f'"{k}"' for k in keys)
        key_eq = " AND ".join(f'e."{k}" = s."{k}"' for k in keys)
        tkey_eq = " AND ".join(f't."{k}" = s."{k}"' for k in keys)
        payload = [c for c in cols if c not in keys]
        ev_list = ", ".join(
            f'"{c}"' for c in keys + payload + ["op", "commit_lsn", "tx_ordinal"]
        )
        touched = f"(SELECT DISTINCT {key_list} FROM s) s"
        return [
            f"CREATE TEMP TABLE s AS "
            f"SELECT * EXCLUDE (event_seq), CAST(event_seq AS HUGEINT) AS _etl_seq "
            f"FROM {_scan(staged)}",
            # append only events the history hasn't seen (partial-replay
            # belt on top of the whole-batch applied_batches ledger)
            f'INSERT INTO "{table}__events" ({ev_list}, _etl_seq) '
            f"SELECT {ev_list}, _etl_seq FROM s "
            f"WHERE NOT EXISTS ("
            f'  SELECT 1 FROM "{table}__events" e'
            f"  WHERE {key_eq} AND e._etl_seq = s._etl_seq)",
            # re-derive ONLY the touched keys' version rows
            f'DELETE FROM "{table}" t WHERE EXISTS ('
            f"  SELECT 1 FROM {touched} WHERE {tkey_eq})",
            self._derive_sql(
                table, keys, payload,
                f"WHERE EXISTS (SELECT 1 FROM {touched} WHERE {key_eq})",
            ),
        ]


class DuckDBChangelogSink(_DuckDBSink):
    """Append-only changelog tables inside a DuckDB database — the
    warehouse twin of the ClickHouse/Iceberg changelog destinations
    (SURVEY D2/D3): every change event lands exactly once, in total
    ``_etl_seq`` order, with no merge. Whole-batch replays are absorbed
    by the ``applied_batches`` ledger; partial replays by the per-event
    sequence dedup (``_etl_seq`` is globally unique — commit LSN packed
    above the intra-transaction ordinal)."""

    def __init__(self, db_path: str, staging_dir: str | None = None):
        super().__init__(db_path, {}, staging_dir)

    def _snapshot_sql(self, table, cols, staged, snapshot_lsn):
        return [
            f'CREATE TABLE "{table}" AS '
            f"SELECT *, 'INSERT' AS op, CAST({snapshot_lsn} AS BIGINT) AS commit_lsn,"
            f"       CAST(0 AS BIGINT) AS tx_ordinal,"
            f"       CAST({snapshot_lsn} AS HUGEINT) * 18446744073709551616 AS _etl_seq "
            f"FROM {_scan(staged)}"
        ]

    def _merge_sql(self, table, cols, staged):
        col_list = ", ".join(f'"{c}"' for c in cols)
        return [
            f'INSERT INTO "{table}" ({col_list}, op, commit_lsn, tx_ordinal, _etl_seq) '
            f"SELECT {col_list}, op, commit_lsn, tx_ordinal,"
            f"       CAST(event_seq AS HUGEINT) AS _etl_seq "
            f"FROM {_scan(staged)} s "
            f"WHERE NOT EXISTS ("
            f'  SELECT 1 FROM "{table}" t'
            f"  WHERE t._etl_seq = CAST(s.event_seq AS HUGEINT))"
        ]
