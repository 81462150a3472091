"""Sim-harness change envelopes derived from the driver's tables.

The reference's WAL stream (SURVEY §2.1 S3: pgoutput frames → typed
events, crates/etl/src/postgres/stream/replication_message.rs) reaches
the engine as files in a source directory, which
:meth:`~etl_spark.streaming.pipeline.Pipeline.run_until_drained` applies
batch by batch. This module derives such envelopes deterministically
from the driver's ``events`` table — :func:`envelope_from_events` and
:func:`envelope_with_identity` — for tests, bench, and the correctness
gate (their DuckDB-SQL mirror lives in ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.envelope import with_sequence
from etl_spark.io import read_table


# ---------------------------------------------------------------------------
# Sim harness: deterministic envelope from the driver's `events` table
# ---------------------------------------------------------------------------

#: event_type → CDC op for the sim derivation. signup creates the user row,
#: error deletes it, activity events update it.
OP_MAPPING_SQL = (
    "CASE event_type WHEN 'signup' THEN 'INSERT' WHEN 'error' THEN 'DELETE' "
    "ELSE 'UPDATE' END"
)

#: Events per simulated transaction.
TX_SIZE = 10


def envelope_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic CDC envelope from ``events.parquet``.

    Shape: each block of :data:`TX_SIZE` consecutive ``event_id``s is one
    transaction (``commit_lsn`` = block index, ``tx_ordinal`` = offset);
    the replica identity is ``user_id``; payload columns are ``value`` and
    ``props``. ``event_seq`` then restores exactly the source's
    ``event_id`` order, so every downstream materialization is
    deterministic and oracle-checkable.
    """
    ev = read_table(spark, sf_dir, "events")
    env = ev.select(
        F.expr(OP_MAPPING_SQL).alias("op"),
        F.lit("public.users").alias("table"),
        (F.col("event_id").cast("long") / TX_SIZE).cast("long").alias("commit_lsn"),
        F.col("event_id").cast("long").alias("start_lsn"),
        (F.col("event_id") % TX_SIZE).cast("long").alias("tx_ordinal"),
        F.col("user_id").alias("pk"),
        F.col("value"),
        F.col("props"),
        F.col("ts"),
    )
    return with_sequence(env)


#: Identity-change offset for the sim: a ``purchase`` moves the row to a new
#: identity ``user_id + IDENTITY_SHIFT`` (disjoint from real user ids).
IDENTITY_SHIFT = 1_000_000


def envelope_with_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sim envelope exercising REPLICA IDENTITY DEFAULT old-row shapes.

    Mirrors the reference's identity matrix
    (crates/etl/tests/pipeline_replica_identity.rs, old-row model
    table_row.rs:193-198): the old image travels as a JSON ``before``
    string whose kind depends on the operation —

    - ``signup`` → INSERT: full ``after``, no old row (``before_kind`` NONE);
    - ``click``/``view`` → non-identity UPDATE: full ``after``, NO old row
      (pgoutput sends no old tuple when the identity is unchanged);
    - ``purchase`` → identity-CHANGING update: ``after`` addressed at
      ``user_id + IDENTITY_SHIFT``, ``before`` is the KEY-ONLY old row
      ``{"user_id": old}``;
    - ``error`` → DELETE: no new image, ``before`` is the key-only old row.

    ``value``/``props`` stay typed (doubles through JSON would break
    cross-engine text parity); only the identity routes through JSON.
    """
    ev = read_table(spark, sf_dir, "events")
    op = F.expr(OP_MAPPING_SQL)
    is_ident_change = F.col("event_type") == "purchase"
    new_key = F.when(
        is_ident_change, F.col("user_id") + IDENTITY_SHIFT
    ).otherwise(F.col("user_id"))
    after = F.when(
        op != "DELETE", F.format_string('{"user_id": %d}', new_key)
    )
    before = F.when(
        (op == "DELETE") | is_ident_change,
        F.format_string('{"user_id": %d}', F.col("user_id")),
    )
    env = ev.select(
        op.alias("op"),
        F.lit("public.users").alias("table"),
        (F.col("event_id").cast("long") / TX_SIZE).cast("long").alias("commit_lsn"),
        F.col("event_id").cast("long").alias("start_lsn"),
        (F.col("event_id") % TX_SIZE).cast("long").alias("tx_ordinal"),
        after.alias("after"),
        before.alias("before"),
        F.when(before.isNotNull(), F.lit("KEY")).otherwise(F.lit("NONE")).alias("before_kind"),
        F.col("value"),
        F.col("props"),
    )
    return with_sequence(env)
