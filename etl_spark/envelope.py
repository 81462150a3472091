"""CDC change-event envelope: schema + total-ordering sequence keys.

Mirrors the reference's event model (crates/etl/src/event.rs:249-267) and
its total ordering key ``EventSequenceKey {commit_lsn, tx_ordinal}``
(event.rs:323-344), which packs to a u128 (event.rs:341-343) and renders as
the hex pair ``"{commit_lsn:016x}/{start_lsn:016x}"`` (event.rs:353-375)
for destination sequence columns.

Spark-native encodings:

- ``event_seq``: ``DECIMAL(38,0) = commit_lsn * 2^64 + tx_ordinal`` — a
  single sortable column usable in window ``ORDER BY`` and MERGE
  tie-breaking. DECIMAL(38,0) comfortably holds the u128 range used in
  practice (commit_lsn is a u64 WAL offset; tx_ordinal a small counter).
- ``event_seq_hex``: the reference's BigQuery ``_CHANGE_SEQUENCE_NUMBER``
  rendering, built JVM-side with ``format_string`` (no UDF).

Everything here is pure Column algebra — zero Python row paths — so the
envelope survives whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Operations carried by the envelope. BEGIN/COMMIT are transaction
#: delimiters (reference event.rs:251-253); RELATION is the schema-change
#: notification (event.rs:263); TRUNCATE cascades table resets (event.rs:261).
OPS = ["BEGIN", "COMMIT", "INSERT", "UPDATE", "DELETE", "TRUNCATE", "RELATION"]

#: Data-bearing ops that mutate a row keyed by the replica identity.
ROW_OPS = ["INSERT", "UPDATE", "DELETE"]

#: 2^64 — the shift used by the reference when packing
#: (commit_lsn, tx_ordinal) into a u128 (event.rs:341-343).
SEQ_SHIFT = 1 << 64

#: Generic (un-typed) envelope: before/after are JSON strings so one stream
#: can multiplex heterogeneous tables; a per-table typed view replaces them
#: with structs (see sources/cdc.py).
GENERIC_ENVELOPE = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("table", T.StringType(), True),
        T.StructField("commit_lsn", T.LongType(), False),
        T.StructField("start_lsn", T.LongType(), True),
        T.StructField("tx_ordinal", T.LongType(), False),
        T.StructField("after", T.StringType(), True),
        T.StructField("before", T.StringType(), True),
        # FULL | KEY | NONE — reference OldTableRow (table_row.rs:193-198)
        T.StructField("before_kind", T.StringType(), True),
        # replicated-column indexes missing from `after` (TOAST partials,
        # table_row.rs:68-77)
        T.StructField("missing_cols", T.ArrayType(T.IntegerType()), True),
        # schema version the event decodes against (schema.rs:29-41)
        T.StructField("schema_snapshot_lsn", T.LongType(), True),
    ]
)


#: Largest commit_lsn the DECIMAL(38,0) packing can hold:
#: seq = commit*2^64 + ordinal must stay < 10^38, so commit < 10^38/2^64
#: ≈ 5.4e18 (just under 2^63). A Postgres LSN is total WAL bytes written —
#: reaching this bound means ~5.4 exabytes of WAL through one slot, so the
#: domain is not a practical restriction; it IS validated (not crashed
#: into) via :func:`validate_envelope`.
MAX_COMMIT_LSN = 10**38 // SEQ_SHIFT - 1


def event_seq(commit_lsn: Column | str = "commit_lsn", tx_ordinal: Column | str = "tx_ordinal") -> Column:
    """Total-ordering key as DECIMAL(38,0): ``commit_lsn * 2^64 + tx_ordinal``.

    Reference: event.rs:341-343 (`to_u128`). Sortable, groupable, and exact
    (no float). Use as the version column for LWW merges. Domain:
    ``commit_lsn <= MAX_COMMIT_LSN`` (~2^62.2) — DECIMAL(38,0) cannot hold
    the full u128 range; under ANSI semantics an out-of-domain commit_lsn
    raises rather than silently wrapping, and ``validate_envelope`` flags
    it up front.
    """
    c = F.col(commit_lsn) if isinstance(commit_lsn, str) else commit_lsn
    o = F.col(tx_ordinal) if isinstance(tx_ordinal, str) else tx_ordinal
    shift = F.lit(str(SEQ_SHIFT)).cast(T.DecimalType(38, 0))  # 2^64 > Java long
    return (
        c.cast(T.DecimalType(38, 0)) * shift + o.cast(T.DecimalType(38, 0))
    ).alias("event_seq")


def event_seq_hex(commit_lsn: Column | str = "commit_lsn", start_lsn: Column | str = "start_lsn") -> Column:
    """Hex sequence string ``"{commit_lsn:016x}/{start_lsn:016x}"``.

    Reference: event.rs:353-375 (BigQuery ``_CHANGE_SEQUENCE_NUMBER``
    rendering; lexicographic order == numeric order at fixed width).
    """
    c = F.col(commit_lsn) if isinstance(commit_lsn, str) else commit_lsn
    s = F.col(start_lsn) if isinstance(start_lsn, str) else start_lsn
    return F.format_string("%016x/%016x", c, s).alias("event_seq_hex")


def with_sequence(df, commit_lsn: str = "commit_lsn", tx_ordinal: str = "tx_ordinal", start_lsn: str = "start_lsn"):
    """Attach ``event_seq`` and ``event_seq_hex`` to an envelope DataFrame."""
    out = df.withColumn("event_seq", event_seq(commit_lsn, tx_ordinal))
    if start_lsn in df.columns:
        out = out.withColumn("event_seq_hex", event_seq_hex(commit_lsn, start_lsn))
    return out


def validate_envelope(df) -> list[str]:
    """Static checks that a DataFrame is a usable generic envelope.

    Returns a list of problems (empty == valid). Schema-level only — cheap,
    no job is triggered.
    """
    problems = []
    names = set(df.columns)
    for required in ("op", "commit_lsn", "tx_ordinal"):
        if required not in names:
            problems.append(f"missing required envelope column: {required}")
    return problems


def check_lsn_domain(df, commit_lsn: str = "commit_lsn") -> int:
    """Count rows whose commit_lsn exceeds :data:`MAX_COMMIT_LSN` (the
    DECIMAL(38,0) packing domain). Non-zero means the source is corrupt —
    run before trusting a new feed; one Spark job."""
    return df.filter(
        F.col(commit_lsn).cast(T.DecimalType(38, 0)) > F.lit(str(MAX_COMMIT_LSN)).cast(T.DecimalType(38, 0))
    ).count()
