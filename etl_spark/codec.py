"""Typed decode of Postgres text wire values → Spark columns.

This is the engine's scalar-function library, mirroring the reference's
codec layer (``parse_cell_from_postgres_text`` dispatch,
crates/etl/src/postgres/codec/text.rs:33-150) and the Cell value model
(crates/etl/src/data/cell.rs:19-58). Mapping policy (SURVEY §1.1):

- every function is a pure ``Column`` expression (JVM, codegen) except the
  PG array-literal parser, which has no Spark built-in equivalent — that one
  is an Arrow-vectorized pandas UDF with a fast Column-only path for
  unquoted element types;
- ``numeric`` decodes to DECIMAL(38,s) with the reference's special values
  (``NaN``, ``Infinity``, ``-Infinity`` — etl-postgres/src/numeric.rs:70-100)
  and >38-digit values preserved losslessly in a STRING side-channel
  (``pg_numeric`` returns a struct);
- reject rules follow crates/etl/tests/value_roundtrip.rs:14-18 — BC dates,
  year > 9999, ``infinity`` timestamps and ``24:00:00`` times decode to NULL
  (Spark columns can't raise per-row; NULL + a validity companion column is
  the distributed-friendly contract).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# Booleans / integers / floats  (text.rs:34-59)
# ---------------------------------------------------------------------------

def pg_bool(col: Column | str) -> Column:
    """``t``/``f`` → boolean (text.rs:34). Anything else → NULL."""
    c = _c(col)
    return F.when(c == "t", F.lit(True)).when(c == "f", F.lit(False)).otherwise(F.lit(None))


def pg_int2(col: Column | str) -> Column:
    return _c(col).cast(T.ShortType())


def pg_int4(col: Column | str) -> Column:
    return _c(col).cast(T.IntegerType())


def pg_int8(col: Column | str) -> Column:
    return _c(col).cast(T.LongType())


def pg_oid(col: Column | str) -> Column:
    """oid is u32; Spark has no unsigned so widen to long (SURVEY §1.1)."""
    return _c(col).cast(T.LongType())


def pg_float4(col: Column | str) -> Column:
    """float4 incl. ``NaN``/``Infinity``/``-Infinity`` (text.rs:52-59).

    Spark's cast accepts ``NaN``/``Infinity`` spellings natively.
    """
    return _c(col).cast(T.FloatType())


def pg_float8(col: Column | str) -> Column:
    return _c(col).cast(T.DoubleType())


# ---------------------------------------------------------------------------
# numeric  (text.rs:60-65; etl-postgres/src/numeric.rs)
# ---------------------------------------------------------------------------

def pg_numeric(col: Column | str, precision: int = 38, scale: int = 9) -> Column:
    """numeric → struct{value DECIMAL(p,s), special STRING, text STRING}.

    The reference's PgNumeric supports NaN/±Infinity and up to 0x3FFF base-1e4
    digits (numeric.rs:70-100) — beyond DecimalType's range. Contract:
    ``value`` is the in-range decimal (NULL when special/overflow), ``special``
    is one of NaN/Infinity/-Infinity (else NULL), ``text`` preserves the exact
    source text for lossless round-trip.
    """
    c = _c(col)
    u = F.upper(c)
    # canonical reference spellings (numeric.rs:70-100 Display impl)
    special = (
        F.when(u == "NAN", F.lit("NaN"))
        .when(u.isin("INFINITY", "+INFINITY", "INF", "+INF"), F.lit("Infinity"))
        .when(u.isin("-INFINITY", "-INF"), F.lit("-Infinity"))
    )
    return F.struct(
        # try_cast, not cast: under ANSI mode (Spark 4 default) a >38-digit
        # or out-of-scale numeric must NULL (the docstring contract), not
        # kill the job — same reject-not-crash policy as pg_date/pg_timestamp.
        F.when(special.isNull(), c.try_cast(T.DecimalType(precision, scale))).alias("value"),
        special.alias("special"),
        c.alias("text"),
    )


# ---------------------------------------------------------------------------
# bytea  (codec/hex.rs:11)
# ---------------------------------------------------------------------------

def pg_bytea(col: Column | str) -> Column:
    r"""``\x<hex>`` → binary (parse_bytea_hex_string, codec/hex.rs:11)."""
    c = _c(col)
    return F.when(c.startswith("\\x"), F.unhex(F.substring(c, 3, 1 << 30)))


# ---------------------------------------------------------------------------
# temporal  (codec/time.rs:12-80; reject rules value_roundtrip.rs:14-18)
# ---------------------------------------------------------------------------

_TIME_RE = r"^(2[0-3]|[01][0-9]):[0-5][0-9]:[0-5][0-9](\.[0-9]{1,6})?$"


def pg_date(col: Column | str) -> Column:
    """date text → DATE. Rejects (→NULL) ``infinity``, BC dates, year>9999.

    ``try_cast``, not ``to_date``: under ANSI semantics an in-grammar but
    invalid value (month 99) must reject-not-crash — one poison row cannot
    be allowed to kill a 100 TB scan (value_roundtrip.rs:14-18 policy).
    """
    c = _c(col)
    ok = c.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
    return F.when(ok, c.try_cast("date"))


def pg_time(col: Column | str) -> Column:
    """time text → micros-since-midnight LONG (no native Spark time type).

    ``24:00:00`` rejected → NULL (value_roundtrip.rs:16).
    """
    c = _c(col)
    h = F.split(c, ":").getItem(0).cast("long")
    m = F.split(c, ":").getItem(1).cast("long")
    s = F.split(c, ":").getItem(2).cast("double")
    micros = (h * 3600 + m * 60) * 1_000_000 + F.round(s * 1_000_000).cast("long")
    return F.when(c.rlike(_TIME_RE), micros)


def pg_timetz(col: Column | str) -> Column:
    """timetz → struct{micros LONG, offset_secs INT} (SURVEY §1.1; fixed
    offsets per etl-postgres/src/time.rs:81-95)."""
    c = _c(col)
    time_part = F.regexp_extract(c, r"^([0-9:\.]+)", 1)
    off = F.regexp_extract(c, r"([+-][0-9]{2}(:?[0-9]{2})?(:?[0-9]{2})?)$", 1)
    sign = F.when(off.startswith("-"), F.lit(-1)).otherwise(F.lit(1))
    digits = F.regexp_replace(off, r"[+\-:]", "")
    oh = F.substring(digits, 1, 2).cast("int")
    om = F.coalesce(F.nullif(F.substring(digits, 3, 2), F.lit("")).cast("int"), F.lit(0))
    os_ = F.coalesce(F.nullif(F.substring(digits, 5, 2), F.lit("")).cast("int"), F.lit(0))
    return F.struct(
        pg_time(time_part).alias("micros"),
        (sign * (oh * 3600 + om * 60 + os_)).alias("offset_secs"),
    )


def pg_timestamp(col: Column | str) -> Column:
    """timestamp (no tz) → TIMESTAMP_NTZ; rejects ``infinity``/BC/year>9999
    (and any in-grammar invalid value — ``try_cast``, reject-not-crash)."""
    c = _c(col)
    ok = c.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9:\.]+$")
    return F.when(ok, c.try_cast("timestamp_ntz"))


# ---------------------------------------------------------------------------
# uuid / json  (text.rs:117-134)
# ---------------------------------------------------------------------------

_UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"


def pg_uuid(col: Column | str) -> Column:
    """uuid → canonical lowercase string (text.rs:117-125)."""
    c = _c(col)
    return F.when(c.rlike(_UUID_RE), F.lower(c))


def json_get(col: Column | str, path: str) -> Column:
    """Field access on a JSON cell (``$.`` JSONPath)."""
    return F.get_json_object(_c(col), path)


# ---------------------------------------------------------------------------
# 1-D array literals  (text.rs:228 parse_cell_from_postgres_text_array)
# ---------------------------------------------------------------------------

_ELEM_CASTS = {
    "bool": pg_bool,
    "int2": pg_int2,
    "int4": pg_int4,
    "int8": pg_int8,
    "float4": pg_float4,
    "float8": pg_float8,
    "text": lambda c: _c(c),
    "date": pg_date,
    "uuid": pg_uuid,
}


def pg_array_simple(col: Column | str, elem_type: str = "int4") -> Column:
    """Fast Column-only parser for UNQUOTED array literals.

    Handles ``{1,2,NULL}`` and explicit lower-bound syntax ``[0:1]={7,8}``
    (text.rs tests :320-415). Multidimensional literals (leading ``{{``) →
    NULL, mirroring the reference's reject-not-corrupt rule
    (value_roundtrip.rs:17-18). Quoted/escaped elements need
    :func:`pg_array_full`.
    """
    c = _c(col)
    body = F.regexp_replace(c, r"^\[[-0-9]+:[-0-9]+\]=", "")  # strip bounds
    multidim = body.startswith("{{")
    inner = F.regexp_extract(body, r"^\{(.*)\}$", 1)
    cast = _ELEM_CASTS[elem_type]
    arr = F.when(
        inner == "",
        F.array().cast(T.ArrayType(T.StringType())),
    ).otherwise(F.split(inner, ","))
    typed = F.transform(arr, lambda x: F.when(x != "NULL", cast(x)))
    return F.when(~multidim & body.rlike(r"^\{.*\}$"), typed)


_ARRAY_TOKEN = re.compile(
    r'"((?:[^"\\]|\\.)*)"'   # quoted element with escapes
    r"|([^,{}]+)"            # bare element
    r"|(,)"
)


def _parse_pg_array_literal(text: str):
    """Python reference implementation of the PG 1-D array literal grammar.

    Returns a list of (str|None) or None for invalid/multidimensional input.
    Mirrors crates/etl/src/postgres/codec/text.rs:228 semantics: quoted
    elements unescape ``\\"`` and ``\\\\``; bare ``NULL`` is a null element;
    explicit bounds prefix ``[l:u]=`` is accepted and ignored (the values,
    not the bounds, round-trip); multidim → None (reject).
    """
    if text is None:
        return None
    s = text.strip()
    eq = re.match(r"^\[[-0-9]+:[-0-9]+\]=", s)
    if eq:
        s = s[eq.end():]
    if not (s.startswith("{") and s.endswith("}")):
        return None
    body = s[1:-1]
    if body.startswith("{"):
        return None  # multidimensional — reject, don't corrupt
    if body == "":
        return []
    out, i, n = [], 0, len(body)
    while i < n:
        if body[i] == '"':
            j, buf = i + 1, []
            while j < n:
                ch = body[j]
                if ch == "\\":
                    buf.append(body[j + 1]); j += 2
                elif ch == '"':
                    break
                else:
                    buf.append(ch); j += 1
            out.append("".join(buf))
            i = j + 1
            if i < n and body[i] == ",":
                i += 1
        else:
            j = body.find(",", i)
            if j == -1:
                j = n
            tok = body[i:j]
            out.append(None if tok == "NULL" else tok)
            i = j + 1
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def _pg_array_udf(s: pd.Series) -> pd.Series:
    return s.map(_parse_pg_array_literal)


def pg_array_full(col: Column | str, elem_type: str = "text") -> Column:
    """Full-fidelity PG array-literal parse (quoted elements, escapes,
    explicit bounds, NULL elements; multidim rejected → NULL).

    Arrow-vectorized pandas UDF producing ARRAY<STRING>, then a JVM-side
    element cast — the only Python hop the codec layer has, and it is
    batch-at-a-time, not row-at-a-time.
    """
    raw = _pg_array_udf(_c(col))
    cast = _ELEM_CASTS[elem_type]
    if elem_type == "text":
        return raw
    return F.transform(raw, lambda x: cast(x))


# ---------------------------------------------------------------------------
# COPY text rows  (codec/table_row.rs:47)
# ---------------------------------------------------------------------------

#: Sentinel for the single-pass COPY unescape. NUL can never occur in
#: Postgres text data (the backend rejects it), so it is collision-free.
_COPY_SENTINEL = "\x00"

#: COPY escape sequences → characters (table_row.rs:47 single-pass set).
_COPY_ESCAPES = (("t", "\t"), ("n", "\n"), ("r", "\r"), ("b", "\b"), ("f", "\f"), ("v", "\v"))


def _copy_unescape(x: Column) -> Column:
    r"""Single-pass-equivalent COPY unescape. ``\\`` is neutralized to a
    sentinel FIRST so input ``\\t`` (escaped backslash + t, meaning literal
    backslash-then-t) is NOT misread as an escaped tab; the sentinel is
    restored to a single backslash LAST. Order mirrors the reference's
    one-pass scanner (codec/table_row.rs:47)."""
    out = F.regexp_replace(x, r"\\\\", _COPY_SENTINEL)
    for esc, ch in _COPY_ESCAPES:
        out = F.regexp_replace(out, "\\\\" + esc, ch)
    return F.regexp_replace(out, _COPY_SENTINEL, "\\\\")


def copy_text_escape(col: Column | str) -> Column:
    r"""Escape one cell for the COPY text format (the encode side of
    ``table_row.rs:47``; F12 destination-value encoding for COPY).
    Backslash FIRST (so data backslashes don't collide with the escapes
    added after), then TAB/NL/CR. Literal ``F.replace`` — no regex."""
    c = _c(col)
    out = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    for esc, ch in (("t", "\t"), ("n", "\n"), ("r", "\r")):
        out = F.replace(out, F.lit(ch), F.lit("\\" + esc))
    return out


def copy_text_encode(cells: list[Column]) -> Column:
    r"""Render one COPY text line from cell columns: NULL → ``\N``, cells
    escaped (:func:`copy_text_escape`), TAB-joined. Inverse of
    :func:`copy_text_split` + unescape — ``split(encode(row)) == row`` for
    any row (the round-trip contract the gate query proves)."""
    rendered = [
        F.coalesce(copy_text_escape(c.cast("string")), F.lit("\\N")) for c in cells
    ]
    return F.concat_ws("\t", *rendered)


def copy_text_split(col: Column | str, n_cols: int) -> Column:
    r"""Split one Postgres COPY text line into its raw cells.

    Tab-separated; ``\N`` is NULL; COPY escapes (``\t``, ``\n``, ``\r``,
    ``\b``, ``\f``, ``\v``, ``\\``) unescaped JVM-side via the
    backslash-first sentinel pass (codec/table_row.rs:47). Returns
    ARRAY<STRING> of length ``n_cols`` (extra/short rows → NULL row).
    """
    c = _c(col)
    cells = F.split(c, "\t", -1)
    unescaped = F.transform(
        cells,
        lambda x: F.when(x != "\\N", _copy_unescape(x)),
    )
    return F.when(F.size(cells) == n_cols, unescaped)
