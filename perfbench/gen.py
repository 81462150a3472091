"""Seeded workload generator and the plain-Python oracle.

Everything here is deterministic in ``(workload, seed, seconds)`` and
independent of the engine: the replication server (``server.py``) encodes
the generated transactions into pgoutput frames, and the benchmark runner
(``run.py``) regenerates the same transactions and folds them into the
expected destination state. Nothing in this module imports Spark.

Write-ahead-log model. The whole run's transactions are generated up
front, in WAL order, tagged with the phase that makes them visible:

- ``warm``     — throwaway tables the untimed warm-up syncs and streams;
- ``handoff``  — committed right after the measured slot is created (the
  stream half of the snapshot→stream handoff);
- ``paced``    — released on an open-loop schedule (``Tx.due`` seconds
  after pacing starts);
- ``backlog1`` … ``backlogN`` — committed while the pipeline is down,
  drained by the N-th restart.

LSN layout per transaction: up to ``REL_SLOTS`` positions before the
BEGIN are reserved for RELATION messages, then BEGIN, one position per
row change, COMMIT. ``final_lsn`` (BEGIN's final LSN and COMMIT's commit
LSN) is one past the COMMIT's own position, so a flush acknowledgement
equal to ``final_lsn`` makes the server skip that transaction on
reconnect: the engine's restart never re-applies an acknowledged
transaction, and an append-only destination sees every event once.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

#: positions reserved before each BEGIN for RELATION messages
REL_SLOTS = 8

#: engine column type → Postgres type OID
PG_OIDS = {
    "long": 20, "int": 23, "double": 701, "string": 25, "boolean": 16,
    "date": 1082, "timestamp_ntz": 1114,
}

_DATE0 = dt.date(2020, 1, 1)
_TS0 = dt.datetime(2024, 1, 1)

# Traffic mix. These are assumptions of the benchmark, chosen to put each
# engine path on the critical path; they are not measured from any real
# database. README.md gives the reason for each and the gated figures it
# moves.

#: share of row changes that insert a new key
INSERT_SHARE = 0.30
#: share of row changes that delete a key (the rest are updates)
DELETE_SHARE = 0.12
#: catchup: share of changes that go to the hot (merge) table; the rest
#: go to the insert-only (append) table
HOT_TABLE_SHARE = 0.6
#: catchup: share of hot-table updates and deletes aimed at a hot key
HOT_KEY_SHARE = 0.8
#: catchup: the hot keys are the first 1/HOT_KEY_DIVISOR of the snapshot
HOT_KEY_DIVISOR = 10
#: share of updates that leave the TOAST column unchanged
TOAST_UNCHANGED_SHARE = 0.5
#: nullable string cells that are NULL, out of ten
NULL_IN_10 = 1
#: strings of DuckDB tables that end in a COPY escape, out of ten
ESCAPE_IN_10 = 3


@dataclass
class Table:
    """One published table: columns are ``(name, engine type)``; the
    first column ``pk`` is the replica-identity key."""

    name: str
    rel_id: int
    columns: list[tuple[str, str]]
    #: destination kind: "merge" (current state), "append" (changelog)
    #: or "duckdb" (DuckDB current state)
    role: str
    #: REPLICA IDENTITY FULL: updates and deletes carry the whole old row
    full_identity: bool = False
    #: column that updates may leave as an unchanged-TOAST cell
    toast_col: str | None = None

    def col_names(self) -> list[str]:
        return [n for n, _ in self.columns]


@dataclass
class Change:
    """One row change. ``cells`` are Postgres text-format values (None =
    SQL NULL, ``TOAST`` = unchanged-TOAST) in the table's column order at
    the time of the change; ``old`` is the full old row for
    REPLICA IDENTITY FULL tables."""

    op: str  # "I" | "U" | "D"
    table: str
    pk: int
    cells: list | None
    old: list | None = None


@dataclass
class Tx:
    phase: str
    changes: list[Change]
    #: (table, (column name, type)) schema changes published right before
    #: this transaction (ADD COLUMN → RELATION republish)
    ddl: list[tuple[str, tuple[str, str]]] = field(default_factory=list)
    #: paced phase: seconds after pacing starts when it is due
    due: float = 0.0
    begin_lsn: int = 0
    final_lsn: int = 0


class _Toast:
    def __repr__(self) -> str:
        return "TOAST"


#: marker for an unchanged-TOAST cell in ``Change.cells``
TOAST = _Toast()


# ---------------------------------------------------------------------------
# Workload shapes
# ---------------------------------------------------------------------------

NARROW = [("pk", "long"), ("val", "string"), ("n", "long")]
HOT = [("pk", "long"), ("i", "int"), ("f", "double"), ("s", "string"),
       ("flag", "boolean"), ("d", "date"), ("big", "string")]
LOG = [("pk", "long"), ("k", "long"), ("f", "double"), ("d", "date"),
       ("payload", "string")]
WIDE = [("pk", "long"), ("i", "int"), ("f", "double"), ("s", "string"),
        ("note", "string"), ("flag", "boolean"), ("d", "date"),
        ("ts", "timestamp_ntz")]


@dataclass
class Spec:
    """Sizes of one workload (see :func:`spec`)."""

    tables: list[Table]
    warm_tables: list[Table]
    snapshot_rows: dict[str, int]
    handoff_txs: int
    paced_ticks: int = 0
    tick_s: float = 0.1
    tick_mean_txs: int = 0
    #: restarts per run, each draining its own backlog of this many txs
    restarts: int = 3
    backlog_txs: int = 0
    max_changes: int = 3
    handoff_changes: int = 3


def _tables(kind: str, prefix: str, rel0: int) -> list[Table]:
    if kind == "trickle":
        return [Table(f"public.{prefix}t0", rel0, list(NARROW), "duckdb"),
                Table(f"public.{prefix}wide", rel0 + 1, list(WIDE), "duckdb")]
    if kind == "catchup":
        return [Table(f"public.{prefix}hot", rel0, list(HOT), "merge",
                      full_identity=True, toast_col="big"),
                Table(f"public.{prefix}log", rel0 + 1, list(LOG), "append")]
    if kind == "table_sync":
        return [Table(f"public.{prefix}wide", rel0, list(WIDE), "duckdb")]
    raise ValueError(f"unknown workload {kind!r}")


def spec(workload: str, seconds: float = 30.0) -> Spec:
    """The fixed sizes of ``workload``. The measured work scales with
    ``seconds``; at the reference 30 s the measured phases take about
    that long on a 4-core machine."""
    s = max(seconds, 3.0) / 30.0
    tables = _tables(workload, "", 100)
    warm = _tables(workload, "w", 200)
    if workload == "trickle":
        return Spec(tables, warm,
                    snapshot_rows={"public.t0": 500,
                                   "public.wide": int(round(32_000 * s)),
                                   "public.wt0": 40, "public.wwide": 200},
                    handoff_txs=50, paced_ticks=int(round(80 * s)),
                    tick_mean_txs=12, restarts=3,
                    backlog_txs=int(round(100 * s)))
    if workload == "catchup":
        return Spec(tables, warm,
                    snapshot_rows={"public.hot": 3000, "public.log": 500,
                                   "public.whot": 60, "public.wlog": 20},
                    handoff_txs=200, restarts=3,
                    backlog_txs=int(round(900 * s)),
                    max_changes=8, handoff_changes=2)
    return Spec(tables, warm,
                snapshot_rows={"public.wide": int(round(150_000 * s)),
                               "public.wwide": 200},
                handoff_txs=200, restarts=3,
                backlog_txs=int(round(2500 * s)),
                max_changes=8, handoff_changes=2)


# ---------------------------------------------------------------------------
# Values (Postgres text format)
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "kappa", "sigma", "omega",
          "north", "south", "pine", "oak", "river", "stone", "lake",
          "ember", "frost"]
#: characters COPY text format must escape
_ESCAPES = ["\tx", "\\y", "\nz", "a\\tb", "\r", "q\\", "\t\t", "\\N"]


def _text(bits: int, escapes: bool) -> str:
    words = [_WORDS[(bits >> (4 * i)) & 15] for i in range(1 + (bits >> 16) % 4)]
    s = " ".join(words)
    if escapes and (bits >> 20) % 10 < ESCAPE_IN_10:
        s += _ESCAPES[(bits >> 24) & 7]
    return s


def value(rng: random.Random, table: Table, col: str, typ: str) -> str | None:
    """One random cell for ``table.col`` in Postgres text format."""
    bits = rng.getrandbits(48)
    if col == table.toast_col:
        # large enough that Postgres would TOAST it
        return rng.randbytes(750 + bits % 500).hex()
    if col == "payload":
        return rng.randbytes(50 + bits % 100).hex()
    if typ == "string":
        if col != "val" and bits % 10 < NULL_IN_10:
            return None
        return _text(bits >> 4, escapes=table.role == "duckdb")
    if typ == "long":
        return str(bits - (1 << 47))
    if typ == "int":
        return str(bits % 2_000_001 - 1_000_000)
    if typ == "double":
        return repr((bits % 20_000_001 - 10_000_000) / 100)
    if typ == "boolean":
        return "t" if bits & 1 else "f"
    if typ == "date":
        return (_DATE0 + dt.timedelta(days=bits % 3000)).isoformat()
    if typ == "timestamp_ntz":
        t = _TS0 + dt.timedelta(seconds=bits % 10**8)
        return t.strftime("%Y-%m-%d %H:%M:%S")
    raise ValueError(f"no generator for type {typ!r}")


def row(rng: random.Random, table: Table, pk: int,
        columns: list[tuple[str, str]]) -> list:
    return [str(pk)] + [value(rng, table, n, t) for n, t in columns[1:]]


class KeySet:
    """The live keys of one table with O(1) insert, delete and uniform
    pick (swap-remove list + position map)."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def __len__(self) -> int:
        return len(self.keys)

    def add(self, k: int) -> None:
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.pos[last] = i

    def pick(self, rng: random.Random) -> int:
        return self.keys[rng.randrange(len(self.keys))]


# ---------------------------------------------------------------------------
# The generator
# ---------------------------------------------------------------------------


class Workload:
    """Generates the run's snapshots and transactions, and keeps the
    per-table state the generator needs to pick valid changes (which keys
    exist, the current column list)."""

    def __init__(self, name: str, seed: int, seconds: float = 30.0):
        self.name = name
        self.seed = seed
        self.spec = spec(name, seconds)
        self.tables = {t.name: t for t in self.spec.tables + self.spec.warm_tables}
        #: initial snapshot rows per table: {pk: cells}
        self.snapshots: dict[str, dict[int, list]] = {}
        self._live: dict[str, dict[int, list]] = {}
        self._keys: dict[str, KeySet] = {}
        self._next_pk: dict[str, int] = {}
        for t in self.tables.values():
            rng = self._rng("snapshot", t.name)
            n = self.spec.snapshot_rows[t.name]
            rows = {pk: row(rng, t, pk, t.columns) for pk in range(1, n + 1)}
            self.snapshots[t.name] = rows
            self._live[t.name] = {k: list(v) for k, v in rows.items()}
            self._keys[t.name] = KeySet(rows)
            self._next_pk[t.name] = n + 1
        self.txs: list[Tx] = []
        self._generate()
        self._assign_lsns()

    def _rng(self, *parts) -> random.Random:
        return random.Random(":".join([self.name, str(self.seed), *map(str, parts)]))

    # -- transactions -----------------------------------------------------
    def _change(self, rng: random.Random, t: Table) -> Change:
        live = self._live[t.name]
        r = rng.random()
        if t.role == "append" or not live or r < INSERT_SHARE:
            pk = self._next_pk[t.name]
            self._next_pk[t.name] += 1
            cells = row(rng, t, pk, t.columns)
            live[pk] = cells
            self._keys[t.name].add(pk)
            return Change("I", t.name, pk, list(cells))
        pk = self._keys[t.name].pick(rng)
        if t.toast_col is not None and rng.random() < HOT_KEY_SHARE:
            hot = rng.randint(
                1, max(1, self.spec.snapshot_rows[t.name] // HOT_KEY_DIVISOR))
            pk = hot if hot in live else pk
        old = live[pk]
        if r < 1.0 - DELETE_SHARE:
            cells = row(rng, t, pk, t.columns)
            new = list(cells)
            if t.toast_col is not None and rng.random() < TOAST_UNCHANGED_SHARE:
                i = t.col_names().index(t.toast_col)
                cells[i] = TOAST
                new[i] = old[i]
            live[pk] = new
            return Change("U", t.name, pk, cells,
                          old=list(old) if t.full_identity else None)
        del live[pk]
        self._keys[t.name].remove(pk)
        return Change("D", t.name, pk, None,
                      old=list(old) if t.full_identity else None)

    def _tx(self, rng: random.Random, tables: list[Table], phase: str,
            max_changes: int | None = None) -> Tx:
        if len(tables) > 1 and tables[0].toast_col is not None:
            # catchup: the hot table, or the insert-only one
            pick = lambda: (tables[0] if rng.random() < HOT_TABLE_SHARE  # noqa: E731
                            else tables[1])
        else:
            pick = lambda: rng.choice(tables)  # noqa: E731
        n = rng.randint(1, max_changes or self.spec.max_changes)
        return Tx(phase, [self._change(rng, pick()) for _ in range(n)])

    def _add_column(self, t: Table, col: tuple[str, str]) -> None:
        t.columns = t.columns + [col]
        for cells in self._live[t.name].values():
            cells.append(None)

    def _generate(self) -> None:
        sp = self.spec
        rng = self._rng("warm")
        self.txs += [self._tx(rng, sp.warm_tables, "warm") for _ in range(30)]
        rng = self._rng("handoff")
        self.txs += [self._tx(rng, sp.tables, "handoff", sp.handoff_changes)
                     for _ in range(sp.handoff_txs)]
        rng = self._rng("paced")
        ddl_at = {}
        if sp.paced_ticks and len(sp.tables) > 1:
            # occasional ADD COLUMN, published as a RELATION republish
            ddl_at = {sp.paced_ticks // 3: (sp.tables[0], ("x1", "string")),
                      (2 * sp.paced_ticks) // 3: (sp.tables[1], ("x2", "long"))}
        for k in range(sp.paced_ticks):
            n = rng.randint(1, 2 * sp.tick_mean_txs - 1)
            for j in range(n):
                ddl = []
                if j == 0 and k in ddl_at:
                    t, col = ddl_at[k]
                    self._add_column(t, col)
                    ddl.append((t.name, col))
                tx = self._tx(rng, sp.tables, "paced")
                tx.ddl = ddl
                tx.due = k * sp.tick_s
                self.txs.append(tx)
        for r in range(1, sp.restarts + 1):
            rng = self._rng("backlog", r)
            self.txs += [self._tx(rng, sp.tables, f"backlog{r}")
                         for _ in range(sp.backlog_txs)]

    def _assign_lsns(self) -> None:
        lsn = 16
        for tx in self.txs:
            tx.begin_lsn = lsn + REL_SLOTS
            tx.final_lsn = tx.begin_lsn + len(tx.changes) + 2
            lsn = tx.final_lsn + 1

    # -- views ------------------------------------------------------------
    def initial_columns(self, table: str) -> list[tuple[str, str]]:
        """The table's columns before any ADD COLUMN of the run."""
        added = [col for tx in self.txs for tn, col in tx.ddl if tn == table]
        cols = self.tables[table].columns
        return cols[: len(cols) - len(added)]

# ---------------------------------------------------------------------------
# COPY text rendering (what the server's COPY ... TO STDOUT returns)
# ---------------------------------------------------------------------------


def ctid_ranges(connections: int) -> list[tuple[str | None, str | None]]:
    """``connections`` contiguous ctid ranges (page numbers are labels:
    the server keys slices by the range's start literal)."""
    bounds = [f"({1000 * i},1)" for i in range(1, connections)]
    return list(zip([None] + bounds, bounds + [None]))


def copy_escape(cell: str | None) -> str:
    if cell is None:
        return "\\N"
    return (cell.replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r"))


def copy_lines(rows: dict[int, list]) -> list[bytes]:
    return ["\t".join(copy_escape(c) for c in cells).encode()
            for _, cells in sorted(rows.items())]


def split_even(items: list, parts: int) -> list[list]:
    step = (len(items) + parts - 1) // parts if items else 0
    return [items[i * step:(i + 1) * step] for i in range(parts)]


# ---------------------------------------------------------------------------
# The oracle
# ---------------------------------------------------------------------------


def parse_text(typ: str, text):
    """Postgres text cell → the Python value a destination should hold."""
    if text is None:
        return None
    if typ in ("long", "int"):
        return int(text)
    if typ == "double":
        return float(text)
    if typ == "boolean":
        return text == "t"
    if typ == "date":
        return dt.date.fromisoformat(text)
    if typ == "timestamp_ntz":
        return dt.datetime.fromisoformat(text)
    return text


def normalize(typ: str, v):
    """A destination value → the same Python type :func:`parse_text`
    gives (pandas/numpy scalars and datetimes are unwrapped)."""
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()
    if typ == "date" and isinstance(v, dt.datetime):
        return v.date()
    if typ in ("long", "int"):
        return int(v)
    if typ == "double":
        return float(v)
    return v


class Oracle:
    """Folds transactions in commit order into the expected destination:
    last writer wins by (commit LSN, ordinal) — commit order is WAL order
    here — deletes remove the key, unchanged-TOAST cells carry the prior
    value forward, and a column added by ADD COLUMN reads NULL on rows not
    written since. ``events`` keeps every applied change for append-only
    destinations."""

    def __init__(self, wl: Workload, tables: list[str]):
        self.columns = {t: list(wl.initial_columns(t)) for t in tables}
        self.state = {t: {k: list(v) for k, v in wl.snapshots[t].items()}
                      for t in tables}
        self.events = {t: [tuple(v) for _, v in sorted(wl.snapshots[t].items())]
                       for t in tables}
        #: pk → index of the last transaction that wrote it
        self.writer: dict[str, dict[int, int]] = {t: {} for t in tables}

    def apply(self, i: int, tx: Tx) -> None:
        for tn, col in tx.ddl:
            if tn in self.state:
                self.columns[tn].append(col)
                for cells in self.state[tn].values():
                    cells.append(None)
        for ch in tx.changes:
            if ch.table not in self.state:
                continue
            st = self.state[ch.table]
            self.writer[ch.table][ch.pk] = i
            if ch.op == "D":
                st.pop(ch.pk, None)
                continue
            cells = list(ch.cells)
            prev = st.get(ch.pk)
            for j, c in enumerate(cells):
                if c is TOAST:
                    cells[j] = prev[j]
            st[ch.pk] = cells
            if ch.op == "I":
                self.events[ch.table].append(tuple(cells))

    def typed(self, table: str) -> dict[int, tuple]:
        cols = self.columns[table]
        return {pk: tuple(parse_text(t, c) for (_, t), c in zip(cols, cells))
                for pk, cells in self.state[table].items()}

    def typed_events(self, table: str) -> list[tuple]:
        cols = self.columns[table]
        out = []
        for cells in self.events[table]:
            cells = list(cells) + [None] * (len(cols) - len(cells))
            out.append(tuple(parse_text(t, c) for (_, t), c in zip(cols, cells)))
        return out


def fold(wl: Workload, tables: list[str], upto_phase: set[str]) -> Oracle:
    """The oracle after every transaction of ``upto_phase`` phases."""
    o = Oracle(wl, tables)
    for i, tx in enumerate(wl.txs):
        if tx.phase in upto_phase:
            o.apply(i, tx)
    return o
