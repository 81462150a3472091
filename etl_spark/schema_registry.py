"""Versioned schema registry with as-of lookup and DDL diffing.

Mirrors the reference's SchemaStore (store/schema/base.rs:19-69):
- versions keyed by the start-LSN of the DDL that created them
  (``SnapshotId``, etl-postgres/src/schema.rs:29-41); 0 is the initial
  schema;
- lookup = largest ``snapshot_lsn`` ≤ requested (base.rs:20-34);
- old versions pruned once acknowledged (base.rs:56-68, GC task
  apply.rs:1607-1757);
- diffing produces add/remove/change column sets
  (``SchemaDiff``, crates/etl/src/schema.rs:729-736) with rename detected
  by ordinal match (``ColumnModification::Rename``, schema.rs:762-784).

Driver-side JSON persistence (registries are tiny — see
``asof_lookup_literal`` scale note); the as-of lookup is exposed both as a
Python call (pipeline control path) and via the zero-shuffle literal CASE
chain for per-row joins.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from etl_spark.state import write_json_atomic


@dataclass
class ColumnDef:
    name: str
    typ: str
    nullable: bool = True
    default: str | None = None
    ordinal: int = 0
    pk_ordinal: int | None = None
    #: custom/extension PG type name ("namespace.name", from a pgoutput
    #: TYPE frame) — set when the column's type OID is not builtin; its
    #: values are string pass-through (reference cell.rs:8-14) and ``typ``
    #: stays "string"
    pg_type: str | None = None


@dataclass
class SchemaDiff:
    columns_to_add: list[ColumnDef] = field(default_factory=list)
    columns_to_remove: list[str] = field(default_factory=list)
    renames: list[tuple[str, str]] = field(default_factory=list)
    default_changes: list[tuple[str, str | None]] = field(default_factory=list)
    nullability_changes: list[tuple[str, bool]] = field(default_factory=list)

    def is_empty(self) -> bool:
        return not (self.columns_to_add or self.columns_to_remove or self.renames
                    or self.default_changes or self.nullability_changes)


def diff_schemas(old: list[ColumnDef], new: list[ColumnDef]) -> SchemaDiff:
    """Compute the DDL delta (schema.rs:729-784 semantics): a column present
    at the same ordinal with a new name is a RENAME, not drop+add."""
    d = SchemaDiff()
    old_by_name = {c.name: c for c in old}
    new_by_name = {c.name: c for c in new}
    old_by_ord = {c.ordinal: c for c in old}
    for c in new:
        if c.name not in old_by_name:
            prev = old_by_ord.get(c.ordinal)
            if prev is not None and prev.name not in new_by_name and prev.typ == c.typ:
                d.renames.append((prev.name, c.name))
            else:
                d.columns_to_add.append(c)
    renamed_olds = {o for o, _ in d.renames}
    for c in old:
        if c.name not in new_by_name and c.name not in renamed_olds:
            d.columns_to_remove.append(c.name)
    for name, nc in new_by_name.items():
        oc = old_by_name.get(name)
        if oc is None:
            continue
        if oc.default != nc.default:
            d.default_changes.append((name, nc.default))
        if oc.nullable != nc.nullable:
            d.nullability_changes.append((name, nc.nullable))
    return d


class SchemaRegistry:
    """Durable (table, snapshot_lsn) → column list registry."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._versions: dict[str, list[tuple[int, list[ColumnDef]]]] = {}
        self._load()

    # Layout: one file per table (tables/<quoted-name>.json) — recording a
    # schema version rewrites only THAT table's version list, so a wide
    # pipeline's first RELATION sweep (one record per table) is O(n), not
    # the O(n^2) a whole-registry rewrite per record would cost (same
    # restructure as ControlStore; see SCALE.md "table-count scaling").
    # The reference stores schema versions as per-(table, version) rows
    # (store/schema/base.rs) for the same reason.

    @property
    def _tables_dir(self) -> str:
        return os.path.join(self.root, "tables")

    def _table_path(self, table: str) -> str:
        from urllib.parse import quote

        return os.path.join(self._tables_dir, quote(table, safe="") + ".json")

    @staticmethod
    def _decode_versions(versions: list) -> list:
        return [
            (v["snapshot_lsn"], [ColumnDef(**c) for c in v["columns"]])
            for v in versions
        ]

    def _load(self) -> None:
        if not os.path.isdir(self._tables_dir):
            return
        for fn in os.listdir(self._tables_dir):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(self._tables_dir, fn)) as f:
                t = json.load(f)
            self._versions[t["table"]] = self._decode_versions(t["versions"])

    def _save_table(self, table: str) -> None:
        payload = {
            "table": table,
            "versions": [
                {"snapshot_lsn": lsn, "columns": [vars(c) for c in cols]}
                for lsn, cols in self._versions.get(table, [])
            ],
        }
        write_json_atomic(self._table_path(table), payload)

    def record(self, table: str, snapshot_lsn: int, columns: list[ColumnDef]) -> bool:
        """Returns True when a NEW version was recorded (False on the
        idempotent re-delivery of an already-known DDL event)."""
        vs = self._versions.setdefault(table, [])
        if any(lsn == snapshot_lsn for lsn, _ in vs):
            return False  # idempotent re-delivery of the same DDL event
        vs.append((snapshot_lsn, columns))
        vs.sort(key=lambda kv: kv[0])
        self._save_table(table)
        return True

    def asof(self, table: str, lsn: int) -> tuple[int, list[ColumnDef]] | None:
        """Largest snapshot_lsn ≤ lsn (store/schema/base.rs:20-34)."""
        best = None
        for vlsn, cols in self._versions.get(table, []):
            if vlsn <= lsn:
                best = (vlsn, cols)
        return best

    def prune(self, table: str, retain_lsn: int) -> int:
        """Drop versions strictly older than the newest version ≤
        retain_lsn (keep the boundary version — base.rs:56-68)."""
        vs = self._versions.get(table, [])
        boundary = None
        for vlsn, _ in vs:
            if vlsn <= retain_lsn:
                boundary = vlsn
        if boundary is None:
            return 0
        keep = [(l, c) for l, c in vs if l >= boundary]
        removed = len(vs) - len(keep)
        self._versions[table] = keep
        self._save_table(table)
        return removed

    def versions(self, table: str) -> list[int]:
        return [lsn for lsn, _ in self._versions.get(table, [])]
