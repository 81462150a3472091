"""Pipeline breadth at list scale: ~100 heterogeneous tables through one
pipeline incarnation (round-8 verdict item #5).

The reference exercises membership reconciliation and per-table routing
against publication LISTS, not single tables (pipeline.rs:354-421 purge
semantics) — the sim harness elsewhere drives 1-3 tables, so a driver-side
O(n^2) in the per-table loops (backfill, hydrate, routing, control-store
persistence) would never surface there. This test drives 100 tables with
heterogeneous key shapes, mid-stream DDL on a few of them, and one purge,
asserting the algorithmic property directly: control-store writes stay
linear in table count and each write carries one entry, not the store
(a wall-clock ceiling would flake on a loaded box — ADVICE r9).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Row

from etl_spark.envelope import GENERIC_ENVELOPE
from etl_spark.state import TableState
from etl_spark.streaming.pipeline import Pipeline, TableConfig
from etl_spark.streaming.sinks import MemorySink

N_TABLES = 100
#: tables 3, 40, 77 receive a mid-stream RELATION adding column ``extra``
DDL_TABLES = {3, 40, 77}


def _table(i: int) -> str:
    return f"t{i:02d}"


def _keys(i: int) -> list[str]:
    return ["pk"] if i % 2 == 0 else ["k1", "k2"]


def _payload(i: int) -> str:
    return "pk long, val string" if i % 2 == 0 else "k1 long, k2 long, val string"


def _write_events(spark, path, rows, name):
    staging = os.path.join(path, f".__stage_{name}")
    df = spark.createDataFrame(rows, schema=GENERIC_ENVELOPE)
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(path, f"{name}.parquet"))
    shutil.rmtree(staging)


def _ev(op, table, commit, ordinal, after=None, before=None, schema_lsn=None):
    return Row(
        op=op, table=table, commit_lsn=commit, start_lsn=commit,
        tx_ordinal=ordinal,
        after=json.dumps(after) if after else None,
        before=json.dumps(before) if before else None,
        before_kind="FULL" if before else None, missing_cols=None,
        schema_snapshot_lsn=schema_lsn,
    )


def test_hundred_table_pipeline_breadth(spark, tmp_path, monkeypatch):
    # Algorithmic gate (ADVICE r9: a wall-clock ceiling flakes on loaded
    # boxes): count control-store writes and pin the payload size. O(1)
    # persistence per transition means the write COUNT is linear in table
    # count and every payload is ONE table's entry — a regression to
    # whole-store rewrites shows up as payload bytes ~ N_TABLES.
    from etl_spark import state as state_mod

    io_stats = {"writes": 0, "max_bytes": 0}
    orig_write = state_mod.write_json_atomic

    def counting_write(path, payload):
        io_stats["writes"] += 1
        io_stats["max_bytes"] = max(io_stats["max_bytes"],
                                    len(json.dumps(payload)))
        return orig_write(path, payload)

    # ControlStore resolves the module-level writer at call time; other
    # modules bind their own name, so only control-store writes count
    monkeypatch.setattr(state_mod, "write_json_atomic", counting_write)
    source = str(tmp_path / "source")
    os.makedirs(source)
    # two shared snapshots (one per key shape) — the per-table copy still
    # runs 100 times; only the fixture parquet is shared
    snap_pk = str(tmp_path / "snap_pk")
    snap_ck = str(tmp_path / "snap_ck")
    spark.createDataFrame([(1, "s1"), (2, "s2")],
                          "pk long, val string").write.parquet(snap_pk)
    spark.createDataFrame([(1, 1, "s1"), (2, 2, "s2")],
                          "k1 long, k2 long, val string").write.parquet(snap_ck)

    cfgs = [
        TableConfig(name=_table(i),
                    snapshot_path=snap_pk if i % 2 == 0 else snap_ck,
                    keys=_keys(i), payload_schema=_payload(i))
        for i in range(N_TABLES)
    ]

    # one micro-batch spanning every table: 2 DML each + RELATION DDL on a
    # few — the apply loop must route all 100 without cross-table bleed
    rows = []
    for i in range(N_TABLES):
        name = _table(i)
        base = 1000 + i * 10
        if i % 2 == 0:
            rows.append(_ev("INSERT", name, base, 0, after={"pk": 3, "val": f"n{i}"}))
            rows.append(_ev("UPDATE", name, base + 1, 0,
                            after={"pk": 1, "val": f"u{i}"}))
        else:
            rows.append(_ev("INSERT", name, base, 0,
                            after={"k1": 3, "k2": 3, "val": f"n{i}"}))
            rows.append(_ev("DELETE", name, base + 1, 0,
                            before={"k1": 2, "k2": 2}))
        if i in DDL_TABLES:
            cols = [{"name": c.split()[0], "typ": c.split()[1]}
                    for c in _payload(i).split(", ")]
            if i % 2 == 0:
                cols[0]["pk_ordinal"] = 0
            else:
                cols[0]["pk_ordinal"] = 0
                cols[1]["pk_ordinal"] = 1
            # ADD .. DEFAULT so the destination DDL hook fires (a pure
            # ADD materializes through the write path by design)
            cols.append({"name": "extra", "typ": "string", "default": "E0"})
            rel = Row(**{**_ev("RELATION", name, base + 5, 0,
                                schema_lsn=base + 5).asDict(),
                         "after": json.dumps({"columns": cols})})
            rows.append(rel)
            rows.append(_ev("INSERT", name, base + 6, 0,
                            after={**({"pk": 4} if i % 2 == 0
                                      else {"k1": 4, "k2": 4}),
                                   "val": f"x{i}", "extra": "E"}))
    _write_events(spark, source, rows, "b1")

    sink = MemorySink()
    work = str(tmp_path / "work")
    p = Pipeline(spark, source, cfgs, sink, work)
    p.run_until_drained()

    # every table copied and received exactly its own changes
    assert set(sink.snapshots) == {_table(i) for i in range(N_TABLES)}
    by_table = {}
    for table, _bid, batch_rows in sink.batches:
        by_table.setdefault(table, []).extend(batch_rows)
    assert set(by_table) == {_table(i) for i in range(N_TABLES)}
    for i in range(N_TABLES):
        got = by_table[_table(i)]
        want = 3 if i in DDL_TABLES else 2
        assert len(got) == want, (i, got)
        # no cross-table bleed: every decoded non-tombstone value carries
        # THIS table's index suffix
        assert all(r.val is None or r.val.endswith(str(i)) for r in got), (i, got)
    # DDL landed only on the three tables, and their masks gained `extra`
    assert {t for t, *_ in getattr(sink, "ddl", [])} == \
        {_table(i) for i in DDL_TABLES}
    for i in DDL_TABLES:
        assert "extra" in (p.tables[_table(i)].payload_schema or "")
    # composite-key tables kept their keys; all tables reached READY
    for i in range(N_TABLES):
        assert p.control.get(_table(i)).state == TableState.READY
        assert p.tables[_table(i)].keys == _keys(i)
    assert p.status()["flush_lsn"] > 0

    # purge: restart with one table dropped — membership reconciliation
    # truncates its destination data and forgets its control entry
    dropped = _table(7)
    p2 = Pipeline(spark, source, [c for c in cfgs if c.name != dropped],
                  sink, work)
    removed = p2.reconcile_membership()
    assert removed == [dropped]
    assert dropped in sink.truncated
    assert dropped not in p2.control.tables
    # the other 99 survived untouched
    assert len(p2.control.tables) == N_TABLES - 1

    # Algorithmic ceiling, machine-independent (replaces the former 300 s
    # wall-clock assert): each table makes a bounded number of state
    # transitions (init, copy start/done, sync, ready, DDL, purge) and
    # each transition writes exactly its own entry + at most one flush
    # marker — linear in N_TABLES with a small constant. Measured on this
    # scenario: 401 writes (~4/table); 10× that is a regression, not load.
    assert io_stats["writes"] <= 10 * N_TABLES, io_stats
    # ... and every payload is ONE table entry (a whole-store rewrite
    # would serialize ~100 entries ≈ 100× this)
    assert io_stats["max_bytes"] < 2048, io_stats
