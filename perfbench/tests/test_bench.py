"""Tests for the benchmark itself (not the engine): generator
determinism, the oracle on a hand-checked stream, the tail-percentile
rule and commit lag from synthetic send/ack logs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import stats  # noqa: E402


def _digest(wl: gen.Workload):
    return (
        {t: sorted(rows.items()) for t, rows in wl.snapshots.items()},
        [(tx.phase, tx.final_lsn, tx.due, tx.ddl,
          [(c.op, c.table, c.pk, [repr(x) for x in (c.cells or [])])
           for c in tx.changes]) for tx in wl.txs],
    )


@pytest.mark.parametrize("workload", ["trickle", "catchup"])
def test_generator_is_deterministic_per_seed(workload):
    a = gen.Workload(workload, 7, seconds=2)
    b = gen.Workload(workload, 7, seconds=2)
    c = gen.Workload(workload, 8, seconds=2)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    # WAL order: strictly increasing LSNs with room for RELATION messages
    lsns = [(tx.begin_lsn, tx.final_lsn) for tx in a.txs]
    assert all(f0 + gen.REL_SLOTS < b1 for (_, f0), (b1, _) in zip(lsns, lsns[1:]))


def test_server_frames_decode_to_the_generated_changes():
    """The pgoutput frames the server sends carry exactly the generated
    changes, and the COMMIT sits one below final_lsn (so an ack equal to
    final_lsn fences the transaction on reconnect)."""
    from etl_spark.sources import live
    from etl_spark.sources import pgoutput as pgo
    from server import encode_wal

    wl = gen.Workload("catchup", 3, seconds=1)
    tx_bytes, tx_rels = encode_wal(wl)
    for tx, raw, rels in list(zip(wl.txs, tx_bytes, tx_rels))[:50]:
        msgs = [live.parse_copy_payload(m) for m in live.iter_copy_messages(raw)]
        frames = [pgo.parse_frame(m["frame"]) for m in msgs]
        assert frames[0]["kind"] == "BEGIN"
        assert frames[0]["final_lsn"] == tx.final_lsn
        assert frames[-1]["kind"] == "COMMIT"
        assert msgs[-1]["wal_start"] == tx.final_lsn - 1
        assert [f["kind"] for f in frames[1:-1]] == [
            {"I": "INSERT", "U": "UPDATE", "D": "DELETE"}[c.op]
            for c in tx.changes]
        assert {r[0] for r in rels} == {c.table for c in tx.changes}


def test_oracle_folds_a_hand_checked_stream():
    t = gen.Table("public.x", 1, [("pk", "long"), ("v", "string"),
                                  ("big", "string")], "merge",
                  full_identity=True, toast_col="big")
    C = gen.Change
    txs = [
        gen.Tx("handoff", [C("U", t.name, 1, ["1", "b", gen.TOAST],
                             old=["1", "a", "B1"])]),
        gen.Tx("handoff", [C("I", t.name, 2, ["2", "c", "B2"]),
                           C("D", t.name, 1, None, old=["1", "b", "B1"])]),
        gen.Tx("paced", [C("I", t.name, 1, ["1", "d", "B3", "7"])],
               ddl=[(t.name, ("n", "long"))]),
        gen.Tx("paced", [C("U", t.name, 2, ["2", "e", gen.TOAST, None])]),
        gen.Tx("backlog1", [C("U", t.name, 1, ["1", "f", "B4", "8"])]),
    ]
    t.columns = t.columns + [("n", "long")]
    wl = SimpleNamespace(
        tables={t.name: t}, txs=txs,
        snapshots={t.name: {1: ["1", "a", "B1"], 3: ["3", None, "B0"]}},
        initial_columns=lambda name: t.columns[:3])
    o = gen.fold(wl, [t.name], {"handoff", "paced"})
    assert o.typed(t.name) == {
        1: (1, "d", "B3", 7),           # deleted, then re-inserted after ADD
        2: (2, "e", "B2", None),        # TOAST carried forward, new col NULL
        3: (3, None, "B0", None),       # untouched snapshot row
    }
    assert o.writer[t.name] == {1: 2, 2: 3}
    # changelog view: snapshot rows, then every insert exactly once
    assert o.typed_events(t.name) == [
        (1, "a", "B1", None), (3, None, "B0", None),
        (2, "c", "B2", None), (1, "d", "B3", 7)]
    assert gen.fold(wl, [t.name], {"handoff", "paced", "backlog1"}).typed(
        t.name)[1] == (1, "f", "B4", 8)


def test_copy_text_escapes_and_value_normalization():
    assert gen.copy_escape(None) == "\\N"
    assert gen.copy_escape("a\tb\\c\nd\re") == "a\\tb\\\\c\\nd\\re"
    assert gen.copy_lines({2: ["2", None], 1: ["1", "x\ty"]}) == [
        b"1\tx\\ty", b"2\t\\N"]
    assert gen.parse_text("date", "2021-02-03") == dt.date(2021, 2, 3)
    assert gen.normalize("date", dt.datetime(2021, 2, 3)) == dt.date(2021, 2, 3)
    assert gen.parse_text("boolean", "t") is True
    assert gen.normalize("long", 5.0) == 5 and gen.normalize("double", 1) == 1.0


@pytest.mark.parametrize("n,want", [
    (1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0),
    (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0), (19, None), (0, None),
    (10_000, 99.0),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_commit_lag_from_synthetic_logs():
    sent = [(10, 1.0), (20, 1.5), (30, 2.0), (40, 2.5)]
    # acks: keepalive replies that do not advance, an advance covering
    # the first two commits, a stale ack, then one covering the third
    acks = [(1.2, 0), (3.0, 25), (3.5, 20), (4.0, 35)]
    # the fourth commit (LSN 40) is never covered, so it has no lag
    assert stats.commit_lags(sent, acks) == pytest.approx([2.0, 1.5, 2.0])
    # an ack that arrives before the commit was sent never covers it
    assert stats.commit_lags([(10, 5.0)], [(4.0, 50), (6.0, 50)]) == (
        pytest.approx([1.0]))
