"""Model-based randomized check of the bucket-manifest state sink: a
seeded random op sequence (insert/update/delete events, truncate, replay,
compaction, manifest expiry, sink-object restart) drives
ParquetCurrentStateSink AND a driver-side LWW dict model; after every
step the stored table must equal the model exactly.

This is the destination analog of the reference's randomized pipeline
tests (crates/etl/tests/pipeline.rs matrix style): the bucket layout adds
real failure surface — manifest carry-forward, touched-bucket pruning,
version GC, schema anchoring — that deterministic unit tests cover only
pointwise."""

from __future__ import annotations

import os
import random

import pytest

from etl_spark.maintenance import expire_versions
from etl_spark.streaming.sinks import ParquetCurrentStateSink

PAYLOAD = "op string, commit_lsn long, tx_ordinal long, pk long, val string"


def _batch(spark, events):
    from etl_spark.envelope import with_sequence

    return with_sequence(
        spark.createDataFrame(
            [(op, lsn, i, pk, val) for i, (op, lsn, pk, val) in enumerate(events)],
            PAYLOAD,
        )
    )


@pytest.mark.parametrize("seed", [7, 23])
def test_sink_matches_lww_model_under_random_ops(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / f"wh{seed}")
    sink = ParquetCurrentStateSink(root, keys=["pk"], spark=spark, n_buckets=8)

    # snapshot: 12 seed rows
    snap = [(pk, f"s{pk}") for pk in range(12)]
    sink.write_snapshot("t", spark.createDataFrame(snap, "pk long, val string"))
    model = {pk: v for pk, v in snap}

    lsn = 10
    batch_id = 0
    applied: list[tuple[int, list]] = []  # (batch_id, events) for replay
    for step in range(10):
        action = rng.choices(
            ["batch", "truncate", "replay", "compact", "expire", "restart",
             "rebucket"],
            weights=[6, 1, 2, 1, 1, 2, 2],
        )[0]
        if action == "batch" or not applied:
            events = []
            for _ in range(rng.randint(1, 6)):
                pk = rng.randint(0, 19)
                kind = rng.choice(["INSERT", "UPDATE", "DELETE"])
                val = f"v{lsn}_{pk}"
                events.append((kind, lsn, pk, None if kind == "DELETE" else val))
                if kind == "DELETE":
                    model.pop(pk, None)
                else:
                    model[pk] = val
            lsn += 1
            batch_id += 1
            sink.write_changes("t", _batch(spark, events), batch_id)
            applied.append((batch_id, events))
        elif action == "truncate":
            sink.truncate("t")
            model.clear()
            applied.clear()
        elif action == "replay":
            # at-least-once redelivery of the LAST batch under its own id:
            # the applied-batches fast path must make it a no-op
            bid, events = applied[-1]
            sink.write_changes("t", _batch(spark, events), bid)
        elif action == "compact":
            sink.compact("t")
            assert sink.live_dirs("t") == {f"v{sink._current_version('t')}"}
        elif action == "expire":
            removed = expire_versions(os.path.join(root, "t"), keep=2)
            for d in removed:  # never a dir the live manifest references
                assert d not in sink.live_dirs("t")
        elif action == "restart":
            sink = ParquetCurrentStateSink(root, keys=["pk"], spark=spark)
        elif action == "rebucket":
            # online bucket-count migration interleaved with everything
            # else: content must be invariant and later batches must
            # merge at the manifest-pinned count
            n = rng.choice([1, 4, 16, 64, 512])
            sink.rebucket("t", n)
            v = sink._current_version("t")
            assert sink._manifest("t", v)["n_buckets"] == n

        got = {
            r.pk: r.val
            for r in sink.read("t").select("pk", "val").collect()
        }
        assert got == model, f"seed={seed} step={step} action={action}"


@pytest.mark.parametrize("seed", [11])
def test_scd2_sink_matches_version_model_under_random_ops(spark, tmp_path, seed):
    """Same harness for the SCD2 destination: the model replays the full
    per-key event history and derives (valid_from, valid_to, is_current)
    exactly like the batch window — incremental maintenance under random
    batching/replay/compaction/restart must always equal it."""
    from etl_spark.streaming.sinks import ParquetScd2Sink

    rng = random.Random(seed)
    root = str(tmp_path / f"scd{seed}")
    sink = ParquetScd2Sink(root, keys=["pk"], spark=spark, n_buckets=8)
    sink.write_snapshot(
        "t", spark.createDataFrame([(pk, f"s{pk}") for pk in range(6)],
                                   "pk long, val string")
    )
    # model: pk → ordered [(lsn, ordinal, op, val)] (snapshot = lsn 0)
    events: dict[int, list] = {pk: [(0, 0, "INSERT", f"s{pk}")] for pk in range(6)}

    def expected():
        out = {}
        for pk, evs in events.items():
            evs = sorted(evs)
            for i, (lsn, _o, op, val) in enumerate(evs):
                if op == "DELETE":
                    continue
                nxt = evs[i + 1][0] if i + 1 < len(evs) else None
                out[(pk, lsn)] = (val, nxt, nxt is None)
        return out

    lsn, batch_id = 10, 0
    applied = []
    for step in range(8):
        action = rng.choices(
            ["batch", "replay", "compact", "restart", "rebucket"],
            weights=[6, 2, 1, 2, 2])[0]
        if action == "batch" or not applied:
            evs = []
            for _ in range(rng.randint(1, 5)):
                pk = rng.randint(0, 9)
                op = rng.choice(["INSERT", "UPDATE", "DELETE"])
                val = None if op == "DELETE" else f"v{lsn}_{pk}"
                ordinal = len(evs)
                evs.append((op, lsn, pk, val, ordinal))
                events.setdefault(pk, []).append((lsn, ordinal, op, val))
                lsn += 1  # one lsn per event: model ordering == event_seq
            batch_id += 1
            df = spark.createDataFrame(
                [(op, l, o, pk, v) for (op, l, pk, v, o) in evs],
                "op string, commit_lsn long, tx_ordinal long, pk long, val string")
            from etl_spark.envelope import with_sequence

            sink.write_changes("t", with_sequence(df), batch_id)
            applied.append((batch_id, evs))
        elif action == "replay":
            bid, evs = applied[-1]
            df = spark.createDataFrame(
                [(op, l, o, pk, v) for (op, l, pk, v, o) in evs],
                "op string, commit_lsn long, tx_ordinal long, pk long, val string")
            from etl_spark.envelope import with_sequence

            # redelivery under a NEW id: (key, event_seq) dedup absorbs it
            sink.write_changes("t", with_sequence(df), bid + 1000 + step)
        elif action == "compact":
            sink.compact("t")
        elif action == "restart":
            sink = ParquetScd2Sink(root, keys=["pk"], spark=spark)
        elif action == "rebucket":
            n = rng.choice([1, 4, 32, 512])
            sink.rebucket("t", n)

        got = {(r.pk, r.valid_from): (r.val, r.valid_to, bool(r.is_current))
               for r in sink.read("t").collect()}
        assert got == expected(), f"seed={seed} step={step} action={action}"


@pytest.mark.parametrize("seed", [11, 29])
def test_scd2_parquet_vs_duckdb_differential(spark, tmp_path, seed):
    """DIFFERENTIAL model: the bucket-manifest SCD2 sink and the SQL-
    warehouse SCD2 sink are independent implementations of one contract
    (every INSERT/UPDATE opens a version; the key's next event closes it;
    DELETEs close silently; replays whole AND partial are inert). One
    seeded action stream drives both; after every step their version
    tables must be identical — any divergence is a bug in one of them,
    with no hand-written model in the loop."""
    import math

    from etl_spark.streaming.duckdb_sink import DuckDBScd2Sink
    from etl_spark.streaming.sinks import ParquetScd2Sink

    rng = random.Random(seed)
    pq_root = str(tmp_path / "pq")
    db = str(tmp_path / "wh.duckdb")

    def mk():
        return (
            ParquetScd2Sink(pq_root, keys=["pk"], spark=spark, n_buckets=4),
            DuckDBScd2Sink(db, keys={"t": ["pk"]},
                           staging_dir=str(tmp_path / "stage")),
        )

    pq, dk = mk()
    snap = spark.createDataFrame([(1, "s1"), (2, "s2")], "pk long, val string")
    pq.write_snapshot("t", snap)
    dk.write_snapshot("t", snap)

    def norm_pq():
        rows = pq.read("t").select(
            "pk", "op", "valid_from", "tx_ordinal", "valid_to",
            "is_current", "val",
        ).collect()
        return sorted(
            (r.pk, r.op, int(r.valid_from), int(r.tx_ordinal),
             None if r.valid_to is None else int(r.valid_to),
             bool(r.is_current), r.val)
            for r in rows
        )

    def norm_dk():
        out = []
        for r in dk.read("t"):
            vt = r["valid_to"]
            vt = None if vt is None or (
                isinstance(vt, float) and math.isnan(vt)) else int(vt)
            out.append((int(r["pk"]), r["op"], int(r["valid_from"]),
                        int(r["tx_ordinal"]), vt, bool(r["is_current"]),
                        r["val"]))
        return sorted(out)

    lsn = 10
    batch_id = 0
    last = None
    for step in range(8):
        action = rng.choices(
            ["batch", "whole_replay", "partial_replay", "truncate", "restart"],
            weights=[6, 2, 2, 1, 2],
        )[0]
        if action == "batch" or last is None:
            events = []
            for _ in range(rng.randint(1, 5)):
                pk = rng.randint(0, 9)
                kind = rng.choice(["INSERT", "UPDATE", "DELETE"])
                events.append((kind, lsn, pk,
                               None if kind == "DELETE" else f"v{lsn}_{pk}"))
            lsn += 1
            batch_id += 1
            b = _batch(spark, events)
            pq.write_changes("t", b, batch_id)
            dk.write_changes("t", b, batch_id)
            last = (batch_id, events)
        elif action == "whole_replay":
            bid, events = last
            b = _batch(spark, events)
            pq.write_changes("t", b, bid)
            dk.write_changes("t", b, bid)
        elif action == "partial_replay":
            # the same events under a NEW batch id: the per-event
            # (key, seq) dedup must make them inert in both sinks
            _bid, events = last
            batch_id += 1
            b = _batch(spark, events)
            pq.write_changes("t", b, batch_id)
            dk.write_changes("t", b, batch_id)
        elif action == "truncate":
            pq.truncate("t")
            dk.truncate("t")
            pq.write_snapshot("t", snap)
            dk.write_snapshot("t", snap)
            last = None
        elif action == "restart":
            pq, dk = mk()
        assert norm_pq() == norm_dk(), (seed, step, action)


@pytest.mark.parametrize("seed", [17, 41])
def test_current_state_parquet_vs_duckdb_differential(spark, tmp_path, seed):
    """DIFFERENTIAL: the bucket-manifest current-state sink and the SQL-
    warehouse current-state sink under ONE seeded IN-CONTRACT action
    stream (ordered batches, whole-batch replays, truncate, restart)
    must hold identical key→value state after every step. Partial
    replays are deliberately excluded: outside the delivery contract the
    two implementations legitimately diverge on tombstoned keys (the
    warehouse sink's _etl_seq dies with the row — documented in
    duckdb_sink.py and pinned by test_duckdb_sink_delivery_contract)."""
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    rng = random.Random(seed)
    pq_root = str(tmp_path / "pq")
    db = str(tmp_path / "wh.duckdb")

    def mk():
        return (
            ParquetCurrentStateSink(pq_root, keys=["pk"], spark=spark,
                                    n_buckets=4),
            DuckDBCurrentStateSink(db, keys={"t": ["pk"]},
                                   staging_dir=str(tmp_path / "stage")),
        )

    pq, dk = mk()
    snap = spark.createDataFrame([(1, "s1"), (2, "s2")], "pk long, val string")
    pq.write_snapshot("t", snap)
    dk.write_snapshot("t", snap)

    def norm_pq():
        return sorted((r.pk, r.val) for r in pq.read("t").select("pk", "val").collect())

    def norm_dk():
        return sorted((int(r["pk"]), r["val"]) for r in dk.read("t"))

    lsn = 10
    batch_id = 0
    last = None
    for step in range(8):
        action = rng.choices(
            ["batch", "whole_replay", "truncate", "restart"],
            weights=[6, 2, 1, 2],
        )[0]
        if action == "batch" or last is None:
            events = []
            for _ in range(rng.randint(1, 5)):
                pk = rng.randint(0, 9)
                kind = rng.choice(["INSERT", "UPDATE", "DELETE"])
                events.append((kind, lsn, pk,
                               None if kind == "DELETE" else f"v{lsn}_{pk}"))
            lsn += 1
            batch_id += 1
            b = _batch(spark, events)
            pq.write_changes("t", b, batch_id)
            dk.write_changes("t", b, batch_id)
            last = (batch_id, events)
        elif action == "whole_replay":
            bid, events = last
            b = _batch(spark, events)
            pq.write_changes("t", b, bid)
            dk.write_changes("t", b, bid)
        elif action == "truncate":
            pq.truncate("t")
            dk.truncate("t")
            pq.write_snapshot("t", snap)
            dk.write_snapshot("t", snap)
            last = None
        elif action == "restart":
            pq, dk = mk()
        assert norm_pq() == norm_dk(), (seed, step, action)


@pytest.mark.parametrize("seed", [3, 13, 19, 31, 37, 43, 53, 61, 71, 83])
def test_changelog_parquet_vs_duckdb_differential(spark, tmp_path, seed):
    """DIFFERENTIAL model, third sink family (r9 verdict item #5): the
    batch-dir parquet changelog and the SQL-warehouse changelog are
    independent implementations of one contract — every event lands
    exactly once in sequence order, whole-batch replays (same id) are
    inert, and PARTIAL replays under a new id must not duplicate the
    consumer-visible stream. Their dedup machinery differs on purpose:
    the warehouse sink dedups per event on _etl_seq (exactly-once rows in
    the table), the parquet sink dedups per batch DIR and leaves
    per-event dedup to the reader's cdc_sequence (at-least-once files,
    exactly-once sequence set). So the invariant compared after every
    step is: DISTINCT (pk, val, op, seq) of the parquet read == the FULL
    multiset of the warehouse table (which must therefore also be
    internally duplicate-free — a failed _etl_seq dedup shows up as a
    multiset mismatch, not just a weaker distinct-set equality)."""
    import math

    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.duckdb_sink import DuckDBChangelogSink
    from etl_spark.streaming.sinks import ParquetChangelogSink

    rng = random.Random(seed)
    pq_root = str(tmp_path / "pq")
    db = str(tmp_path / "wh.duckdb")

    def _nkey(t):
        # DELETE rows carry val=None — make the sort total
        return (t[0], t[1] is not None, t[1] or "", t[2], t[3])

    def mk():
        return (
            ParquetChangelogSink(pq_root),
            DuckDBChangelogSink(db, staging_dir=str(tmp_path / "stage")),
        )

    def batch5(events):
        # events carry their ORIGINAL (lsn, ordinal): a partial replay
        # must re-deliver identical sequence numbers, so no re-enumerate
        return with_sequence(spark.createDataFrame(
            [(op, lsn, o, pk, v) for (op, lsn, o, pk, v) in events], PAYLOAD))

    pq, dk = mk()
    snap = spark.createDataFrame([(1, "s1"), (2, "s2")], "pk long, val string")
    pq.write_snapshot("t", snap)
    dk.write_snapshot("t", snap)

    def norm_pq():
        from pyspark.sql import functions as F

        rows = (
            pq.read("t")
            .select(
                "pk", "val",
                F.coalesce(F.col("cdc_operation"), F.lit("INSERT")).alias("op"),
                F.coalesce(F.col("cdc_sequence").cast("decimal(38,0)"),
                           F.lit(0)).alias("seq"),
            )
            .collect()
        )
        return sorted({(r.pk, r.val, r.op, int(r.seq)) for r in rows},
                      key=_nkey)

    def norm_dk():
        import duckdb as _duckdb

        # read via SQL, not .df(): pandas degrades HUGEINT _etl_seq to
        # float64 and loses the tx_ordinal low bits
        con = _duckdb.connect(db)
        rows = con.execute(
            'SELECT pk, val, op, CAST(_etl_seq AS VARCHAR) FROM "t"'
        ).fetchall()
        con.close()
        # FULL multiset: sorted list, so an undeduped partial replay
        # (duplicate row) breaks equality with the parquet distinct set
        return sorted(((int(pk), val, op, int(seq)) for pk, val, op, seq in rows),
                      key=_nkey)

    lsn = 10
    batch_id = 0
    last = None
    for step in range(8):
        action = rng.choices(
            ["batch", "whole_replay", "partial_replay", "compact", "restart"],
            weights=[6, 2, 2, 1, 2],
        )[0]
        if action == "batch" or last is None:
            events = []
            for o in range(rng.randint(1, 5)):
                pk = rng.randint(0, 9)
                kind = rng.choice(["INSERT", "UPDATE", "DELETE"])
                events.append((kind, lsn, o, pk,
                               None if kind == "DELETE" else f"v{lsn}_{pk}"))
            lsn += 1
            batch_id += 1
            b = batch5(events)
            pq.write_changes("t", b, batch_id)
            dk.write_changes("t", b, batch_id)
            last = (batch_id, events)
        elif action == "whole_replay":
            bid, events = last
            b = batch5(events)
            pq.write_changes("t", b, bid)
            dk.write_changes("t", b, bid)
        elif action == "partial_replay":
            # a strict subset of the last batch under a NEW id, original
            # sequence numbers: the warehouse _etl_seq dedup must absorb
            # it; the parquet side's new dir is deduped by the reader
            _bid, events = last
            subset = [e for e in events if rng.random() < 0.6] or events[:1]
            batch_id += 1
            b = batch5(subset)
            pq.write_changes("t", b, batch_id)
            dk.write_changes("t", b, batch_id)
        elif action == "compact":
            pq.compact("t", keep_batches=rng.choice([0, 2]))
        elif action == "restart":
            pq, dk = mk()
        assert norm_pq() == norm_dk(), (seed, step, action)


@pytest.mark.parametrize("seed", [9, 21])
def test_scd2_differential_with_column_adds(spark, tmp_path, seed):
    """DIFFERENTIAL under SCHEMA EVOLUTION (round-10 guard for the
    warehouse column-add fix): the bucket-manifest SCD2 sink and the
    SQL-warehouse SCD2 sink receive the same seeded stream of batches,
    ADD COLUMN .. DEFAULT changes, whole replays, and restarts. Both
    implement PG attmissingval semantics (pre-DDL version rows read the
    default), and the warehouse INSERT path must keep columns aligned
    after the ALTER — the exact bug class ADVICE r9 found (positional
    INSERTs put post-ADD values in the wrong columns). Version tables
    must be identical after every step."""
    import math
    import random

    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.duckdb_sink import DuckDBScd2Sink
    from etl_spark.streaming.sinks import ParquetScd2Sink

    rng = random.Random(seed)
    pq_root = str(tmp_path / "pq")
    db = str(tmp_path / "wh.duckdb")

    def mk():
        return (
            ParquetScd2Sink(pq_root, keys=["pk"], spark=spark, n_buckets=4),
            DuckDBScd2Sink(db, keys={"t": ["pk"]},
                           staging_dir=str(tmp_path / "stage")),
        )

    pq, dk = mk()
    snap = spark.createDataFrame([(1, "s1"), (2, "s2")], "pk long, val string")
    pq.write_snapshot("t", snap)
    dk.write_snapshot("t", snap)

    vcols = ["val"]          # value columns; ADD..DEFAULT appends fresh ones
    gen = 1

    def batch_dyn(events):
        schema = ("op string, commit_lsn long, tx_ordinal long, pk long, "
                  + ", ".join(f"{c} string" for c in vcols))
        rows = [(op, lsn, i, pk, *[vals.get(c) for c in vcols])
                for i, (op, lsn, pk, vals) in enumerate(events)]
        return with_sequence(spark.createDataFrame(rows, schema))

    base_cols = ["pk", "op", "valid_from", "tx_ordinal", "valid_to",
                 "is_current"]

    def norm_pq():
        rows = pq.read("t").select(*base_cols, *vcols).collect()
        return sorted(
            (r["pk"], r["op"], int(r["valid_from"]), int(r["tx_ordinal"]),
             None if r["valid_to"] is None else int(r["valid_to"]),
             bool(r["is_current"]), *[r[c] for c in vcols])
            for r in rows
        )

    def norm_dk():
        out = []
        for r in dk.read("t"):
            vt = r["valid_to"]
            vt = None if vt is None or (
                isinstance(vt, float) and math.isnan(vt)) else int(vt)
            vals = []
            for c in vcols:
                v = r.get(c)
                vals.append(None if (isinstance(v, float) and math.isnan(v))
                            else v)
            out.append((int(r["pk"]), r["op"], int(r["valid_from"]),
                        int(r["tx_ordinal"]), vt, bool(r["is_current"]),
                        *vals))
        return sorted(out)

    lsn = 10
    batch_id = 0
    last = None
    for step in range(8):
        action = rng.choices(
            ["batch", "add_col", "whole_replay", "restart"],
            weights=[6, 2, 2, 2],
        )[0]
        if action == "batch" or last is None:
            events = []
            for _ in range(rng.randint(1, 4)):
                pk = rng.randint(0, 6)
                kind = rng.choice(["INSERT", "UPDATE", "DELETE"])
                vals = ({} if kind == "DELETE" else
                        {c: f"v{lsn}_{pk}_{c}" for c in vcols
                         if rng.random() < 0.85})
                events.append((kind, lsn, pk, vals))
            lsn += 1
            batch_id += 1
            b = batch_dyn(events)
            pq.write_changes("t", b, batch_id)
            dk.write_changes("t", b, batch_id)
            last = (batch_id, events)
        elif action == "add_col":
            c = f"c{gen}"
            d = f"d{gen}"
            gen += 1
            pq.apply_schema_change("t", defaults=[(c, d, "string")])
            dk.apply_schema_change("t", defaults=[(c, d, "string")])
            vcols.append(c)
            # post-DDL batches now carry the column; pre-DDL versions
            # must read the default on BOTH sides (attmissingval)
        elif action == "whole_replay":
            bid, events = last
            b = batch_dyn(events)
            pq.write_changes("t", b, bid)
            dk.write_changes("t", b, bid)
        elif action == "restart":
            pq, dk = mk()
        assert norm_pq() == norm_dk(), (seed, step, action)


@pytest.mark.parametrize("seed", [14, 33])
def test_current_state_differential_with_column_adds(spark, tmp_path, seed):
    """DIFFERENTIAL under SCHEMA EVOLUTION, current-state family: same
    seeded batch/ADD..DEFAULT/replay/restart stream against the
    bucket-manifest LWW sink and the warehouse MERGE sink; key→row state
    (including the added columns' backfilled defaults) must match after
    every step. Guards the CurrentStateSink arm of the warehouse
    column-add fix."""
    import random

    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.duckdb_sink import DuckDBCurrentStateSink

    rng = random.Random(seed)
    pq_root = str(tmp_path / "pq")
    db = str(tmp_path / "wh.duckdb")

    def mk():
        return (
            ParquetCurrentStateSink(pq_root, keys=["pk"], spark=spark,
                                    n_buckets=4),
            DuckDBCurrentStateSink(db, keys={"t": ["pk"]},
                                   staging_dir=str(tmp_path / "stage")),
        )

    pq, dk = mk()
    snap = spark.createDataFrame([(1, "s1"), (2, "s2")], "pk long, val string")
    pq.write_snapshot("t", snap)
    dk.write_snapshot("t", snap)

    vcols = ["val"]
    gen = 1

    def batch_dyn(events):
        schema = ("op string, commit_lsn long, tx_ordinal long, pk long, "
                  + ", ".join(f"{c} string" for c in vcols))
        rows = [(op, lsn, i, pk, *[vals.get(c) for c in vcols])
                for i, (op, lsn, pk, vals) in enumerate(events)]
        return with_sequence(spark.createDataFrame(rows, schema))

    def norm_pq():
        rows = pq.read("t").select("pk", *vcols).collect()
        return sorted((r["pk"], *[r[c] for c in vcols]) for r in rows)

    def norm_dk():
        import math

        out = []
        for r in dk.read("t"):
            vals = [None if (isinstance(r.get(c), float)
                             and math.isnan(r.get(c))) else r.get(c)
                    for c in vcols]
            out.append((int(r["pk"]), *vals))
        return sorted(out)

    lsn = 10
    batch_id = 0
    last = None
    for step in range(8):
        action = rng.choices(
            ["batch", "add_col", "whole_replay", "restart"],
            weights=[6, 2, 2, 2],
        )[0]
        if action == "batch" or last is None:
            events = []
            for _ in range(rng.randint(1, 4)):
                pk = rng.randint(0, 6)
                kind = rng.choice(["INSERT", "UPDATE", "DELETE"])
                vals = ({} if kind == "DELETE" else
                        {c: f"v{lsn}_{pk}_{c}" for c in vcols
                         if rng.random() < 0.85})
                events.append((kind, lsn, pk, vals))
            lsn += 1
            batch_id += 1
            b = batch_dyn(events)
            pq.write_changes("t", b, batch_id)
            dk.write_changes("t", b, batch_id)
            last = (batch_id, events)
        elif action == "add_col":
            c = f"c{gen}"
            d = f"d{gen}"
            gen += 1
            pq.apply_schema_change("t", defaults=[(c, d, "string")])
            dk.apply_schema_change("t", defaults=[(c, d, "string")])
            vcols.append(c)
        elif action == "whole_replay":
            bid, events = last
            b = batch_dyn(events)
            pq.write_changes("t", b, bid)
            dk.write_changes("t", b, bid)
        elif action == "restart":
            pq, dk = mk()
        assert norm_pq() == norm_dk(), (seed, step, action)
