"""Compaction + version expiry (the reference's external maintenance,
ducklake/external_maintenance.rs)."""

import os

import pytest

from etl_spark.maintenance import expire_versions


def test_expire_versions_keeps_live(spark, tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    for v in range(5):
        spark.range(v, v + 10).write.parquet(os.path.join(root, f"v{v}"))
    removed = expire_versions(root, keep=2)
    assert removed == ["v0", "v1", "v2"]
    assert sorted(d for d in os.listdir(root) if d.startswith("v")) == ["v3", "v4"]
    # keep clamps to 1 — the live version can never be expired
    assert expire_versions(root, keep=0) == ["v3"]
    assert sorted(d for d in os.listdir(root) if d.startswith("v")) == ["v4"]


def test_incremental_rollup_untouched_partitions_preserved(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_spark.streaming.rollup import IncrementalRollup

    path = str(tmp_path / "roll")
    roll = IncrementalRollup(spark, path, "b", ["g"], "v")
    df = lambda rows: spark.createDataFrame(rows, "b long, g string, v double")
    roll.update(df([(1, "x", 1.0), (1, "x", 2.0), (2, "y", 5.0)]))
    # second batch touches bucket 2 only — bucket 1's partition must not be
    # rewritten (its mtime is the cheap proxy) and its values must survive
    import os, time

    p1 = os.path.join(path, "b=1")
    before = max(os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1))
    time.sleep(1.1)
    roll.update(df([(2, "y", 7.0)]))
    after = max(os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1))
    assert after == before  # dynamic overwrite left bucket 1 alone
    got = {
        (r.b, r.g): (r.n, float(r.sum_value))
        for r in roll.read().collect()
    }
    assert got == {(1, "x"): (2, 3.0), (2, "y"): (2, 12.0)}
    # schema stays pinned across merge generations
    assert dict(roll.read().dtypes)["sum_value"] == "decimal(20,2)"


def test_incremental_rollup_coarse_partition_keeps_dir_mates(spark, tmp_path):
    """partition_of decouples storage dirs from bucket granularity (round
    9: per-dir overwrite-commit cost was the gate query's toll). The
    invariant the coarse layout must keep: dynamic overwrite replaces a
    touched dir WHOLE, so a batch touching SOME buckets of a partition
    must carry the partition's untouched buckets through the merge —
    filtering the read-back to touched buckets silently drops their
    dir-mates (the profiler caught exactly this: 3485/3600 rows)."""
    import os

    from pyspark.sql import functions as F

    from etl_spark.streaming.rollup import IncrementalRollup

    path = str(tmp_path / "roll")
    # buckets 0..47 are hours; partition = day (bucket div 24)
    roll = IncrementalRollup(
        spark, path, "b", ["g"], "v", partition_of=lambda c: c - (c % 24)
    )
    df = lambda rows: spark.createDataFrame(rows, "b long, g string, v double")
    # batch 1: hours 1 and 5 of day 0, hour 30 of day 1
    roll.update(df([(1, "x", 1.0), (5, "x", 2.0), (30, "y", 5.0)]))
    dirs = sorted(d for d in os.listdir(path) if "=" in d)
    assert dirs == ["__part_b=0", "__part_b=24"]
    # batch 2 touches ONLY hour 1 — day 0's dir is rewritten whole; hour
    # 5 (untouched dir-mate) must survive the rewrite
    roll.update(df([(1, "x", 10.0)]))
    got = {(r.b, r.g): (r.n, float(r.sum_value)) for r in roll.read().collect()}
    assert got == {(1, "x"): (2, 11.0), (5, "x"): (1, 2.0), (30, "y"): (1, 5.0)}
    # the internal partition column never leaks to readers
    assert "__part_b" not in roll.read().columns
    # one file per touched dir per update generation (repartition by dir)
    day0 = [f for f in os.listdir(os.path.join(path, "__part_b=0"))
            if f.endswith(".parquet")]
    assert len(day0) == 1


def test_compact_live_sink_and_manifest_expiry(spark, tmp_path):
    """Sink-level compaction folds the manifest chain into one fresh
    version; manifest-aware expiry then reclaims every superseded dir but
    NEVER a dir still referenced by the live manifest (untouched buckets
    carry old-dir references forward)."""
    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    sink = ParquetCurrentStateSink(str(tmp_path / "wh"), keys=["pk"], spark=spark)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "pk long, val string")
    sink.write_snapshot("t", df)
    for b in range(3):  # three incremental batches -> manifest spans dirs
        batch = with_sequence(spark.createDataFrame(
            [("UPDATE", 10 + b, 0, b, f"u{b}")],
            "op string, commit_lsn long, tx_ordinal long, pk long, val string"))
        sink.write_changes("t", batch, batch_id=b)
    assert len(sink.live_dirs("t")) > 1  # untouched buckets still in v0
    # expiry while the manifest spans dirs must keep every referenced dir
    removed = expire_versions(str(tmp_path / "wh" / "t"), keep=1)
    assert "v0" not in removed and sink.read("t").count() == 100
    sink.compact("t")
    assert sink.live_dirs("t") == {f"v{sink._current_version('t')}"}
    removed = expire_versions(str(tmp_path / "wh" / "t"), keep=1)
    assert removed  # superseded dirs reclaimed after the fold
    got = {r.pk: r.val for r in sink.read("t").collect()}
    want = {i: f"v{i}" for i in range(100)} | {b: f"u{b}" for b in range(3)}
    assert got == want


def test_sink_untouched_buckets_not_rewritten(spark, tmp_path):
    """The core incremental-write property: a batch rewrites ONLY its
    touched key-buckets — every untouched bucket's files are byte-identical
    (same paths, same bytes) across the batch. This is the reference's
    apply-changes-not-the-world destination behavior
    (bigquery/core.rs:1409-1478, ducklake/core.rs:1133-1216)."""
    import hashlib

    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.sinks import ParquetCurrentStateSink, ParquetScd2Sink

    def dir_digest(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    for cls in (ParquetCurrentStateSink, ParquetScd2Sink):
        root = str(tmp_path / cls.__name__)
        sink = cls(root, keys=["pk"], spark=spark, n_buckets=8)
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(64)], "pk long, val string")
        sink.write_snapshot("t", df)
        v0 = os.path.join(root, "t", "v0")
        before = dir_digest(v0)
        batch = with_sequence(spark.createDataFrame(
            [("UPDATE", 10, 0, 7, "u7")],
            "op string, commit_lsn long, tx_ordinal long, pk long, val string"))
        sink.write_changes("t", batch, batch_id=0)
        # v0 files (incl. the untouched buckets' data) are untouched bytes
        assert dir_digest(v0) == before
        # exactly one bucket repointed to the new version dir
        manifest = sink._manifest("t", sink._current_version("t"))
        moved = [b for b, vd in manifest["buckets"].items() if vd != "v0"]
        assert len(moved) == 1
        # and the merged content is correct
        got = {r.pk: r.val for r in sink.read("t").select("pk", "val").collect()}
        assert got[7] == "u7" and got[3] == "v3" and len(got) == 64


def test_sink_time_travel_read_version(spark, tmp_path):
    """Every committed version stays readable until expiry: read_version
    returns the table AS OF that commit (rollback-tables reader)."""
    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    sink = ParquetCurrentStateSink(str(tmp_path / "wh"), keys=["pk"], spark=spark)
    sink.write_snapshot("t", spark.createDataFrame(
        [(1, "a"), (2, "b")], "pk long, val string"))
    batch = with_sequence(spark.createDataFrame(
        [("UPDATE", 10, 0, 1, "a1"), ("DELETE", 11, 0, 2, None)],
        "op string, commit_lsn long, tx_ordinal long, pk long, val string"))
    sink.write_changes("t", batch, batch_id=0)
    now = {r.pk: r.val for r in sink.read("t").select("pk", "val").collect()}
    assert now == {1: "a1"}
    v0 = {r.pk: r.val for r in sink.read_version("t", 0).select("pk", "val").collect()}
    assert v0 == {1: "a", 2: "b"}  # the pre-batch world, byte-identical files
    # after expiry the old manifest is gone — time travel window closed
    from etl_spark.maintenance import expire_versions

    sink.compact("t")
    expire_versions(str(tmp_path / "wh" / "t"), keep=1)
    import pytest

    with pytest.raises(FileNotFoundError):
        sink.read_version("t", 0).collect()


def test_changelog_reads_through_table_routing_sink(spark, tmp_path):
    """The changelog sink's ``read`` takes the table alone, like every
    other sink's, so a routing sink can read a changelog table back."""
    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.sinks import ParquetChangelogSink, TableRoutingSink

    router = TableRoutingSink({"t": ParquetChangelogSink(str(tmp_path / "log"))})
    router.write_changes("t", with_sequence(spark.createDataFrame(
        [("INSERT", 10, 0, 10, 1, "v")],
        "op string, commit_lsn long, tx_ordinal long, start_lsn long, "
        "pk long, val string")), batch_id=0)
    assert [(r.pk, r.val) for r in router.read("t").collect()] == [(1, "v")]


def test_changelog_compaction_crash_safe(spark, tmp_path):
    """Changelog compaction folds old batch dirs into a segment with a
    FOLDED-manifest commit: content identical before/after, a replayed
    delivery recreating a folded batch dir is ignored (no double-count),
    and repeated compaction folds incrementally."""
    import os as _os

    from etl_spark.streaming.sinks import ParquetChangelogSink

    sink = ParquetChangelogSink(str(tmp_path / "log"))
    mk = lambda lsn, pk: spark.createDataFrame(
        [("INSERT", lsn, 0, lsn, pk, "v")],
        "op string, commit_lsn long, tx_ordinal long, start_lsn long, pk long, val string")
    from etl_spark.envelope import with_sequence

    for b in range(6):
        sink.write_changes("t", with_sequence(mk(10 + b, b)), batch_id=b)
    before = sorted(r.pk for r in sink.read("t").collect())
    folded = sink.compact("t", keep_batches=2)
    assert folded == [0, 1, 2, 3]
    after = sorted(r.pk for r in sink.read("t").collect())
    assert after == before
    tdir = str(tmp_path / "log" / "t")
    live_batches = [d for d in _os.listdir(tdir) if d.startswith("batch=")]
    assert sorted(live_batches) == ["batch=4", "batch=5"]
    # replayed delivery of a FOLDED batch id: dir reappears, read skips it
    sink.write_changes("t", with_sequence(mk(10, 0)), batch_id=0)
    assert sorted(r.pk for r in sink.read("t").collect()) == before
    # second compaction folds the remaining old batches incrementally
    sink.write_changes("t", with_sequence(mk(16, 6)), batch_id=6)
    folded2 = sink.compact("t", keep_batches=1)
    assert folded2 == [4, 5]
    got = sorted(r.pk for r in sink.read("t").collect())
    assert got == before + [6]


def test_changelog_compact_orphan_segment_invisible_and_gced(spark, tmp_path):
    """A crash between the segment write and the FOLDED commit leaves an
    UNLISTED segment dir: readers must ignore it (no double-count of the
    still-live batch dirs) and the next compact must GC it — even when the
    retry folds a different batch set under a different segment name."""
    import json as _json
    import os as _os

    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.sinks import ParquetChangelogSink

    sink = ParquetChangelogSink(str(tmp_path / "log"))
    mk = lambda lsn, pk: spark.createDataFrame(
        [("INSERT", lsn, 0, lsn, pk, "v")],
        "op string, commit_lsn long, tx_ordinal long, start_lsn long, pk long, val string")
    for b in range(4):
        sink.write_changes("t", with_sequence(mk(10 + b, b)), batch_id=b)
    before = sorted(r.pk for r in sink.read("t").collect())

    # simulate the crash: segment written, FOLDED commit never happened
    tdir = str(tmp_path / "log" / "t")
    orphan = _os.path.join(tdir, "segment_1")
    spark.read.parquet(_os.path.join(tdir, "batch=0"),
                       _os.path.join(tdir, "batch=1")).write.parquet(orphan)

    # reader ignores the orphan — batches 0/1 counted exactly once
    assert sorted(r.pk for r in sink.read("t").collect()) == before

    # new batches arrive, then the compact retry folds 0..3 under a
    # DIFFERENT name (segment_3) — the orphan must be GC'd, not kept
    folded = sink.compact("t", keep_batches=0)
    assert folded == [0, 1, 2, 3]
    assert not _os.path.exists(orphan)
    manifest = _json.load(open(_os.path.join(tdir, "FOLDED")))
    assert manifest["segments"] == ["segment_3"]
    assert sorted(r.pk for r in sink.read("t").collect()) == before


def test_expire_versions_anchors_on_live_pointer(spark, tmp_path):
    """A crash between the manifest_v{N} write and the VERSION swap leaves
    an orphan manifest newer than the live version. keep=1 retention must
    anchor on the VERSION pointer — the LIVE manifest and every dir it
    references stay; the orphan is left for the retry, and the table the
    pointer names remains readable."""
    import json as _json
    import os as _os

    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    sink = ParquetCurrentStateSink(str(tmp_path / "wh"), keys=["pk"], spark=spark)
    df = spark.createDataFrame(
        [("INSERT", 1, 0, 1, "a")],
        "op string, commit_lsn long, tx_ordinal long, pk long, val string")
    from etl_spark.envelope import with_sequence

    sink.write_snapshot("t", with_sequence(df))  # v0 committed
    tdir = str(tmp_path / "wh" / "t")
    # simulate the torn commit: manifest_v1 exists, VERSION still at v0
    m0 = _json.load(open(_os.path.join(tdir, "manifest_v0.json")))
    torn = dict(m0, buckets={b: "v1" for b in m0["buckets"]})
    _json.dump(torn, open(_os.path.join(tdir, "manifest_v1.json"), "w"))
    _os.makedirs(_os.path.join(tdir, "v1"), exist_ok=True)

    removed = expire_versions(tdir, keep=1)
    # v0 is live (VERSION points at it): its manifest and dir survive
    assert removed == []
    assert _os.path.exists(_os.path.join(tdir, "manifest_v0.json"))
    assert {r.pk for r in sink.read("t").collect()} == {1}
    # a later REAL commit supersedes the orphan; expiry then reclaims v0
    sink.write_changes("t", with_sequence(spark.createDataFrame(
        [("UPDATE", 2, 0, 1, "b")],
        "op string, commit_lsn long, tx_ordinal long, pk long, val string")), 1)
    removed = expire_versions(tdir, keep=1)
    assert {r.val for r in sink.read("t").collect()} == {"b"}


def test_bucket_manifest_at_512_buckets_multibatch(spark, tmp_path):
    """The bucket-manifest sink at a production-shaped bucket count
    (n_buckets=512, vs the 32-bucket sim default) over a multi-batch
    stream: (a) manifest-chain reads stay correct after every batch,
    (b) the touched-bucket fraction matches the batch's key spread
    (small batches rewrite only their own buckets), (c) compact() folds
    the chain to one version dir, (d) expire_versions never reclaims a
    dir the live manifest references."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    sink = ParquetCurrentStateSink(
        str(tmp_path / "wh"), keys=["pk"], spark=spark, n_buckets=512
    )
    n_keys = 2000
    snap = with_sequence(
        spark.range(n_keys).select(
            F.lit("INSERT").alias("op"),
            F.lit(0).cast("long").alias("commit_lsn"),
            F.col("id").alias("tx_ordinal"),
            F.col("id").alias("pk"),
            F.concat(F.lit("v0_"), F.col("id")).alias("val"),
        )
    )
    sink.write_snapshot("t", snap)
    m0 = sink._manifest("t", sink._current_version("t"))
    assert m0["n_buckets"] == 512
    assert len(m0["buckets"]) > 400  # 2000 keys spread over ~all 512

    model = {pk: f"v0_{pk}" for pk in range(n_keys)}
    chain_dirs = set()
    for i in range(4):
        lo = i * 10
        keys = list(range(lo, lo + 10))
        batch = with_sequence(
            spark.createDataFrame(
                [("UPDATE", i + 1, j, k, f"b{i}_{k}") for j, k in enumerate(keys)],
                "op string, commit_lsn long, tx_ordinal long, pk long, val string",
            )
        )
        sink.write_changes("t", batch, batch_id=i)
        for k in keys:
            model[k] = f"b{i}_{k}"
        ver = sink._current_version("t")
        manifest = sink._manifest("t", ver)
        moved = [b for b, vd in manifest["buckets"].items() if vd == f"v{ver}"]
        # touched fraction: ≤ one bucket per batch key, and tiny vs 512
        assert 1 <= len(moved) <= 10
        chain_dirs.update(manifest["buckets"].values())
        got = {r.pk: r.val for r in sink.read("t").collect()}
        assert got == model  # manifest-chain read correct at every step

    assert len(chain_dirs) >= 4  # reads really span a version chain
    sink.compact("t")
    folded = sink._manifest("t", sink._current_version("t"))
    assert len(set(folded["buckets"].values())) == 1  # one fresh dir
    removed = expire_versions(str(tmp_path / "wh" / "t"), keep=1)
    assert removed  # superseded chain dirs reclaimed
    live = set(folded["buckets"].values())
    for d in removed:
        assert d not in live  # never a live dir
    got = {r.pk: r.val for r in sink.read("t").collect()}
    assert got == model  # still correct after compact + expiry


def test_changelog_compact_with_concurrent_appends(spark, tmp_path):
    """A stream appends new batch dirs WHILE compact folds old ones (the
    writer-vs-maintenance race the reference's external maintenance
    handles): batches landing between doomed-list computation and the
    FOLDED commit — and between the commit and the dir deletions — must
    stay live, be counted exactly once, and fold cleanly next round."""
    from etl_spark import failpoints
    from etl_spark.envelope import with_sequence
    from etl_spark.streaming.sinks import ParquetChangelogSink

    sink = ParquetChangelogSink(str(tmp_path / "log"))
    mk = lambda lsn, pk: spark.createDataFrame(
        [("INSERT", lsn, 0, lsn, pk, "v")],
        "op string, commit_lsn long, tx_ordinal long, start_lsn long, pk long, val string")
    for b in range(4):
        sink.write_changes("t", with_sequence(mk(10 + b, b)), batch_id=b)

    # batch 4 lands between segment write and manifest commit; batch 5
    # lands between the commit and the folded-dir deletions
    failpoints.arm_call(
        failpoints.COMPACT_BEFORE_COMMIT,
        lambda: sink.write_changes("t", with_sequence(mk(14, 4)), batch_id=4),
    )
    failpoints.arm_call(
        failpoints.COMPACT_AFTER_COMMIT,
        lambda: sink.write_changes("t", with_sequence(mk(15, 5)), batch_id=5),
    )
    try:
        folded = sink.compact("t", keep_batches=0)
    finally:
        failpoints.disarm_all()
    assert folded == [0, 1, 2, 3]  # only the pre-fold batches folded
    got = sorted(r.pk for r in sink.read("t").collect())
    assert got == [0, 1, 2, 3, 4, 5]  # mid-fold appends live, once each
    # next round folds the mid-fold appends incrementally
    folded2 = sink.compact("t", keep_batches=0)
    assert folded2 == [4, 5]
    assert sorted(r.pk for r in sink.read("t").collect()) == got
