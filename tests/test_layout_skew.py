"""Bucketed co-located joins + skew operators: result AND plan checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_spark import layout
from etl_spark.operators import skew
from tests.test_plans import n_shuffles, plan_of


@pytest.fixture(scope="module")
def facts(spark):
    left = spark.range(0, 10_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("l_val")
    )
    right = spark.range(0, 1_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("r_val")
    )
    return left, right


def test_bucketed_join_has_no_exchange(spark, facts):
    left, right = facts
    try:
        layout.bucket_table(left, "b_left", ["k"], n_buckets=8, sort_cols=["k"])
        layout.bucket_table(right, "b_right", ["k"], n_buckets=8, sort_cols=["k"])
        joined = spark.table("b_left").join(spark.table("b_right"), ["k"])
        plan = plan_of(joined)
        assert n_shuffles(plan) == 0, plan  # co-located: no exchange either side
        assert joined.count() == left.join(right, "k").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_salted_agg_matches_plain(spark, facts):
    left, _ = facts
    plain = {
        (r.k): (r.s, r.c, r.m)
        for r in left.groupBy("k")
        .agg(F.sum("l_val").alias("s"), F.count("l_val").alias("c"), F.max("l_val").alias("m"))
        .collect()
    }
    salted = {
        (r.k): (r.sum_l_val, r.count_l_val, r.max_l_val)
        for r in skew.salted_agg(
            left, ["k"], {"l_val": "sum"} | {}, n_salts=4
        ).join(
            skew.salted_agg(left, ["k"], {"l_val": "count"}, n_salts=4), "k"
        ).join(
            skew.salted_agg(left, ["k"], {"l_val": "max"}, n_salts=4), "k"
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_non_mergeable(spark, facts):
    with pytest.raises(ValueError):
        skew.salted_agg(facts[0], ["k"], {"l_val": "avg"})


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A date/key-partitioned fact joined to a filtered dim must plan a
    DPP subquery (dynamicpruningexpression): at 100 TB the fact scan reads
    only the partitions the dim filter selects — the lakehouse layout
    counterpart of the z-order file-stat pruning."""
    from pyspark.sql import functions as F

    from etl_spark.io import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "shard", (F.col("user_id") % 5).cast("int")
    )
    path = str(tmp_path / "ev_part")
    ev.write.partitionBy("shard").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(i, "keep" if i < 2 else "drop") for i in range(5)], ["shard", "tag"]
    )
    q = fact.join(F.broadcast(dim).filter(F.col("tag") == "keep"), "shard").groupBy(
        "shard"
    ).count()
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_bucketed_full_outer_diff_has_no_exchange(spark):
    """cdc_table_diff's claim (workload.py): with both sides pk-bucketed
    (layout.bucket_table), the full-outer reconciliation diff is
    EXCHANGE-FREE — the anti-entropy audit becomes a per-bucket local
    merge at any scale."""
    cur = spark.range(0, 5_000).select(
        F.col("id").alias("pk"), (F.col("id") * 2.0).alias("value")
    )
    dest = spark.range(0, 5_000).filter(F.col("id") % 7 != 0).select(
        F.col("id").alias("pk"),
        (F.col("id") * 2.0 + (F.col("id") % 11 == 0).cast("double")).alias("dest_value"),
    )
    try:
        layout.bucket_table(cur, "b_cur", ["pk"], n_buckets=8, sort_cols=["pk"])
        layout.bucket_table(dest, "b_dest", ["pk"], n_buckets=8, sort_cols=["pk"])
        j = spark.table("b_cur").join(spark.table("b_dest"), ["pk"], "full_outer")
        diff = (
            j.withColumn(
                "diff_kind",
                F.when(F.col("dest_value").isNull(), "missing_in_dest")
                .when(F.col("value").isNull(), "extra_in_dest")
                .when(~F.col("value").eqNullSafe(F.col("dest_value")), "value_mismatch"),
            )
            .filter(F.col("diff_kind").isNotNull())
        )
        plan = plan_of(diff)
        assert n_shuffles(plan) == 0, plan  # zero Exchange on either side
        kinds = {r.diff_kind for r in diff.collect()}
        assert kinds == {"missing_in_dest", "value_mismatch"}
        # counts match the logical definitions
        assert diff.filter("diff_kind = 'missing_in_dest'").count() == 5_000 // 7 + 1
    finally:
        spark.sql("DROP TABLE IF EXISTS b_cur")
        spark.sql("DROP TABLE IF EXISTS b_dest")


def test_salted_topk_matches_naive_window(spark):
    """Two-phase top-k equals the single-window rank<=k result exactly —
    including on a hot key holding most rows and keys with < k rows."""
    from pyspark.sql import Window

    df = spark.range(0, 5_000).select(
        # Zipf-ish: key 0 takes ~80% of rows, the rest spread over 50 keys
        F.when(F.col("id") % 5 != 0, F.lit(0))
        .otherwise((F.col("id") % 50) + 1).alias("k"),
        F.col("id").alias("row_id"),
        (F.xxhash64("id") % 1000).alias("score"),
    )
    naive_w = Window.partitionBy("k").orderBy(
        F.col("score").desc(), F.col("row_id").asc())
    naive = (
        df.withColumn("rank", F.row_number().over(naive_w))
        .filter(F.col("rank") <= 7)
    )
    salted = skew.salted_topk_per_key(
        df, keys=["k"],
        order_by=[F.col("score").desc(), F.col("row_id").asc()],
        k=7, salt_col="row_id", n_salts=4,
    )
    want = {(r.k, r.row_id, r.rank) for r in naive.collect()}
    got = {(r.k, r.row_id, r.rank) for r in salted.collect()}
    assert got == want
    # sparse keys (< k rows) all survive with complete ranks
    sparse = [r for r in got if r[0] != 0]
    assert sparse and max(r[2] for r in sparse) <= 7


def test_salted_topk_rejects_reserved_columns(spark):
    """Inputs already carrying rank/__salt/__lr are rejected, not silently
    overwritten (ADVICE r10)."""
    df = spark.range(0, 10).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("row_id"),
        F.lit(1).alias("rank"),
    )
    with pytest.raises(ValueError, match="rank"):
        skew.salted_topk_per_key(
            df, keys=["k"], order_by=[F.col("row_id").asc()],
            k=3, salt_col="row_id",
        )
