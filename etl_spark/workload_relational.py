"""Relational analytics queries over the TPC-H-ish testdata.

The reference has no relational operators ("available for free in Spark",
SURVEY §2.3/2.4) — these queries demonstrate that the engine's host gives
joins/aggregations/windows/sorts with Catalyst doing pushdown, pruning,
broadcast selection and AQE. Numeric policy for oracle parity: aggregate in
DECIMAL(12,2)-derived types (exact, engine-portable), averages as
double-of-decimal divisions; dates compared as formatted strings; epoch
seconds for time bucketing (testdata timestamps arrive as nanos longs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.io import read_table

NANOS_PER_SEC = 1_000_000_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _ts(date_str: str):
    """TIMESTAMP_NTZ literal for lineitem/orders date columns (millis
    parquet → TIMESTAMP_NTZ in Spark; events.ts is nanos → long)."""
    return F.lit(date_str).cast("timestamp_ntz")


def _dec(col, p: int = 12, s: int = 2):
    return F.col(col).cast(f"decimal({p},{s})") if isinstance(col, str) else col.cast(f"decimal({p},{s})")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates.

    Filter compares the raw nanos long → parquet row-group pruning applies.
    Decimal aggregation is exact (sum order irrelevant) so the oracle hash
    matches bit-for-bit.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(12,2)") + _dec("l_tax"))
    out = (
        li.filter(F.col("l_shipdate") < _ts("1998-09-03"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(charge).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )
    # decimal aggregation is exact, so the final cast to double is
    # deterministic — and doubles hash identically across engines, while
    # decimal scale rendering does not
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
        F.col("sum_charge").cast("double").alias("sum_charge"),
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price").cast("double") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10.

    customer is broadcast (small dim); orders⋈lineitem shuffles on the
    orderkey — the partitioning a 100 TB layout would bucket on.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1995-03-15"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
    return out.select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        F.col("revenue").cast("double").alias("revenue"),
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join, revenue per nation.

    region/nation/supplier/customer broadcast; the fact-side join
    (orders⋈lineitem) carries the shuffle. The c_nationkey = s_nationkey
    constraint is the classic join-graph cycle Catalyst handles without
    help.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1994-01-01")) & (F.col("o_orderdate") < _ts("1995-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )
    return out


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + multi-predicate filter + single agg.
    Every predicate is pushdown-eligible (raw column vs literal)."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= _ts("1994-01-01"))
        & (F.col("l_shipdate") < _ts("1995-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"))
    return out


def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by total price — the canonical ranking
    window; WindowGroupLimit prunes map-side before the shuffle."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap splits sessions per user —
    lag + cumulative sum over a per-user ordered window (single shuffle on
    user_id). Output: per-session aggregates."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * NANOS_PER_SEC
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(F.col("prev_ts").isNull() | ((F.col("ts") - F.col("prev_ts")) > gap_ns), 1).otherwise(0),
        )
        .withColumn("session_idx", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.expr("(max(ts) - min(ts)) div 1000000000").alias("duration_sec"),
    )


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-analog rollup: per-hour per-type counts and value sums
    (what the windowed-agg stage of a streaming pipeline computes)."""
    ev = _t(spark, sf_dir, "events")
    hour = F.expr("ts div 1000000000 div 3600 * 3600")  # integer div: nanos exceed double precision
    return (
        ev.withColumn("hour_epoch", hour)
        .groupBy("hour_epoch", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled rollup with LOCF (the time_bucket_gapfill
    + locf pattern — task brief §custom operators, hypertable rollup).

    1. hourly rollup per event_type (one keyed shuffle, map-combined);
    2. dense hour grid per type: global [min, max] hour range (broadcast
       scalar) × distinct types, ``sequence``-exploded — grid size is
       bounded by wall-clock hours × |types|, METADATA-sized at any data
       scale because it sits post-aggregation;
    3. left join rollup onto the grid; missing hours get n=0 and
       last-observation-carried-forward sum (per-type ordered window over
       the tiny grid).
    """
    ev = _t(spark, sf_dir, "events")
    hour = F.expr("ts div 1000000000 div 3600 * 3600")
    roll = (
        ev.withColumn("hour_epoch", hour)
        .groupBy("hour_epoch", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )
    rng = roll.agg(F.min("hour_epoch").alias("lo"), F.max("hour_epoch").alias("hi"))
    grid = (
        roll.select("event_type").distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_epoch"),
        )
    )
    joined = grid.join(roll, ["event_type", "hour_epoch"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour_epoch",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
        F.col("n").isNull().cast("int").alias("is_gap"),
    )


def pg_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec layer end-to-end: render PG wire text from typed columns, then
    decode through the production codec (SURVEY §2.8 F1-F13 subset).
    Output = decoded typed values, hash-compared against the oracle doing
    the identical render→parse round trip."""
    from etl_spark import codec

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    rendered = li.select(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit("t")).otherwise(F.lit("f")).alias("bool_txt"),
        F.col("l_partkey").cast("string").alias("int_txt"),
        F.col("l_quantity").cast("string").alias("float_txt"),
        F.col("l_extendedprice").cast("decimal(18,6)").cast("string").alias("num_txt"),
        F.concat(F.lit("\\x"), F.format_string("%016x", "l_partkey")).alias("bytea_txt"),
        F.format_string("%02d:30:%02d.5", F.col("l_linenumber") % 24, F.col("l_suppkey") % 60).alias("time_txt"),
    )
    decoded = rendered.select(
        "l_orderkey",
        codec.pg_bool("bool_txt").alias("v_bool"),
        codec.pg_int8("int_txt").alias("v_int"),
        codec.pg_float8("float_txt").alias("v_float"),
        codec.pg_numeric("num_txt").getField("value").cast("double").alias("v_num"),
        F.lower(F.hex(codec.pg_bytea("bytea_txt"))).alias("v_bytea_hex"),
        codec.pg_time("time_txt").alias("v_time_micros"),
    )
    return decoded


def pg_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""COPY text row round trip (F10/F12, codec/table_row.rs:47): render
    each customer row as one COPY line — payload deliberately containing a
    real TAB and a backslash (forcing ``\t``/``\\`` escapes), a modular
    NULL cell (``\N``) — then decode through ``copy_text_split`` + typed
    casts. Output must equal the source values the oracle selects
    directly: decode ∘ encode == identity.
    """
    from etl_spark import codec

    cust = _t(spark, sf_dir, "customer")
    payload = F.concat(
        F.col("c_name"), F.lit("\t"), F.lit("q\\z"), F.col("c_mktsegment")
    )
    nullable = F.when(F.col("c_custkey") % 7 != 0, F.col("c_mktsegment"))
    line = codec.copy_text_encode(
        [
            F.col("c_custkey"),
            payload,
            nullable,
            F.col("c_acctbal"),
        ]
    )
    rendered = cust.select(line.alias("__line"))
    cells = codec.copy_text_split(F.col("__line"), 4)
    return rendered.select(
        codec.pg_int8(F.element_at(cells, 1)).alias("custkey"),
        F.element_at(cells, 2).alias("payload"),
        F.element_at(cells, 3).alias("segment"),
        codec.pg_float8(F.element_at(cells, 4)).alias("acctbal"),
    )


def pg_array_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG 1-D array-literal parse (codec F9) over generated literals,
    output in canonical element-joined form."""
    from etl_spark import codec

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    lit = F.concat(
        F.lit("{"), F.col("l_orderkey").cast("string"), F.lit(","),
        F.col("l_partkey").cast("string"), F.lit(",NULL}"),
    )
    arr = codec.pg_array_simple(lit, "int8")
    canon = F.concat_ws(",", F.transform(arr, lambda x: F.coalesce(x.cast("string"), F.lit("NULL"))))
    return li.select("l_orderkey", canon.alias("arr_canonical"), F.size(arr).alias("arr_len"))


# ---------------------------------------------------------------------------
# Joins beyond the reference surface: semi/anti/as-of + multi-dim rollup
# (SURVEY §2.3 "absent" list — available-for-free in Spark, demonstrated here)
# ---------------------------------------------------------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join, then count per priority.

    The semi join shuffles only the orderkey projection of lineitem —
    Catalyst prunes the probe side to the join key, so at 100 TB the
    exchange carries one long column.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days")
    ).select("l_orderkey")
    out = (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )
    return out


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20.

    lineitem('R') ⋈ orders shuffles on orderkey; customer/nation broadcast.
    Deterministic top-k via (revenue desc, custkey asc)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )
    return out.select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "n_name", F.col("revenue").cast("double").alias("revenue"),
    )


def q14_type_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate over a fact⋈dim join —
    revenue share of ECONOMY-type parts in one shipping month. part is
    broadcast; the only shuffle is the final single-group agg."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "ECONOMY", disc_price).otherwise(F.lit(0).cast("decimal(12,2)"))).alias("econ"),
            F.sum(disc_price).alias("total"),
        )
    )
    return out.select(
        (F.lit(100.0) * F.col("econ").cast("double") / F.col("total").cast("double")).alias("economy_share_pct")
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a fact-side agg, joined back to the dims.

    The qty-per-order agg happens BEFORE any join (group-then-join): the
    orders/customer side only ever sees the ~1% of orderkeys that survive
    the threshold — the aggregate acts as the filter."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    out = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )
    return out


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery + anti join.

    Above-average-balance customers with no order since mid-2000. The
    average is a one-row broadcast (scalar subquery); the anti join probes
    with only recent orderkeys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= _ts("2000-06-01"))
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    out = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal"))
    )
    return out


def events_rollup_multidim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregate: ROLLUP (event_type, day) with grouping
    id — partial aggregation handles all grouping sets in one shuffle."""
    ev = _t(spark, sf_dir, "events")
    # double (not long): the rollup rows carry NULL day_epoch, and the
    # oracle path loses nullable-int typing through pandas — keep both
    # sides double so the value hashes align
    day = F.expr("ts div 1000000000 div 86400 * 86400").cast("double")
    out = (
        ev.withColumn("day_epoch", day)
        .rollup("event_type", "day_epoch")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
    )
    return out


def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase attributed to the same user's
    most recent click at-or-before it (union-trick as-of — ONE shuffle on
    user_id for both sides; see :func:`etl_spark.operators.asof.asof_join`).
    """
    from etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", _dec("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["click_event_id"], direction="backward",
    )
    # join the click ts back for the gap metric (broadcast: clicks ≪ fact)
    click_ts = clicks.select("click_event_id", F.col("ts").alias("click_ts"))
    return (
        out.join(F.broadcast(click_ts), "click_event_id", "left")
        .select(
            "event_id", "user_id",
            F.col("purchase_value").cast("double").alias("purchase_value"),
            # double: purchases with no prior click leave these NULL, and
            # nullable ints degrade to float through the oracle's pandas hop
            F.col("click_event_id").cast("double").alias("click_event_id"),
            F.floor((F.col("ts") - F.col("click_ts")) / F.lit(NANOS_PER_SEC)).cast("double").alias("gap_sec"),
        )
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON cell access (codec F8 + json_get): extract props.k, aggregate
    by decile — JSON path evaluation stays JVM-side (get_json_object), no
    parse-to-struct materialization for a single-field probe."""
    from etl_spark.codec import json_get

    ev = _t(spark, sf_dir, "events")
    k = json_get("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy(F.floor(F.col("k") / 10).cast("int").alias("k_decile"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation trade volume per year — fact⋈fact join
    carries the shuffle, both nation dims broadcast, disjunctive
    nation-pair predicate evaluated post-join."""
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    vol = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(vol).cast("double").alias("volume"))
    )
    return out


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional share-of-total per year (NATION_3's
    share of PROMO-part revenue)."""
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    vol = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(F.lit(0).cast("decimal(12,2)"))).alias("nat"),
            F.sum(vol).alias("total"),
        )
        .select(
            "o_year",
            (F.col("nat").cast("double") / F.col("total").cast("double")).alias("mkt_share"),
        )
    )
    return out


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of customers by order count, including
    zero-order customers — left outer join, two stacked aggregations."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + max-revenue supplier(s) — the
    scalar-max re-join expressed as a rank window over the aggregate."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))).alias("total_rev"))
    )
    w = Window.orderBy(F.col("total_rev").desc())
    top = rev.withColumn("rnk", F.rank().over(w)).filter(F.col("rnk") == 1)
    return (
        top.join(F.broadcast(supp), top.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated avg subquery → per-part aggregate
    join-back; lineitems under 20% of their part's average quantity."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )
    return out


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates across a fact⋈dim join — one OR of three AND-groups, all
    evaluated in the join stage."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
            .cast("double").alias("revenue")
        )
    )
    return out


def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running windows: cumulative sum + 7-row moving average of event
    values per user, ordered by time — the frame-based window family
    (rowsBetween), one shuffle on user_id."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-6, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(_dec("value")).over(cum).cast("double").alias("cum_value"),
        # exact decimal sum / count, divided in double: Spark's decimal AVG
        # truncates at scale 6, DuckDB's promotes to double — sidestep both
        (F.sum(_dec("value")).over(mov).cast("double") / F.count("*").over(mov)).alias("mov_avg_7"),
        F.row_number().over(w).alias("seq_in_user"),
    )


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: BUILDING-segment customers vs customers ordering in
    1996 — intersect / except / union counts in one result."""
    cust = _t(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ordered96 = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1997-01-01")))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    tagged = [
        building.intersect(ordered96).agg(F.count("*").alias("n")).withColumn("set_op", F.lit("intersect")),
        building.exceptAll(building.intersect(ordered96)).agg(F.count("*").alias("n")).withColumn("set_op", F.lit("except")),
        building.union(ordered96).distinct().agg(F.count("*").alias("n")).withColumn("set_op", F.lit("union")),
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out.select("set_op", "n")


def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: double-correlated EXISTS / NOT EXISTS — suppliers
    whose line was late on a multi-supplier order where no OTHER supplier
    was late. Exists → left-semi, not-exists → left-anti, both on the
    orderkey projection."""
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days")
    ).select("l_orderkey", "l_suppkey")
    l1 = late
    # another supplier on the same order (any line)
    other_any = (
        li.select(F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s"))
    )
    # another supplier LATE on the same order
    other_late = late.select(F.col("l_orderkey").alias("t_k"), F.col("l_suppkey").alias("t_s"))
    exists_other = l1.join(
        other_any,
        (l1.l_orderkey == F.col("o_k")) & (l1.l_suppkey != F.col("o_s")),
        "left_semi",
    )
    not_exists_other_late = exists_other.join(
        other_late,
        (exists_other.l_orderkey == F.col("t_k")) & (exists_other.l_suppkey != F.col("t_s")),
        "left_anti",
    )
    out = (
        not_exists_other_late.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )
    return out


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: day × event-type count matrix — groupBy().pivot() with an
    explicit value list so the plan is a single pass (no distinct-values
    pre-query) and the output schema is stable."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400 * 86400")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.withColumn("day_epoch", day)
        .groupBy("day_epoch")
        .pivot("event_type", types)
        .count()
    )
    # pivot leaves NULL for absent combos; a count matrix wants 0
    return out.select(
        "day_epoch", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


def events_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join: error events within 4 hours AFTER the same
    user's purchase. Equi key (user_id) carries the join; the time band is
    a join-stage filter — scales as a hash join, not a range explosion."""
    ev = _t(spark, sf_dir, "events")
    band_ns = 4 * 3600 * NANOS_PER_SEC
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    out = (
        p.join(err, "user_id")
        .filter((F.col("e_ts") > F.col("p_ts")) & (F.col("e_ts") - F.col("p_ts") <= band_ns))
        .select(
            "user_id", "purchase_id", "error_id",
            ((F.col("e_ts") - F.col("p_ts")) / F.lit(NANOS_PER_SEC)).cast("long").alias("lag_sec"),
        )
    )
    return out


def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketch per event type (k=64) beside the exact
    count — a deterministic approximate aggregate, so even the sketch
    hash-checks against the oracle (unlike HLL, whose register layout is
    engine-specific)."""
    from etl_spark.operators.sketch import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    sk = kmv_distinct(ev, "user_id", ["event_type"], k=64)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_distinct"))
    return sk.join(exact, "event_type").select(
        "event_type", "est_distinct", "kth_min_hash", "n_sketch", "exact_distinct"
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: nation × year profit over a 5-table join (the
    testdata has no partsupp, so profit = discounted revenue).

    part/supplier/nation broadcast; lineitem⋈orders is the one shuffle.
    The part LIKE filter lands before the join, shrinking the broadcast.
    """
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    profit = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(profit.cast("double").alias("profit"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value HAVING > a global-scalar threshold
    (2× the mean part value within one nation's suppliers).

    The scalar side is a 1-row agg broadcast into the filter — Catalyst
    plans it as a broadcast nested loop over one row, not a shuffle. The
    per-part agg reuses the same shuffled partitioning for both branches.
    """
    supp_n7 = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    value = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
    per_part = (
        li.join(F.broadcast(supp_n7), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(value.alias("value_dec"))
    )
    total = per_part.agg(
        F.sum("value_dec").cast("double").alias("total"), F.count("*").alias("cnt")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > 2.0 * F.col("total") / F.col("cnt"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("value"))
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier count per part attribute group,
    minus a NOT IN supplier exclusion (anti-join on a broadcast set).

    countDistinct plans as a two-phase partial/final aggregate (expand +
    distinct-combine map-side) — one shuffle on the group keys.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (~F.col("p_type").isin("PROMO")) & (F.col("p_size") <= 40)
    )
    excluded = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(excluded), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers whose 1996
    shipped quantity of bolt parts exceeds the average across such
    suppliers, listed with their nation.

    The derived key set stays aggregated (one row per supplier) before the
    semi-join, so the probe side is minimal; supplier and nation broadcast.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    bolts = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select("p_partkey")
    qty = (
        li.join(F.broadcast(bolts), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty"))
    )
    thresh = qty.agg(F.sum("qty").alias("t"), F.count("*").alias("c"))
    big = (
        qty.crossJoin(F.broadcast(thresh))
        .filter(F.col("qty") > F.col("t") / F.col("c"))
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(big), supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == F.col("n_nationkey"))
        .select("s_name", "s_acctbal", "n_name")
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup → first click after signup →
    first purchase after that click, counted per stage.

    Each stage is a keyed min-aggregate joined back on user_id — three
    shuffles on the same key (a bucketed-by-user layout would make every
    one of them exchange-free). Timestamps stay raw nanos longs end-to-end.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    su = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(F.min("ts").alias("s_ts"))
    cl = (
        ev.filter(F.col("event_type") == "click")
        .join(su, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cl, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    stages = [
        su.agg(F.count("*").alias("users")).withColumn("stage", F.lit("1_signup")),
        cl.agg(F.count("*").alias("users")).withColumn("stage", F.lit("2_click_after_signup")),
        pu.agg(F.count("*").alias("users")).withColumn("stage", F.lit("3_purchase_after_click")),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out.select("stage", "users")


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90) of purchase value per
    event type — the canonical data-quality profile aggregate.

    Spark's ``percentile`` is a full-sort exact aggregate: one shuffle on
    the group key, per-group sort inside the aggregate buffer. At 100 TB
    the same query swaps to ``approx_percentile`` (t-digest, mergeable,
    bounded memory) — kept exact here so the DuckDB oracle hash-matches.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.count("*").alias("n"),
    )


def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch beside the exact percentiles (X166): the
    gate-proven 100-TB path for ``events_value_percentiles``'s documented
    "swap to approx_percentile" promise. The engines' t-digests have
    incompatible internals (like their HLLs — sketch.py), so the
    cross-engine-verifiable mergeable sketch is a DETERMINISTIC uniform
    sample: keep rows whose 52-bit md5(event_id) clears an exact integer
    threshold (≈1/16). Per-partition samples union trivially (the
    mergeability property), the keep decision replays byte-stable, and
    rank-based (type-1) quantile selection picks REAL data values — no
    interpolation, so estimates hash-match the oracle exactly.

    Output: per event type, sample-based p50/p90/p99 beside the exact
    full-data ranks, with n / n_sample for the error budget. Scale
    shape: the exact side is the full per-group sort (gate-scale only);
    the sketch side sorts 1/16 of the data — at 100 TB only the sketch
    runs, and the sample fraction tunes memory, not correctness.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    h52 = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    thresh = (1 << 52) // 16
    base = ev.withColumn("in_sample", h52 < F.lit(thresh))

    def rank_quantiles(df, prefix):
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        wn = Window.partitionBy("event_type")
        r = (
            df.withColumn("r", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wn))
        )
        picks = [
            F.max(
                F.when(F.col("r") == F.ceil(F.lit(q) * F.col("n")),
                       F.col("value"))
            ).alias(f"{prefix}{name}")
            for q, name in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
        ]
        return r.groupBy("event_type").agg(
            F.max("n").cast("long").alias(f"n_{prefix.rstrip('_p')}"), *picks
        )

    exact = rank_quantiles(base, "exact_p").withColumnRenamed(
        "n_exact", "n")
    sk = rank_quantiles(base.filter("in_sample"), "sketch_p").withColumnRenamed(
        "n_sketch", "n_sample")
    return exact.join(sk, "event_type").select(
        "event_type", "n", "n_sample",
        "sketch_p50", "sketch_p90", "sketch_p99",
        "exact_p50", "exact_p90", "exact_p99",
    )


def events_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window family in one pass: lag/lead, ntile, rank
    percentiles, cumulative distribution, first/last value — all over ONE
    window spec, so Catalyst evaluates them in a single sort within a
    single shuffle on user_id. Ordering key (ts, event_id) is unique ⇒
    every function is deterministic cross-engine.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("event_id").over(wall).alias("first_event"),
        F.last("event_id").over(wall).alias("last_event"),
    )


def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than ROLLUP/CUBE): (type), (day), and
    grand total in ONE shuffle via the expand operator — the multi-
    granularity aggregation a reporting layer wants without re-scanning.
    """
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type,
               CAST(ts div 1000000000 div 86400 * 86400 AS DOUBLE) AS day_epoch,
               CAST(grouping(event_type) AS INT) AS g_type,
               CAST(grouping(ts div 1000000000 div 86400 * 86400) AS INT) AS g_day,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (ts div 1000000000 div 86400 * 86400), ())
        """
    )


def events_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over genuinely hot keys (5 event types
    × ~10⁵ rows each): groupBy(key, salt) partial → groupBy(key) merge
    (:func:`etl_spark.operators.skew.salted_agg`).

    The first shuffle spreads each hot key across 16 salt buckets, so no
    single reducer owns a whole key — the pattern that keeps a 100 TB agg
    off the one-straggler cliff when AQE skew-split can't help (e.g. a
    single key bigger than an executor). Decimal partials keep the
    two-phase sum exact, so the salted plan hash-matches the plain oracle.
    """
    from etl_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _dec("value").alias("value_dec"), "event_id"
    )
    out = salted_agg(ev, ["event_type"], {"value_dec": "sum", "event_id": "count"}, n_salts=16)
    return out.select(
        "event_type",
        F.col("sum_value_dec").cast("double").alias("total_value"),
        F.col("count_event_id").cast("long").alias("n"),
    )


def orders_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join against a tier dimension: each order lands in
    the [lo, hi) price band. The band table is tiny → broadcast nested
    loop with a range predicate, the right plan at any fact scale (the
    alternative for band-vs-band is bucketized equi-join, see
    events_error_after_purchase). Aggregated per tier per priority.
    """
    tiers = spark.createDataFrame(
        [("T1_small", 0.0, 50_000.0), ("T2_mid", 50_000.0, 150_000.0),
         ("T3_large", 150_000.0, 300_000.0), ("T4_jumbo", 300_000.0, 10_000_000.0)],
        "tier string, lo double, hi double",
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(tiers),
            (orders.o_totalprice >= tiers.lo) & (orders.o_totalprice < tiers.hi),
        )
        .groupBy("tier", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("tier_value"),
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery — the supplier(s) selling
    each part at its minimum observed unit price (no partsupp in the
    testdata; unit price = l_extendedprice / l_quantity from lineitem).

    Shape: per-part min via groupBy, joined back on (part, price) — the
    argmin-by-join pattern (vs the rank-window argmax in
    topk_orders_per_customer; both shapes exist in real workloads). Unit
    price is one IEEE double division — bit-identical across engines for
    identical operands, so min and the equality join-back agree exactly.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    priced = li.select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    mins = (
        priced.groupBy("l_partkey")
        .agg(F.min("unit_price").alias("min_price"))
        .withColumnRenamed("l_partkey", "m_partkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        priced.join(
            mins,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("unit_price") == F.col("min_price")),
        )
        .select(F.col("l_partkey").alias("p_key"), "l_suppkey", "unit_price")
        .distinct()
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(F.col("p_key").alias("l_partkey"), "s_name", "unit_price")
    )


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by signup week,
    counted distinct in each later activity week.

    Shape: per-user min-aggregate (cohort assignment), distinct activity
    weeks, equi-join on user_id, distinct-count per (cohort, offset) cell
    — three shuffles, all on user or the small cell grid. The week math
    stays on raw epoch nanos longs (pushdown-friendly, no date functions
    in the hot path).
    """
    week = 7 * 86400
    ev = _t(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .select(
            "user_id",
            F.expr(f"s_ts div 1000000000 div {week} * {week}").alias("cohort_week"),
        )
    )
    act = ev.select(
        "user_id", F.expr(f"ts div 1000000000 div {week} * {week}").alias("act_week")
    ).distinct()
    return (
        act.join(cohort, "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            ((F.col("act_week") - F.col("cohort_week")) / week).cast("long").alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q12_priority_shipmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + multi-branch conditional aggregation —
    per returnflag, how many lineitems belong to high- vs low-priority
    orders. The CASE branches evaluate inside the partial aggregate, so
    the orders join (shuffled on orderkey) feeds ONE agg shuffle.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def events_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly flags: per-event-type z-scores from EXACT decimal moments.

    stddev is derived from decimal-exact (n, Σv, Σv²) — not the engine's
    float `stddev` aggregate, whose summation order varies — so the same
    doubles come out of both engines and the z-score comparisons agree
    bit-for-bit. One agg shuffle + a broadcast join of the 5-row moment
    table back onto the scan; returns the |z| > 3 outliers.
    """
    ev = _t(spark, sf_dir, "events")
    cents = (F.col("value") * 100).cast("decimal(20,0)")
    mom = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    mom = mom.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / 100.0).alias("sum_v"),
        (F.col("s2").cast("double") / 10000.0).alias("sum_v2"),
    ).select(
        "event_type",
        "n",
        (F.col("sum_v") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("sum_v2") - F.col("sum_v") * F.col("sum_v") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        ev.join(F.broadcast(mom), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "value", F.round("z", 6).alias("z"))
    )


def events_promo_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: events falling inside promo windows — the
    top-20 purchases by value each open a 2-hour window, and every event
    whose ts lands in a window counts toward it.

    Spark has no native range-join optimization, so a naive approach is a
    broadcast-nested-loop on the ts-range predicate — O(|events|·|windows|)
    row comparisons even when broadcast. The scale path implemented here
    is BUCKETED range join: each window explodes to the hour buckets it
    covers (bounded: 2h window → ≤3 buckets), events carry their own hour
    bucket (scan-stage arithmetic), and the join becomes an EQUI-join on
    the bucket with the exact range predicate as a post-filter. Each event
    has exactly one bucket, so a (event, window) pair can match only once
    — no dedup pass. At 100 TB this shuffles on a well-distributed time
    key instead of looping; here the tiny window side rides a broadcast.
    Window selection is a global top-k (TakeOrderedAndProject — per-
    partition top-20 + merge, never a full sort), total-ordered by
    (value DESC, event_id ASC) so ties cannot flip the result.
    """
    HOUR = 3600 * NANOS_PER_SEC
    SPAN = 2 * HOUR
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    win = (
        ev.filter(F.col("event_type") == "purchase")
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(20)
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.lit(SPAN)).alias("w_end"),
        )
    )
    wb = win.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"w_start div {HOUR}"), F.expr(f"(w_end - 1) div {HOUR}")
            )
        ).alias("bucket"),
    )
    evb = ev.withColumn("bucket", F.expr(f"ts div {HOUR}"))
    j = evb.join(F.broadcast(wb), "bucket").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return j.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


def events_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering stats: interleave (user_id, hour) into a
    Morton key (:func:`etl_spark.layout.zorder_key`), tile the key space
    (drop the low 8 interleaved bits: 16×16 tiles in (user, hour) space), and
    report per-tile row counts + min/max of BOTH dimensions.

    This is the measurement side of the lakehouse OPTIMIZE ZORDER story:
    each tile's (u_min..u_max, h_min..h_max) box is provably bounded by
    the tile size in both dims, which is what makes file-statistics
    pruning work for filters on either column after a z-ordered write.
    One map-combined shuffle on the tile id; the key itself is scan-stage
    bit algebra.
    """
    from etl_spark import layout

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    u16 = F.col("user_id").bitwiseAND(F.lit(65535))
    h16 = F.expr(f"ts div {3600 * NANOS_PER_SEC}").bitwiseAND(F.lit(65535))
    z = layout.zorder_key(u16, h16)
    out = (
        ev.select(
            F.shiftright(z, 8).alias("z_tile"),
            u16.alias("u16"),
            h16.alias("h16"),
        )
        .groupBy("z_tile")
        .agg(
            F.count("*").alias("n_events"),
            F.min("u16").alias("u_min"),
            F.max("u16").alias("u_max"),
            F.min("h16").alias("h_min"),
            F.max("h16").alias("h_max"),
        )
    )
    return out


def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling aggregates: per user, the count and value sum of
    that user's events in the trailing 1-hour window ENDING at each event
    — the hypertable/continuous-aggregate rolling feature, distinct from
    the row-frame suite (``events_window_suite``): the frame is bounded by
    EVENT TIME, not row offsets, so bursts widen the frame and quiet
    periods shrink it.

    Plan: ``rangeBetween(-1h, current)`` over the epoch-nanos long — one
    shuffle on user_id, one sort, a sliding frame the window operator
    maintains incrementally (add/evict per row, never O(frame²)). Decimal
    partial sums keep the rolling sum order-independent; ties on ts are
    disambiguated upstream (event_id is unique per ts in the sim; the
    RANGE frame itself is ts-inclusive both ends).
    """
    HOUR_NS = 3600 * NANOS_PER_SEC
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"))
        .rangeBetween(-HOUR_NS, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("sum_1h"),
    )


def events_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint validation suite over the events feed: each
    check emits ``(check_name, n_violations, passed)`` — the acceptance
    gate a pipeline runs per input drop before publishing.

    Checks: primary-key uniqueness, event-time non-null, non-negative
    value, event-type domain membership, and user→customer referential
    integrity (anti-join). All but the anti-join fold into ONE pass over
    events (map-combined aggregates); the referential check is a
    broadcast/AQE anti-join against the customer key set.
    """
    ev = _t(spark, sf_dir, "events")
    domain = ["click", "error", "purchase", "signup", "view"]
    agg = ev.agg(
        (F.count("*") - F.count_distinct("event_id")).alias("pk_dups"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("ts_nulls"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg_values"),
        F.sum(
            F.when(~F.col("event_type").isin(*domain), 1).otherwise(0)
        ).alias("bad_types"),
    )
    orphans = (
        ev.select((F.col("user_id") + 1).alias("c_custkey"))
        .join(_t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey", "left_anti")
        .agg(F.count("*").alias("orphan_users"))
    )
    row = agg.crossJoin(F.broadcast(orphans))
    checks = [
        ("pk_unique", "pk_dups"),
        ("ts_not_null", "ts_nulls"),
        ("value_non_negative", "neg_values"),
        ("event_type_in_domain", "bad_types"),
        ("user_ref_integrity", "orphan_users"),
    ]
    melted = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col(col).cast("long").alias("n_violations"),
                        (F.col(col) == 0).alias("passed"),
                    )
                    for name, col in checks
                ]
            )
        ).alias("c")
    )
    return melted.select("c.*")


def sketch_merge_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE: per-event-type distinct-user sketches (the
    persisted per-partition form) merged into ONE global distinct-user
    estimate without rescanning raw data — the mergeability property
    that makes sketches warehouse-grade
    (:func:`etl_spark.operators.sketch.kmv_merge`). Output also carries
    the exact global distinct for the error story."""
    from etl_spark.operators import sketch as sk

    ev = _t(spark, sf_dir, "events")
    per_group = sk.kmv_sketch_rows(ev, "user_id", ["event_type"], k=64)
    merged = sk.kmv_merge(per_group, k=64)
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return merged.crossJoin(F.broadcast(exact))


def bloom_prune_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, made inspectable: build a k=3,
    m=4096 filter over the customer key set, probe a mixed stream of
    present keys and deterministically absent ones, and report the
    pass/false-positive accounting — the data-level form of the runtime
    bloom pruning Spark injects into large joins (and what a 100 TB
    pipeline ships to prune a fact scan BEFORE the shuffle; the filter
    is ~m bits however big the build side is).

    The filter is represented as its distinct bit-position set (a real
    impl packs the same positions into a bitset); positions come from
    md5-seeded hashes so both engines compute them identically. A probe
    passes iff all k of its positions are set — present keys always pass
    (no false negatives, the Bloom guarantee); absent passes are the
    false positives. Shape: build = tiny distinct agg (≤ m rows,
    broadcast); probe = scan-stage position explode + broadcast join +
    per-probe count. One map-combined final agg.
    """
    m_bits, k = 4096, 3
    cust = _t(spark, sf_dir, "customer").select("c_custkey")

    def positions(key_col):
        return [
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.lit(str(s)), key_col.cast("string"))), 1, 13),
                16, 10,
            ).cast("long") % m_bits
            for s in range(k)
        ]

    built = (
        cust.select(F.explode(F.array(*positions(F.col("c_custkey")))).alias("bit"))
        .distinct()
        .withColumn("set_", F.lit(True))
    )
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    probes = ev.select(
        "event_id",
        F.when(F.col("event_id") % 2 == 0, F.col("user_id") + 1)
        .otherwise(F.col("user_id") + 1_000_000)
        .alias("probe_key"),
        (F.col("event_id") % 2 == 0).alias("is_present"),
    )
    probe_bits = probes.select(
        "event_id", "is_present",
        F.explode(F.array(*positions(F.col("probe_key")))).alias("bit"),
    )
    per_probe = (
        probe_bits.join(F.broadcast(built), "bit", "left")
        .groupBy("event_id", "is_present")
        .agg((F.count(F.when(F.col("set_"), 1)) == k).alias("passed"))
    )
    return per_probe.agg(
        F.count("*").alias("n_probes"),
        F.sum(F.when(F.col("passed"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(~F.col("is_present"), 1).otherwise(0)).alias("n_absent"),
        F.sum(F.when(F.col("passed") & ~F.col("is_present"), 1).otherwise(0)).alias("n_false_pos"),
        F.sum(F.when(F.col("is_present") & ~F.col("passed"), 1).otherwise(0)).alias("n_false_neg"),
    ).select(
        "n_probes", "n_pass", "n_absent", "n_false_pos", "n_false_neg",
        F.round(F.col("n_false_pos") / F.greatest(F.col("n_absent"), F.lit(1)), 6).alias("fp_rate"),
    )


def events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization: clamp each event type's values to its
    own [p05, p95] band and report the robust aggregates — the standard
    outlier-taming step before a metric goes on a dashboard (one heavy
    whale stops dominating the mean).

    Shape: exact per-group percentiles (one shuffle, sort-agg inside the
    aggregate buffer — the same exact-percentile engine the oracle uses,
    so interpolation matches bit-for-bit), bounds joined back unhinted
    (|event types| rows, AQE broadcasts), clamp + re-aggregate
    map-combined. At 100 TB the bounds swap to ``approx_percentile``
    (t-digest); the clamp/re-agg stages are unchanged.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    clamped = ev.join(bounds, "event_type").select(
        "event_type",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("w"),
        F.col("value"),
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.first("p05"), 6).alias("p05"),
        F.round(F.first("p95"), 6).alias("p95"),
        F.sum(F.when((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")), 1).otherwise(0)).alias("n_clamped"),
        F.round(F.sum(F.col("w").cast("decimal(20,6)")).cast("double"), 4).alias("wsum"),
        F.round(F.avg("value"), 6).alias("raw_mean"),
        # wmean from the UNROUNDED decimal sum (sum/n, then round 6) so the
        # definition matches the oracle expression exactly; dividing the
        # 4-decimal-rounded wsum instead can flip the 6th decimal near a
        # rounding boundary (up to 5e-5/n divergence).
        F.round(
            F.sum(F.col("w").cast("decimal(20,6)")).cast("double") / F.count("*"), 6
        ).alias("wmean"),
    )


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median + MAD (median
    absolute deviation) and the count of values outside the standard
    3·1.4826·MAD band — the outlier gate that survives heavy tails where
    mean/std (events_value_zscores) get dragged by the whales.

    Shape: two exact-percentile aggregations (median, then MAD of the
    deviations) with the |event types|-row stat tables joined back
    unhinted (AQE broadcasts); the outlier count is a third keyed agg.
    Exact percentiles interpolate identically to the oracle's
    quantile_cont; at 100 TB the medians swap to approx_percentile with
    the band logic unchanged.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"), F.percentile("adev", 0.5).alias("mad")
    )
    flagged = ev.join(mad, "event_type")
    out_of_band = F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(out_of_band.cast("int")).alias("n_outliers"),
        )
        .withColumn(
            "outlier_rate", F.round(F.col("n_outliers") / F.col("n"), 6)
        )
    )


#: range-bucket fan-out for the two-pass KS CDF — parallelism per event
#: type; raise with data volume so one bucket's distinct values ≈ one task
KS_RANGE_BUCKETS = 64


def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per event type: split each
    type's values into two deterministic halves (event_id parity — stand-in
    for any A/B tag: old batch vs new batch, pipeline vs shadow pipeline)
    and report the exact KS statistic ``max |F_A(v) - F_B(v)|`` with the
    95% critical value — the distribution-drift gate a training pipeline
    runs before accepting a new data drop.

    Exact, not sampled — and scale-safe: the naive form (ONE cumulative
    window per event type over every distinct value) makes each type a
    single sort task; with double-typed values distinct-count approaches
    row count at scale. Instead this is a TWO-PASS range-partitioned CDF:

    1. per-(type, value) counts [shuffle 1, map-combined];
    2. each value is range-bucketed inside its type (min/max from a tiny
       broadcast stat join — any monotone, tie-preserving assignment
       works, the bucket is only a partition boundary);
    3. per-(type, bucket) subtotals → bucket PREFIX offsets via a window
       over ≤``KS_RANGE_BUCKETS`` rows per type [tiny];
    4. the cumulative sum runs per (type, bucket) — parallelism is
       types × buckets, each task sorting only its bucket's values — and
       adds the broadcast bucket offset to land on the exact global CDF.

    The parity split is integer arithmetic, so both engines partition
    identically (a timestamp-median split would compare a bigint against
    an interpolated double — a cross-engine boundary hazard this op
    deliberately avoids). At 100 TB, raise ``KS_RANGE_BUCKETS`` so a
    bucket's distinct values fit one task.
    """
    from pyspark.sql import Window

    B = KS_RANGE_BUCKETS
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.col("event_id") % 2 == 0).cast("long").alias("in_a"),
    )
    per_val = ev.groupBy("event_type", "value").agg(
        F.sum("in_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("in_a")).alias("n_b"),
    )
    rng = per_val.groupBy("event_type").agg(
        F.min("value").alias("__lo"), F.max("value").alias("__hi")
    )
    span = F.col("__hi") - F.col("__lo")
    bkt = (
        F.when(F.col("value").isNull(), F.lit(-1))  # nulls sort first
        .when(span == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(B - 1),
                F.floor((F.col("value") - F.col("__lo")) / (span / B)).cast("int"),
            )
        )
    )
    bucketed = (
        per_val.join(F.broadcast(rng), "event_type")
        .withColumn("__bkt", bkt)
        .drop("__lo", "__hi")
    )
    per_bucket = bucketed.groupBy("event_type", "__bkt").agg(
        F.sum("n_a").alias("__ba"), F.sum("n_b").alias("__bb")
    )
    wb = Window.partitionBy("event_type").orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "event_type",
        "__bkt",
        F.coalesce(F.sum("__ba").over(wb), F.lit(0)).alias("__off_a"),
        F.coalesce(F.sum("__bb").over(wb), F.lit(0)).alias("__off_b"),
    )
    tots = per_bucket.groupBy("event_type").agg(
        F.sum("__ba").alias("na"), F.sum("__bb").alias("nb")
    )
    wv = Window.partitionBy("event_type", "__bkt").orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        bucketed.join(F.broadcast(offsets), ["event_type", "__bkt"])
        .join(F.broadcast(tots), "event_type")
        .select(
            "event_type",
            "na",
            "nb",
            (
                (F.sum("n_a").over(wv) + F.col("__off_a"))
                / F.greatest("na", F.lit(1))
            ).alias("f_a"),
            (
                (F.sum("n_b").over(wv) + F.col("__off_b"))
                / F.greatest("nb", F.lit(1))
            ).alias("f_b"),
        )
    )
    out = cum.groupBy("event_type").agg(
        F.first("na").alias("n_a"),
        F.first("nb").alias("n_b"),
        F.max(F.abs(F.col("f_a") - F.col("f_b"))).alias("__ks"),
    )
    crit = 1.36 * F.sqrt((F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b")))
    return out.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("__ks", 6).alias("ks"),
        F.round(crit, 6).alias("crit_95"),
        (F.col("__ks") > crit).alias("drifted"),
    )


def lineitem_rollup_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (X91): the Q1 metric set at every prefix level
    of (returnflag, linestatus) — detail rows, per-flag subtotals, and the
    grand total in ONE pass. Spark compiles ``rollup`` to a single Expand +
    hash aggregate (each input row contributes to 3 grouping sets
    map-side), so the cube costs one scan and one shuffle — the classic
    warehouse subtotal report without self-union re-scans. ``gid``
    disambiguates a real NULL group from a rolled-up level.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            # exact decimal SUM, surfaced as double (oracle-portable —
            # the module docstring's numeric policy)
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
            F.max(_dec("l_extendedprice")).cast("double").alias("max_price"),
        )
    )


def events_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend (X92): ``regr_slope`` / ``regr_
    intercept`` / ``regr_r2`` of event value against event_id per event
    type — the drift-direction estimator behind data-freshness monitors.
    Built-in regression aggregates are single-pass map-combined moment
    sums (n, Σx, Σy, Σxy, Σx², Σy²) — one scan, one tiny shuffle, no
    window, no second pass; identical closed form in every engine.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix (X93): per user, order events
    by event_id and count event_type → next-event_type transitions, then
    the global transition probability per source state — the
    behavioral-model fit behind funnel/attribution analyses. One window
    (partitioned by user — millions of small partitions, embarrassingly
    parallel) + one map-combined pair count; probabilities from a
    broadcast per-source total join.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("event_type").agg(F.sum("n").alias("__tot"))
    return (
        pairs.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("__tot"), 6).alias("p"),
        )
    )


def orders_decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding (X94): exact ``ntile(10)`` semantics over order
    value (orderkey tiebreak for engine-identical tie placement) with
    per-decile count / bounds / exact decimal sum.

    Scale-safe two-pass rank, NOT a global no-partition window (that is
    ONE sort task over the whole table — the same 100 TB killer the KS
    CDF avoids): rows are range-bucketed on value (broadcast min/max),
    per-bucket counts give broadcast PREFIX offsets via a ≤64-row window,
    and the exact global rank is the per-(bucket) row_number plus the
    bucket offset — parallelism is ``KS_RANGE_BUCKETS`` sort tasks. The
    ntile tile for rank r over n rows is then closed-form (the first
    n mod 10 tiles are one row bigger), identical to the window function.
    """
    B = KS_RANGE_BUCKETS
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rng = o.agg(F.min("o_totalprice").alias("__lo"), F.max("o_totalprice").alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    bkt = F.when(span == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(B - 1),
            F.floor((F.col("o_totalprice") - F.col("__lo")) / (span / B)).cast("int"),
        )
    )
    bucketed = (
        o.join(F.broadcast(rng), how="cross")
        .withColumn("__bkt", bkt)
        .drop("__lo", "__hi")
    )
    per_bucket = bucketed.groupBy("__bkt").agg(F.count("*").alias("__c"))
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "__bkt",
        F.coalesce(F.sum("__c").over(wb), F.lit(0)).alias("__off"),
    )
    total = per_bucket.agg(F.sum("__c").alias("__n"))
    wv = Window.partitionBy("__bkt").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = (
        bucketed.join(F.broadcast(offsets), "__bkt")
        .join(F.broadcast(total), how="cross")
        .withColumn("__rank", F.row_number().over(wv) + F.col("__off"))
    )
    # ntile(10): the first n%10 tiles hold ceil(n/10) rows
    small = F.floor(F.col("__n") / 10)
    big_tiles = F.col("__n") % 10
    cutoff = big_tiles * (small + 1)
    decile = F.when(
        F.col("__rank") <= cutoff,
        F.floor((F.col("__rank") - 1) / (small + 1)) + 1,
    ).otherwise(
        big_tiles
        + F.floor((F.col("__rank") - cutoff - 1) / F.greatest(small, F.lit(1)))
        + 1
    ).cast("int")
    return (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.sum(_dec("o_totalprice", 18, 2)).cast("double").alias("sum_price"),
        )
    )


def customer_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-≤1 self-join (X95) WITHOUT the O(n²) cross join: the
    FastSS deletion-neighborhood blocking (Bocek et al. '07). Two strings
    within edit distance 1 share a variant in their deletion neighborhoods
    (the string itself + every single-character deletion), so candidates
    come from an equi-join on |s|+1 generated variants per row; the exact
    ``levenshtein`` check then runs ONLY on candidates. Per-key join work
    is (block size)², where blocks are near-identical name stems — the
    same bucket-join shape as MinHash-LSH, here for typo-level entity
    resolution (duplicate customer records differing by one keystroke).
    """
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("name")
    )
    # pos-aware neighborhood (the FastSS refinement): record WHICH
    # position was deleted (0 = the string itself). A true distance-1
    # pair always shares a variant with compatible positions — equal pos
    # (substitution) or one side undeleted (indel) — so incompatible-pos
    # collisions (distance-2 lookalikes) are pruned join-locally BEFORE
    # the levenshtein verify (~7× fewer verify calls on this data).
    variants = c.select(
        "k",
        "name",
        F.explode(
            F.expr(
                "array_union(array(struct(0 AS pos, name AS v)), "
                "transform(sequence(1, length(name)), "
                "i -> struct(i AS pos, concat(substring(name, 1, i - 1), "
                "substring(name, i + 1)) AS v)))"
            )
        ).alias("pv"),
    ).select("k", "name", F.col("pv.pos").alias("pos"), F.col("pv.v").alias("v"))
    # r13 optimization (guide §3.1/§2.3): join on xxhash64(v), not the
    # variant string — 8 fixed bytes instead of a name-length string per
    # exploded row — and force a SHUFFLED HASH join: the variant table is
    # |name|+1 × the input, so the auto-chosen broadcast built a
    # multi-million-row hash relation on the driver (measured 3.3 s at
    # sf0.1 vs 0.95 s shuffled; at 100 TB the broadcast is impossible
    # outright). A hash collision can only ADD candidates, and every
    # candidate passes the exact levenshtein verify below, so the result
    # set is unchanged; true pairs always share a real variant (equal
    # hashes), so none is lost.
    a = variants.select(
        F.col("k").alias("k_a"), F.col("name").alias("name_a"),
        F.col("pos").alias("pos_a"), F.xxhash64("v").alias("hv"),
    )
    b = variants.select(
        F.col("k").alias("k_b"), F.col("name").alias("name_b"),
        F.col("pos").alias("pos_b"), F.xxhash64("v").alias("hv"),
    )
    compatible = (
        (F.col("pos_a") == F.col("pos_b"))
        | (F.col("pos_a") == 0)
        | (F.col("pos_b") == 0)
    )
    return (
        a.join(b.hint("shuffle_hash"), "hv")
        .filter((F.col("k_a") < F.col("k_b")) & compatible)
        # verify BEFORE the dedup shuffle: levenshtein is join-local JVM
        # work, so the distinct exchange only carries true matches
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
        .select("k_a", "k_b", "dist")
        .distinct()  # a pair can share several deletion variants
    )


def nation_top_customers_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (X97): per nation, the comma-joined
    top-5 customer names by account balance — LISTAGG/STRING_AGG WITHIN
    GROUP, the classic warehouse report cell. Spark has no ordered
    string_agg, so the deterministic form is rank-prune (WindowGroupLimit
    pushes rank<=5 map-side) → collect_list of (rank, name) structs →
    array_sort — struct field order gives rank order — → join. The prune
    bounds the collected list at 5 per group, so the agg state is O(k),
    never O(group).
    """
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_name", "c_acctbal")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_name").asc()
    )
    ranked = c.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_top"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rnk", "c_name"))),
                    lambda s: s["c_name"],
                ),
                ",",
            ).alias("top_names"),
        )
    )


def lineitem_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (X98): the Q1-style metric block turned into long
    form ``(flag, status, metric, value)`` — the shape BI tools and
    metric stores consume. ``stack`` is a scan-stage Expand (rows × 3,
    no shuffle beyond the one agg); the wide agg happens FIRST so the
    expansion runs over the tiny aggregate, never the fact table.
    """
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.avg(F.col("l_discount")).alias("avg_disc"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.expr(
            "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, "
            "'avg_disc', avg_disc) AS (metric, value)"
        ),
    ).withColumn("value", F.round("value", 6))


def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (X99): per user, each event's value weighted
    by how long it remained current (gap to the next event) — the
    sensor/metric TWA every monitoring store computes, where plain AVG
    over-counts bursts. One lead window per user (event_id total order
    breaks ts ties), decimal-exact weighted sums, single-event users
    (no held interval) drop out.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("event_id")
    gaps = (
        ev.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .withColumn(
            "gap_sec",
            ((F.col("next_ts") - F.col("ts")) / F.lit(NANOS_PER_SEC)).cast("long"),
        )
    )
    out = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum("gap_sec").alias("held_sec"),
        F.sum(
            F.col("value").cast("decimal(18,6)") * F.col("gap_sec")
        ).alias("__wsum"),
    )
    return out.filter(F.col("held_sec") > 0).select(
        "user_id",
        "n_intervals",
        "held_sec",
        F.round(F.col("__wsum").cast("double") / F.col("held_sec"), 6).alias("twa"),
    )


def sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog distinct-user estimates per event type PLUS
    a register-merged global row (X101). The engines' built-in HLLs have
    incompatible register layouts (see sketch.py), so this one builds the
    registers from the shared md5 hash: the per-type register tables are
    bit-identical on both engines, the harmonic sum is an exact integer
    (no float accumulation), and the MERGED row is computed by max-ing
    registers across types — the mergeability property a warehouse relies
    on for partition-wise sketches, proven here because the merged
    estimate hash-matches the oracle's directly-computed registers.

    Scale shape: registers are a map-combined groupBy (≤ m rows per
    group); merge is a second tiny agg over |types|·m rows.
    """
    from etl_spark.operators.sketch import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"], p=6)
    merged = regs.groupBy("reg").agg(F.max("rho").alias("rho")).withColumn(
        "event_type", F.lit("__merged__")
    )
    all_regs = regs.unionByName(merged.select("event_type", "reg", "rho"))
    est = hll_estimate(all_regs, ["event_type"], p=6)
    exact = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
        .unionByName(
            ev.agg(
                F.lit("__merged__").alias("event_type"),
                F.count_distinct("user_id").alias("exact_distinct"),
            )
        )
    )
    return est.join(exact, "event_type").select(
        "event_type", "est_distinct", "n_zero_registers", "exact_distinct"
    )


def sketch_count_min_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over the event stream (X102): 4 salted
    md5 rows × 128 cells, integer-exact on both engines; point estimates
    (min over the key's cells — an upper bound that is EXACT when no
    collision lands in all 4 cells) for the deterministic probe subset
    ``user_id % 7 == 0``, beside the true counts.

    Scale shape: the sketch build is one map-combined groupBy over an
    exploded depth-4 array (bounded 4·width rows out); the probe join
    broadcasts the 512-cell sketch.
    """
    from etl_spark.operators.sketch import count_min, count_min_estimate

    ev = _t(spark, sf_dir, "events")
    sketch = count_min(ev, "user_id", depth=4, width=128)
    probes = ev.select("user_id").filter(F.col("user_id") % 7 == 0).distinct()
    est = count_min_estimate(sketch, probes, "user_id", depth=4, width=128)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    return est.join(exact, "user_id").select("user_id", "exact_n", "cm_est")


def lineitem_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association metrics over order contents (X103):
    support / confidence / lift for every part pair co-occurring in ≥ 2
    orders (Agrawal & Srikant '94 Apriori, the 2-itemset level as one
    declarative pass).

    Scale shape: the pair expansion self-joins DISTINCT (order, part) on
    the order key — fan-out is bounded by items-per-order (≤7 in TPC-H
    shape, C(7,2)=21 pairs/order), so the join output is O(orders), not
    O(parts²); per-part counts broadcast back onto the pair aggregate.
    All metrics are integer ratios (exact-deterministic in double).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    part_cnt = li.groupBy("l_partkey").agg(F.count("*").alias("pc"))
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("pb"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= 2)
    )
    out = (
        co.join(F.broadcast(part_cnt.withColumnRenamed("l_partkey", "pa")
                            .withColumnRenamed("pc", "ca")), "pa")
        .join(F.broadcast(part_cnt.withColumnRenamed("l_partkey", "pb")
                          .withColumnRenamed("pc", "cb")), "pb")
        .crossJoin(F.broadcast(n_orders))
    )
    return out.select(
        "pa",
        "pb",
        "co",
        F.round(F.col("co") / F.col("n_orders"), 8).alias("support"),
        F.round(F.col("co") / F.col("ca"), 6).alias("confidence"),
        F.round(
            F.col("co") * F.col("n_orders") / (F.col("ca") * F.col("cb")), 6
        ).alias("lift"),
    )


def events_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward-drift detection per event type (X104, Page '54): the
    recursive statistic S_t = max(0, S_{t-1} + x_t − μ − k) in its CLOSED
    window form — S_t = P_t − min(0, min_{j≤t} P_j) with P the running sum
    of (x − μ − k) — so the sequential recursion becomes two stock window
    functions (running sum + running min) instead of a per-key Python
    loop. Emits the alert rows where S_t > h.

    Numeric policy: μ is an exact DECIMAL sum divided in double (order-
    independent); the running sum's accumulation ORDER is fixed by the
    window sort on (ts, event_id), so both engines round identically.
    Scale shape: one shuffle on event_type; windows stream within
    partitions.
    """
    k, h = 0.25, 1.5
    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "ts", "value")
    mu = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
            / F.count("*")
        ).alias("mu")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        ev.join(F.broadcast(mu), "event_type")
        .withColumn("p", F.sum(F.col("value") - F.col("mu") - F.lit(k)).over(w))
        .withColumn("s", F.col("p") - F.least(F.lit(0.0), F.min("p").over(w)))
    )
    return scored.filter(F.col("s") > h).select(
        "event_type", "event_id", F.round("s", 6).alias("cusum")
    )


def order_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier order graph (X106) — the
    iterative-algorithm shape, made EXACTLY verifiable: ranks are scaled
    integers (start 10^12 per node) and every step uses integer division
    (contribution = rank div degree; update = 0.15·10^12 + (85·Σ) div
    100), so three full iterations reproduce bit-identically on any
    engine — no float accumulation order anywhere.

    Graph: undirected bipartite edges (customer placed an order a
    supplier served), nodes disambiguated as 2·custkey / 2·suppkey+1.
    Scale shape: each iteration is one equi-join of the edge list with
    the rank vector plus one map-combined sum — the canonical
    edge-partitioned BSP step; iterations are bounded (3), so lineage
    stays shallow (at 100 TB each iteration's rank vector would be
    checkpointed, same plan per step).
    """
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    und = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # materialize the edge list once: every iteration joins it, and
    # without the cut the orders⋈lineitem build would re-execute per
    # iteration (3× the scan work); at 100 TB this is the parquet
    # intermediate every BSP engine persists between supersteps
    und = und.localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint(eager=True)
    ranks = deg.select(F.col("src").alias("node"), F.lit(10**12).alias("r"))
    for _ in range(3):
        contrib = (
            und.join(deg, "src")
            .join(ranks, und.src == ranks.node)
            .select(F.col("dst"), F.expr("r div deg").alias("c"))
        )
        ranks = contrib.groupBy("dst").agg(
            (F.lit(150_000_000_000) + F.expr("(85 * sum(c)) div 100")).alias("r")
        ).select(F.col("dst").alias("node"), "r")
    return ranks.select("node", F.col("r").alias("pagerank"))


def lineitem_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (X107): line items no other item
    dominates (lower-or-equal price AND higher-or-equal quantity, strict
    somewhere) — Börzsönyi '01's operator, as declarative passes.

    Two-pass range-partitioned shape (the events_ks_drift / decile
    pattern): per-price max collapses duplicates, prices range-partition
    across the cluster, each partition computes its running max-quantity
    prefix, and a driver-side per-partition prefix (bounded: one row per
    partition) broadcasts back — no global single-task window at any
    size. A point survives iff its quantity strictly exceeds every
    lower-priced point's quantity.
    """
    pp = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_extendedprice").alias("price"))
        .agg(F.max("l_quantity").alias("quantity"))
    )
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    parts = pp.repartitionByRange(n_parts, "price").withColumn(
        "pid", F.spark_partition_id()
    )
    parts = parts.localCheckpoint(eager=True)  # pid must stay frozen
    # bounded driver-side prefix: one (pid, max) row per partition
    pmax = {
        r["pid"]: r["m"]
        for r in parts.groupBy("pid").agg(F.max("quantity").alias("m")).collect()
    }
    prefix = []
    run = None
    for pid in sorted(pmax):
        prefix.append((pid, run))
        run = pmax[pid] if run is None else max(run, pmax[pid])
    pfx = spark.createDataFrame(
        prefix, f"pid int, prior_max {dict(pp.dtypes)['quantity']}"
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        parts.join(F.broadcast(pfx), "pid")
        .withColumn("run_max", F.max("quantity").over(w))
        .withColumn("mq", F.greatest("run_max", "prior_max"))
        .filter(F.col("mq").isNull() | (F.col("quantity") > F.col("mq")))
    )
    return sky.select("price", "quantity")


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per event type (X109): binary
    segmentation's first split (Scott & Knott '74 / the CUSUM-max
    statistic) — the index k maximizing the scaled mean-shift statistic
    T(k) = n/(k·(n−k)) · (S_k − k/n·S_n)², entirely via prefix sums and
    windows (no per-key loop, no UDF).

    Exactness policy: prefix sums accumulate in the window's sort order
    (identical on both engines); the argmax tie-breaks on the earliest
    index, so the chosen split is engine-deterministic. One shuffle on
    event_type; both windows and the argmax rank share it.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "ts", "value")
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = (
        ev.withColumn("k", F.row_number().over(w_ord))
        .withColumn("s_k", F.sum("value").over(w_run))
        .withColumn("n", F.count("*").over(w_all))
        .withColumn("s_n", F.sum("value").over(w_all))
        .filter(F.col("k") < F.col("n"))
        .withColumn(
            "t_stat",
            (F.col("n") / (F.col("k") * (F.col("n") - F.col("k"))))
            * F.pow(F.col("s_k") - F.col("k") / F.col("n") * F.col("s_n"), 2),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("t_stat").desc(), F.col("k").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(w_rank)).filter(F.col("rn") == 1)
    return best.select(
        "event_type",
        F.col("event_id").alias("split_event_id"),
        F.col("k").alias("split_idx"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round(F.col("s_k") / F.col("k"), 6).alias("left_mean"),
        F.round(
            (F.col("s_n") - F.col("s_k")) / (F.col("n") - F.col("k")), 6
        ).alias("right_mean"),
    )


def orders_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification (X111): parts ranked by
    discounted revenue; class A = the head of the cumulative-share curve
    up to 80%, B to 95%, C the tail — the warehouse classic behind
    stocking policy.

    Scale shape: the fact table collapses to a PART-keyed aggregate
    first (map-combined, one shuffle), so the global cumulative window
    runs over the dim-bounded aggregate — never the fact table. Revenue
    accumulates in exact DECIMAL (order-independent); the share is one
    double division of exact decimals, so class boundaries are
    engine-deterministic. Ties rank by part key for a total order.
    """
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev")
    )
    total = rev.agg(F.sum("rev").alias("tot"))
    w = Window.orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
    cum = (
        rev.withColumn("cum_rev", F.sum("rev").over(w))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "cum_share",
            F.col("cum_rev").cast("double") / F.col("tot").cast("double"),
        )
    )
    abc = F.when(F.col("cum_share") <= 0.8, "A").when(
        F.col("cum_share") <= 0.95, "B"
    ).otherwise("C")
    return cum.select(
        "l_partkey",
        F.col("rev").cast("double").alias("revenue"),
        F.round("cum_share", 8).alias("cum_share"),
        abc.alias("abc_class"),
    )


def events_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information / chi-square feature-association scan (X113):
    how much does hour-of-day predict event type? The feature-selection
    primitive behind "which metadata columns are worth conditioning a
    sampler on" in a training-data pipeline.

    Shape: one map-combined groupBy over the (type, hour) cells (|types|
    × 24 bounded), marginals re-aggregate those cells (no second pass
    over the fact table), the grand total rides a 1-row broadcast.
    Per-cell contributions ``p·ln(p/(px·py))`` and ``(obs−exp)²/exp``
    are doubles from exact integer counts, rounded to 12 decimals and
    summed in DECIMAL per type — order-independent, engine-portable.
    """
    ev = _t(spark, sf_dir, "events")
    hr = F.expr("ts div 1000000000 div 3600 % 24")  # UTC hour-of-day from epoch nanos
    cells = (
        ev.groupBy("event_type", hr.alias("hr"))
        .agg(F.count("*").alias("n_xy"))
        # consumed 4x (marginals, total, join): cut lineage at the
        # |types|x24-bounded aggregate so the fact table scans ONCE
        .localCheckpoint()
    )
    px = cells.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    py = cells.groupBy("hr").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").alias("n"))
    j = (
        cells.join(px, "event_type")
        .join(F.broadcast(py), "hr")
        .crossJoin(F.broadcast(tot))
    )
    pxy = F.col("n_xy") / F.col("n")
    exp = F.col("n_x").cast("double") * F.col("n_y") / F.col("n")
    mi_c = F.round(
        pxy * F.log(F.col("n_xy") * F.col("n").cast("double")
                    / (F.col("n_x").cast("double") * F.col("n_y"))),
        12,
    ).cast("decimal(28,12)")
    chi_c = F.round(
        (F.col("n_xy") - exp) * (F.col("n_xy") - exp) / exp, 12
    ).cast("decimal(28,12)")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("n_xy").alias("n_events"),
            F.sum(mi_c).alias("mi_d"),
            F.sum(chi_c).alias("chi2_d"),
        )
        .select(
            "event_type",
            "n_hours",
            "n_events",
            F.round(F.col("mi_d").cast("double"), 10).alias("mi_contrib"),
            F.round(F.col("chi2_d").cast("double"), 8).alias("chi2_contrib"),
        )
    )


def customer_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of account balance per market
    segment (X114): the inequality summary behind "is this segment's
    revenue carried by a few whales?" — G = (2·Σi·xᵢ − (n+1)·Σxᵢ) /
    (n·Σxᵢ) over the ascending-sorted balances.

    Shape: rank and both sums accumulate per segment in one window +
    one agg; balances are cast to DECIMAL(18,2) so Σxᵢ and Σi·xᵢ are
    exact integers-of-cents (order-independent), and only the final
    division runs in double. Ties sort by customer key for a total
    order. The per-segment window sorts within a hash partition — at
    100 TB swap in the two-pass range-partitioned rank used by
    orders_decile_bands; customers is a dimension table, so the
    single-partition sort is the right local plan here.
    """
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("bal").asc(), F.col("c_custkey").asc()
    )
    ranked = c.withColumn("i", F.row_number().over(w))
    g = ranked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum("bal").alias("sum_bal"),
        F.sum(F.col("i") * F.col("bal")).alias("sum_ibal"),
    )
    gini = (
        (F.lit(2) * F.col("sum_ibal").cast("double")
         - (F.col("n_customers") + 1) * F.col("sum_bal").cast("double"))
        / (F.col("n_customers") * F.col("sum_bal").cast("double"))
    )
    return g.select(
        "c_mktsegment",
        "n_customers",
        F.col("sum_bal").cast("double").alias("sum_bal"),
        F.round(gini, 9).alias("gini"),
    )


def parts_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (X115): parts
    are vertices, an edge joins two parts that appear in the same order,
    and each vertex's triangle participation measures how clique-y its
    neighborhood is — the graph-structure primitive behind community
    pruning and link-spam detection on web-scale corpora.

    Scale shape is degree-ORIENTED edge iteration (Chiba-Nishizeki '85
    forward algorithm; Cohen '09 / Suri-Vassilvitskii '11 for the
    orientation): every undirected edge points from its lower-degree
    endpoint to the higher (ties by id), so each out-list is bounded by
    O(√m) even on power-law graphs. Instead of MATERIALIZING the wedge
    set (Σ C(out-deg, 2) rows — 41M at sf0.1, and the dominant shuffle
    of the original wedge-join plan), each oriented edge (s, d)
    intersects the two √m-bounded sorted out-lists out(s) ∩ out(d) in a
    JVM array intrinsic: the per-edge cost is |out(s)|+|out(d)|, the
    total work is the same O(m^1.5) bound, and NOTHING wedge-sized is
    ever shuffled — the only exchanged tables are the edge list and the
    |V|-bounded adjacency arrays (total payload = |E| longs). Each
    triangle {s, d, w} is counted exactly once, at its unique
    source-of-two edge s→d (measured: 11-13.5 s → 4.5-5.4 s warm at
    sf0.1). Edge construction itself dedups (order, part) pairs first,
    so the per-order fan-out is bounded by items-per-order choose 2.
    """
    li = (
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
        # ONE scan + ONE dedup for BOTH self-join sides (self-joined
        # subplans are not shared — the old form scanned lineitem and ran
        # the distinct agg twice); repartition before the cut so the
        # frozen layout keeps the join's map side parallel
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        # consumed 4× (degrees, orientation, wedge close) — cut the
        # self-join lineage once instead of recomputing it per consumer
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
        # |V|-bounded and consumed 3x (two orientation joins + the final
        # degree attach) — never re-aggregate the edge list per consumer
        .localCheckpoint()
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    # orient: src = lower-degree endpoint (tie -> lower id); the degree
    # table is a vertex dim — broadcast both sides
    oriented = (
        edges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("u"),
            ).otherwise(F.col("v")).alias("src"),
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("v"),
            ).otherwise(F.col("u")).alias("dst"),
        )
        # consumed once (the adjacency fold below) — no cut needed
    )
    # √m-bounded sorted out-lists; consumed by both attach sides
    outadj = (
        oriented.groupBy("src")
        .agg(F.array_sort(F.collect_list("dst")).alias("out_"))
        .localCheckpoint()
    )
    # per oriented edge (s, d): triangle sinks = out(s) ∩ out(d); the
    # intersect is a codegen'd array intrinsic over two sorted √m-bounded
    # arrays — no wedge row is ever materialized or shuffled. The edge
    # stream with out(s) ALREADY ATTACHED is recovered by EXPLODING the
    # adjacency table (outadj was folded FROM the oriented edges by
    # groupBy(src), so explode(out_) reproduces every oriented edge with
    # its source's full out-list for free) — the former src-side attach
    # join and its two exchanges (edge repartition + outadj join side)
    # are gone; only the dst attach shuffles. Its probe side is pinned
    # to a keyed repartition: it REPLACES the join's required exchange
    # (same key, same bytes) but carries a user-specified count, so
    # AQE's size-based coalescing cannot shrink the compute-bound
    # intersect stage to a handful of tasks.
    par = spark.sparkContext.defaultParallelism
    e2 = (
        outadj.select(
            "src", F.col("out_").alias("out_s"), F.explode("out_").alias("dst")
        )
        .repartition(par, "dst")
        .join(
            outadj.select(F.col("src").alias("dst"), F.col("out_").alias("out_d")),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.array_intersect("out_s", "out_d").alias("sinks"),
        )
        .filter(F.size("sinks") > 0)
    )
    # participation: triangle {s, d, w} adds 1 to each vertex — s and d
    # get their edge's full sink count, each sink gets 1. ONE exploded
    # contribution pass per triangle-edge row: the former 3-branch
    # unionAll re-evaluated the whole oriented⋈outadj⋈outadj intersect
    # subtree once per branch (self-referenced subplans are not shared —
    # the plan showed three identical SortMergeJoin subtrees and the
    # intersect stage ran 3×)
    n = F.size("sinks").cast("long")
    contrib = e2.select(
        F.explode(
            F.concat(
                F.transform(
                    "sinks",
                    lambda w: F.struct(
                        w.alias("pk"), F.lit(1).cast("long").alias("c")
                    ),
                ),
                F.array(
                    F.struct(F.col("src").alias("pk"), n.alias("c")),
                    F.struct(F.col("dst").alias("pk"), n.alias("c")),
                ),
            )
        ).alias("x")
    )
    part_tri = contrib.groupBy(F.col("x.pk").alias("pk")).agg(
        F.sum("x.c").cast("long").alias("n_triangles")
    )
    return part_tri.join(
        deg.select(F.col("x").alias("pk"), F.col("d").alias("degree")), "pk"
    ).select(F.col("pk").alias("l_partkey"), "degree", "n_triangles")


def events_sax_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (X117; Lin et al. '03): each event type's DAILY
    mean-value series z-normalized and discretized to a 4-symbol
    alphabet at the Gaussian breakpoints (−0.6745, 0, 0.6745), emitted
    as one symbol string per type — the time-series fingerprint that
    turns motif/novelty search over a year of telemetry into substring
    operations.

    Shape: daily means come from one map-combined groupBy with
    DECIMAL(18,6) value sums (exact → the mean divisions are identical
    doubles on both engines); per-type mean/std reduce the DAY-bounded
    aggregate via decimal sums of 9-dp-rounded means and squares; the
    symbol string is the rank-free ordered-collect pattern (array_sort
    over (day, symbol) structs). Nothing past the first agg ever touches
    the fact table.
    """
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400")  # epoch days (ts is nanos)
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        F.count("*").alias("cnt"),
    ).select(
        "event_type",
        "day",
        (F.col("sv").cast("double") / F.col("cnt")).alias("m"),
    )
    md = F.round(F.col("m"), 9).cast("decimal(28,9)")
    md2 = F.round(F.col("m") * F.col("m"), 9).cast("decimal(38,9)")
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(md).alias("s1"),
        F.sum(md2).alias("s2"),
    ).select(
        "event_type",
        "n_days",
        (F.col("s1").cast("double") / F.col("n_days")).alias("mu"),
        F.sqrt(
            F.col("s2").cast("double") / F.col("n_days")
            - (F.col("s1").cast("double") / F.col("n_days"))
            * (F.col("s1").cast("double") / F.col("n_days"))
        ).alias("sd"),
    )
    z = (F.round(F.col("m"), 9) - F.col("mu")) / F.col("sd")
    sym = (
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    tagged = daily.join(F.broadcast(stats), "event_type").select(
        "event_type", "n_days", "day", sym.alias("sym")
    )
    return tagged.groupBy("event_type").agg(
        F.first("n_days").alias("n_days"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "sym"))),
                lambda s: s["sym"],
            ),
            "",
        ).alias("sax"),
    )


def _exact_global_rank(df, value_col, tie_col, ascending=True):
    """Two-pass range-partitioned exact global rank (the orders_decile_bands
    shape, factored for reuse): range-bucket on the value (broadcast
    min/max), per-bucket counts give broadcast prefix offsets, and the
    global rank = per-bucket row_number + offset — parallelism is
    KS_RANGE_BUCKETS sort tasks, never ONE global sort task. Returns the
    frame plus ``__rank`` and ``__n``. Ties break on ``tie_col`` for a
    total order."""
    B = KS_RANGE_BUCKETS
    v = F.col(value_col) if ascending else -F.col(value_col)
    rng = df.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    bkt = F.when(span == 0, F.lit(0)).otherwise(
        F.least(F.lit(B - 1), F.floor((v - F.col("__lo")) / (span / B)).cast("int"))
    )
    bucketed = df.join(F.broadcast(rng), how="cross").withColumn("__bkt", bkt).drop(
        "__lo", "__hi"
    )
    per_bucket = bucketed.groupBy("__bkt").agg(F.count("*").alias("__c"))
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "__bkt", F.coalesce(F.sum("__c").over(wb), F.lit(0)).alias("__off")
    )
    total = per_bucket.agg(F.sum("__c").alias("__n"))
    wv = Window.partitionBy("__bkt").orderBy(v.asc(), F.col(tie_col).asc())
    return (
        bucketed.join(F.broadcast(offsets), "__bkt")
        .join(F.broadcast(total), how="cross")
        .withColumn("__rank", F.row_number().over(wv) + F.col("__off"))
        .drop("__bkt", "__off")
    )


def _ntile_from_rank(n_tiles: int):
    """Closed-form ntile over (__rank, __n): the first n%k tiles hold
    ceil(n/k) rows — identical to the window function's placement."""
    small = F.floor(F.col("__n") / n_tiles)
    big = F.col("__n") % n_tiles
    cutoff = big * (small + 1)
    return (
        F.when(F.col("__rank") <= cutoff, F.floor((F.col("__rank") - 1) / (small + 1)) + 1)
        .otherwise(
            big + F.floor((F.col("__rank") - cutoff - 1) / F.greatest(small, F.lit(1))) + 1
        )
        .cast("int")
    )


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (X118): recency / frequency / monetary
    quintile bands — the marketing-warehouse classic and the canonical
    "band a dim by three metrics at once" shape.

    Per customer: days since last order (vs the broadcast global anchor
    date), order count, and exact DECIMAL monetary sum. Each metric is
    banded by exact ntile(5) semantics using the factored TWO-PASS
    range-partitioned rank (never a global no-partition window — one
    sort task at 100 TB); band 1 = best (most recent / most frequent /
    highest spend). Output: one row per populated (r, f, m) cell with
    customer count and monetary total — bounded at 125 rows.
    """
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("__anchor"))
    cust = (
        o.join(F.broadcast(anchor), how="cross")
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("__anchor"), F.col("o_orderdate"))).alias("r_days"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
    )
    # three exact quintile bands over the customer-bounded aggregate;
    # cut lineage once — the banding passes each re-consume the aggregate
    cust = cust.localCheckpoint()
    r = _exact_global_rank(cust, "r_days", "o_custkey", ascending=True)
    r = r.select("o_custkey", _ntile_from_rank(5).alias("r_band"))
    fq = _exact_global_rank(cust, "freq", "o_custkey", ascending=False)
    fq = fq.select("o_custkey", _ntile_from_rank(5).alias("f_band"))
    m = _exact_global_rank(cust, "monetary", "o_custkey", ascending=False)
    m = m.select("o_custkey", _ntile_from_rank(5).alias("m_band"))
    return (
        cust.join(r, "o_custkey")
        .join(fq, "o_custkey")
        .join(m, "o_custkey")
        .groupBy("r_band", "f_band", "m_band")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary").cast("double").alias("monetary_total"),
        )
    )


def events_lag_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of each event type's daily mean-value series
    (X119), k = 1..3: the seasonality probe run before choosing a
    forecasting window. acf_k = Σ(xₜ−μ)(xₜ₊ₖ−μ) / Σ(xₜ−μ)² over the
    OBSERVED day sequence (lead(k) over per-type day order).

    Shape: the fact collapses to the day-bounded daily aggregate first
    (decimal value sums → engine-identical mean doubles); leads ride one
    per-type window; the three lags unpivot via ``stack`` over that
    aggregate; products round→DECIMAL(38,9) so numerator and denominator
    are order-independent on both engines.
    """
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400")
    daily = (
        ev.groupBy("event_type", day.alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
            F.count("*").alias("cnt"),
        )
        .select(
            "event_type", "day", (F.col("sv").cast("double") / F.col("cnt")).alias("m")
        )
        # consumed 3x (mu, leads, denominator): cut lineage at the
        # day-bounded aggregate so the fact table scans ONCE
        .localCheckpoint()
    )
    mu_t = daily.groupBy("event_type").agg(
        (
            F.sum(F.round(F.col("m"), 9).cast("decimal(28,9)")).cast("double")
            / F.count("*")
        ).alias("mu"),
        F.sum(F.round(F.col("m") * F.col("m"), 9).cast("decimal(38,9)")).alias("s2"),
        F.count("*").alias("n_days"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    led = daily.select(
        "event_type",
        "m",
        F.lead("m", 1).over(w).alias("m1"),
        F.lead("m", 2).over(w).alias("m2"),
        F.lead("m", 3).over(w).alias("m3"),
    )
    lagged = led.select(
        "event_type",
        "m",
        F.expr("stack(3, 1, m1, 2, m2, 3, m3) as (lag, mk)"),
    ).filter(F.col("mk").isNotNull())
    num = (
        lagged.join(F.broadcast(mu_t.select("event_type", "mu")), "event_type")
        .groupBy("event_type", "lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.round((F.col("m") - F.col("mu")) * (F.col("mk") - F.col("mu")), 9)
                .cast("decimal(38,9)")
            ).alias("num"),
        )
    )
    den = daily.join(F.broadcast(mu_t.select("event_type", "mu")), "event_type").groupBy(
        "event_type"
    ).agg(
        F.sum(
            F.round((F.col("m") - F.col("mu")) * (F.col("m") - F.col("mu")), 9)
            .cast("decimal(38,9)")
        ).alias("den")
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        "n_pairs",
        F.round(F.col("num").cast("double") / F.col("den").cast("double"), 9).alias(
            "acf"
        ),
    )


def events_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (X121): equivalence-class size histogram over the
    quasi-identifier tuple (event type, hour-of-day, user cohort) — the
    privacy gate a training-data pipeline runs before releasing joined
    telemetry. Reports, per k-bucket (1, 2-4, 5-9, 10+), how many classes
    and what share of ROWS sit there — rows in small classes are the
    re-identifiable ones.

    Shape: one map-combined groupBy builds the class-size table; the
    histogram re-aggregates it (bounded by |QI| combinations); the row
    total rides a 1-row broadcast.
    """
    ev = _t(spark, sf_dir, "events")
    hr = F.expr("ts div 1000000000 div 3600 % 24")
    classes = (
        ev.groupBy(
            "event_type",
            hr.alias("hr"),
            F.pmod(F.col("user_id"), F.lit(100)).alias("cohort"),
        )
        .agg(F.count("*").alias("k"))
        # consumed 2x (row total + histogram): cut lineage at the
        # QI-bounded class table so the fact table scans ONCE
        .localCheckpoint()
    )
    bucket = (
        F.when(F.col("k") == 1, "1")
        .when(F.col("k") <= 4, "2-4")
        .when(F.col("k") <= 9, "5-9")
        .otherwise("10+")
    )
    tot = classes.agg(F.sum("k").alias("n_rows_total"))
    return (
        classes.groupBy(bucket.alias("k_bucket"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("k").alias("n_rows"),
            F.min("k").alias("k_min"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k_bucket",
            "n_classes",
            "n_rows",
            "k_min",
            F.round(F.col("n_rows") / F.col("n_rows_total"), 9).alias("row_share"),
        )
    )


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix (X123): customers grouped by
    first-order month, revenue accumulated by months-since-cohort — the
    retention/LTV triangle every growth dashboard is built on.

    Shape: the cohort assignment is one customer-keyed aggregate
    (min order month), broadcast-joined back onto orders (the cohort
    table is customer-bounded); the matrix is a second map-combined agg
    over (cohort, age) — bounded by months². Month arithmetic is pure
    integer (year·12+month), engine-identical; revenue sums in exact
    DECIMAL with one final double cast.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("om"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("om").alias("cm"))
    return (
        o.join(cohort, "o_custkey")
        .groupBy(
            F.col("cm").alias("cohort_month"),
            (F.col("om") - F.col("cm")).alias("age_months"),
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensics (X125): the fraud/data-quality audit —
    observed first-digit distribution of line amounts vs Benford's
    log10(1+1/d) expectation, with the chi-square distance per return
    flag. First digits extract through exact integer cents
    (``substring(cast(round(x·100) as string), 1, 1)``) so both engines
    read the same digit — no float log10 at the boundary.

    Shape: one map-combined groupBy over (flag, digit) [≤ 3×9 cells];
    expectations are literals; chi-square re-aggregates the cell table.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.substring(
            F.round(F.col("l_extendedprice") * 100).cast("long").cast("string"), 1, 1
        ).cast("int").alias("d"),
    )
    cells = li.groupBy("l_returnflag", "d").agg(F.count("*").alias("n_d"))
    tot = cells.groupBy("l_returnflag").agg(F.sum("n_d").alias("n"))
    # ln ratio, not log10: both engines compute the SAME two ln calls
    # (log10 implementations may differ by an ulp across libms)
    exp_p = F.log((F.col("d") + 1.0) / F.col("d")) / F.log(F.lit(10.0))
    j = cells.join(F.broadcast(tot), "l_returnflag").withColumn(
        "expn", exp_p * F.col("n")
    )
    chi_c = F.round(
        (F.col("n_d") - F.col("expn")) * (F.col("n_d") - F.col("expn")) / F.col("expn"),
        10,
    ).cast("decimal(28,10)")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.first("n").alias("n_rows"),
            F.count("*").alias("n_digits"),
            F.round(F.sum(chi_c).cast("double"), 8).alias("chi2"),
        )
    )


def supplier_share_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per nation (X128): the
    antitrust-style "is this market dominated?" summary — Σ share² over
    suppliers' revenue shares within their nation.

    Shape: fact collapses to a supplier-keyed DECIMAL aggregate [one
    shuffle], nation totals re-aggregate it, shares divide exact
    decimals in double and square-sum through rounded DECIMAL — bounded,
    order-independent, deterministic.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("rev")
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.sum("rev").alias("nat_rev"), F.count("*").alias("n_suppliers")
    )
    shared = rev.join(F.broadcast(nat), "s_nationkey").withColumn(
        "share", F.col("rev").cast("double") / F.col("nat_rev").cast("double")
    )
    return shared.groupBy("s_nationkey").agg(
        F.first("n_suppliers").alias("n_suppliers"),
        F.round(
            F.sum(F.round(F.col("share") * F.col("share"), 12).cast("decimal(28,12)"))
            .cast("double"),
            10,
        ).alias("hhi"),
    )


def orders_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (X127): α̂ = k / Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎)
    over the top-k order values — the heavy-tail diagnostic behind "can I
    sample this column uniformly or do whales dominate?".

    Shape: the top-(k+1) rows come from orderBy().limit() — Spark plans
    TakeOrderedAndProject, a per-partition top-k merged on the driver
    side of the exchange, so the fact table is NEVER globally sorted
    (a global row_number window would move all rows to one task; the
    WindowGroupLimit rewrite only fires for PARTITIONED windows). The
    rank is then assigned over the (k+1)-row result, the threshold
    x₍ₖ₊₁₎ rides a 1-row broadcast, and the log-ratio sum rounds→DECIMAL.
    """
    k = 500
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    top = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).limit(
        k + 1
    )
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    top = top.withColumn("rnk", F.row_number().over(w))
    top = top.localCheckpoint()  # consumed twice: threshold + numerator
    thr = top.filter(F.col("rnk") == k + 1).select(
        F.col("o_totalprice").alias("x_k1")
    )
    s = (
        top.filter(F.col("rnk") <= k)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count("*").alias("k"),
            F.sum(
                F.round(F.log(F.col("o_totalprice") / F.col("x_k1")), 9)
                .cast("decimal(28,9)")
            ).alias("logsum"),
        )
    )
    return s.select(
        "k",
        F.round(F.col("logsum").cast("double"), 6).alias("log_ratio_sum"),
        F.round(F.col("k") / F.col("logsum").cast("double"), 6).alias("hill_alpha"),
    )


def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between every pair of event types'
    value distributions (X130): the A/B-test primitive — t statistic and
    Welch–Satterthwaite degrees of freedom from per-type moments.

    Shape: ONE map-combined moment pass over the fact (decimal sums of
    value and value², exact), then the |types|²-bounded pair frame is a
    broadcast self-join of the 5-row stats table. Everything after the
    first agg is metadata-sized; all divisions run in double from exact
    decimal components, so both engines agree bit-for-bit.
    """
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s1"),
        F.sum(
            F.round(F.col("value") * F.col("value"), 9).cast("decimal(38,9)")
        ).alias("s2"),
    )
    a = stats.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = stats.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("type_a") < F.col("type_b"))
    ma = F.col("s1a").cast("double") / F.col("na")
    mb = F.col("s1b").cast("double") / F.col("nb")
    # unbiased sample variance from exact sums: (s2 - n*m^2) / (n-1)
    va = (F.col("s2a").cast("double") - F.col("na") * ma * ma) / (F.col("na") - 1)
    vb = (F.col("s2b").cast("double") - F.col("nb") * mb * mb) / (F.col("nb") - 1)
    sea = va / F.col("na")
    seb = vb / F.col("nb")
    t = (ma - mb) / F.sqrt(sea + seb)
    df_ws = (
        (sea + seb) * (sea + seb)
        / (sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1))
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.col("na"),
        F.col("nb"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_ws, 4).alias("welch_df"),
    )


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type (X131; Goh & Barabási '08):
    B = (σ−μ)/(σ+μ) over the inter-event gaps — −1 periodic, 0 Poisson,
    →1 bursty. The traffic-shape probe run before sizing stream state.

    Shape: gaps come from one per-type lag window (the events already
    cluster by type after the shuffle), then ONE moment aggregate with
    exact integer sums — gaps are integer microseconds, and Σgap / Σgap²
    stay inside DECIMAL(38), so μ and σ are engine-identical doubles.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 1000").alias("us"), "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = ev.select(
        "event_type",
        (F.col("us") - F.lag("us").over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    m = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum(F.col("gap").cast("decimal(38,0)")).alias("s1"),
        # cast BEFORE the multiply: an hour-scale gap in micros squares
        # past LONG range; decimal(19)x decimal(19) widens exactly
        F.sum(
            F.col("gap").cast("decimal(19,0)") * F.col("gap").cast("decimal(19,0)")
        ).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_gaps")
    var = F.col("s2").cast("double") / F.col("n_gaps") - mu * mu
    sd = F.sqrt(var)
    return m.select(
        "event_type",
        "n_gaps",
        F.round(mu, 4).alias("mean_gap_us"),
        F.round((sd - mu) / (sd + mu), 9).alias("burstiness"),
    )


def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier reorder-survival curve (X129): S(t) over days-to-next-
    order, with the gap from each customer's LAST order to the global
    anchor right-CENSORED — the churn-analysis estimator, exact.

    Shape: gaps ride one per-customer lead window; the KM table is then
    distinct-gap-bounded: per gap-day, d (events) and c (censored) from a
    map-combined agg; at-risk n_t and the running Π(1 − d/n) both come
    from windows over that bounded table. The product is exp of a
    DECIMAL-summed ln series — order-independent; ln/exp are the shared
    cross-engine transcendental set the gate already proves.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    anchor = o.agg(F.max("o_orderdate").alias("__a"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    nxt = o.withColumn("nxt", F.lead("o_orderdate").over(w)).crossJoin(
        F.broadcast(anchor)
    )
    spans = nxt.select(
        F.when(
            F.col("nxt").isNotNull(), F.datediff(F.col("nxt"), F.col("o_orderdate"))
        )
        .otherwise(F.datediff(F.col("__a"), F.col("o_orderdate")))
        .alias("t"),
        F.col("nxt").isNotNull().alias("event"),
    ).filter(F.col("t") > 0)
    per_t = (
        spans.groupBy("t")
        .agg(
            F.sum(F.when(F.col("event"), 1).otherwise(0)).alias("d"),
            F.sum(F.when(F.col("event"), 0).otherwise(1)).alias("c"),
        )
        # consumed 2x (total + at-risk): cut lineage at the gap-day-bounded
        # aggregate so the spans window runs ONCE
        .localCheckpoint()
    )
    total = per_t.agg(F.sum(F.col("d") + F.col("c")).alias("N"))
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_t",
            F.col("N") - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wt), F.lit(0)),
        )
    )
    # d == n_t (everyone at risk exits) → S hits exactly 0; ln(0) is NULL
    # on Spark but -inf on DuckDB, so pin a shared sentinel that rounds
    # exp() to 0.0 on both engines
    lnterm = F.when(
        F.col("d") < F.col("n_t"),
        F.round(F.log(1.0 - F.col("d").cast("double") / F.col("n_t")), 9),
    ).otherwise(F.lit(-999.0)).cast("decimal(28,9)")
    ws = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = at_risk.filter(F.col("d") > 0).withColumn(
        "lnS", F.sum(lnterm).over(ws)
    )
    return km.select(
        "t",
        "d",
        "c",
        "n_t",
        F.round(F.exp(F.col("lnS").cast("double")), 9).alias("survival"),
    )


def events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gapfill (X133) — the time_bucket_gapfill +
    interpolate() pattern, LOCF's smoother sibling: a missing hour reads
    prev + (next − prev)·(t − t_prev)/(t_next − t_prev) between its
    bracketing observations (NULL outside them, like the hypertable
    function).

    Shape identical to the LOCF op: hourly rollup (one keyed shuffle) →
    dense per-type grid (metadata-sized, broadcast bounds) → left join →
    per-type windows over the GRID. The bracketing values/times come
    from ignore-nulls last/first windows; arithmetic is integer hours ×
    exact-decimal-derived doubles, rounded at 6 dp.
    """
    ev = _t(spark, sf_dir, "events")
    hour = F.expr("ts div 1000000000 div 3600 * 3600")
    roll = (
        ev.withColumn("hour_epoch", hour)
        .groupBy("hour_epoch", "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(_dec("value")).cast("double") / F.count("*")).alias("mean_value"),
        )
    )
    rng = roll.agg(F.min("hour_epoch").alias("lo"), F.max("hour_epoch").alias("hi"))
    grid = (
        roll.select("event_type").distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_epoch"),
        )
    )
    joined = grid.join(roll, ["event_type", "hour_epoch"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("n").isNotNull(), F.col("hour_epoch"))
    prev_v = F.last("mean_value", ignorenulls=True).over(wb)
    prev_h = F.last(obs_h, ignorenulls=True).over(wb)
    next_v = F.first("mean_value", ignorenulls=True).over(wf)
    next_h = F.first(obs_h, ignorenulls=True).over(wf)
    interp = F.when(F.col("n").isNotNull(), F.col("mean_value")).otherwise(
        F.when(
            prev_h.isNotNull() & next_h.isNotNull(),
            prev_v
            + (next_v - prev_v)
            * (F.col("hour_epoch") - prev_h)
            / (next_h - prev_h),
        )
    )
    return joined.select(
        "event_type",
        "hour_epoch",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.round(interp, 6).alias("mean_interp"),
        F.col("n").isNull().cast("int").alias("is_gap"),
    )


def nation_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation (X134): the board-deck
    staple — revenue by (nation, year) with absolute and relative delta
    vs the prior year via one lag window over the year-bounded aggregate.

    Shape: fact → (nation, year) DECIMAL aggregate (supplier dim
    broadcast into the scan stage), lag over the ≤|nations|·|years| grid.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("rev")
        )
    )
    w = Window.partitionBy("nationkey").orderBy("yr")
    prev = F.lag("rev").over(w)
    return rev.select(
        "nationkey",
        "yr",
        F.col("rev").cast("double").alias("revenue"),
        # the decimal difference is ALREADY scale-2 exact — casting it to
        # double is deterministic; re-rounding in double is not (ties)
        (F.col("rev") - prev).cast("double").alias("yoy_delta"),
        F.round(
            (F.col("rev") - prev).cast("double") / prev.cast("double"), 6
        ).alias("yoy_growth"),
    )


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest (X138): predict each hour's mean
    value as the value one week earlier (the baseline every real
    forecaster must beat) and score MAPE / sMAPE / bias per event type
    over the hours where both sides exist — the eval harness shape, not
    just the forecast.

    Shape: one hourly rollup (map-combined), self-join on
    (type, hour − 168·3600) — an equi-join of the hour-bounded aggregate
    with itself, metadata-sized; error terms round→DECIMAL for
    order-independent sums.
    """
    ev = _t(spark, sf_dir, "events")
    hour = F.expr("ts div 1000000000 div 3600 * 3600")
    roll = (
        ev.withColumn("hour_epoch", hour)
        .groupBy("event_type", "hour_epoch")
        .agg(
            (F.sum(_dec("value")).cast("double") / F.count("*")).alias("m")
        )
        # consumed twice (actual + lagged side of the self-join)
        .localCheckpoint()
    )
    actual = roll.select(
        "event_type", "hour_epoch", F.col("m").alias("y")
    )
    lagged = roll.select(
        "event_type",
        (F.col("hour_epoch") + 168 * 3600).alias("hour_epoch"),
        F.col("m").alias("yhat"),
    )
    j = actual.join(lagged, ["event_type", "hour_epoch"])
    ape = F.abs(F.col("y") - F.col("yhat")) / F.abs(F.col("y"))
    sape = (
        F.lit(2.0)
        * F.abs(F.col("y") - F.col("yhat"))
        / (F.abs(F.col("y")) + F.abs(F.col("yhat")))
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.round(
            (
                F.sum(F.round(ape, 9).cast("decimal(28,9)")).cast("double")
                / F.count("*")
            ),
            6,
        ).alias("mape"),
        F.round(
            (
                F.sum(F.round(sape, 9).cast("decimal(28,9)")).cast("double")
                / F.count("*")
            ),
            6,
        ).alias("smape"),
        F.round(
            F.sum(F.round(F.col("yhat") - F.col("y"), 9).cast("decimal(28,9)"))
            .cast("double")
            / F.count("*"),
            6,
        ).alias("bias"),
    )


def lineitem_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ship-latency quantiles per return flag (X139): p50/p90/p99
    of days-from-first-of-month-to-ship — computed through the BOUNDED
    histogram, the scale-correct exact-quantile recipe when the value
    domain is small: per (flag, latency-day) counts [one map-combined
    shuffle], cumulative ranks over that metadata-sized table, ordinal
    (type-1) quantile = first value whose cumulative count reaches
    ⌈q·n⌉. No fact-sized window, no per-group sort task, no approx.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.datediff(
            F.col("l_shipdate"), F.date_trunc("month", F.col("l_shipdate"))
        ).alias("lat"),
    )
    hist = li.groupBy("l_returnflag", "lat").agg(F.count("*").alias("c"))
    tot = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("lat")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w)).join(
        F.broadcast(tot), "l_returnflag"
    )
    qs = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
    aggs = [
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("lat")
            )
        ).alias(name)
        for name, q in qs
    ]
    return cum.groupBy("l_returnflag").agg(
        F.first("n").alias("n_rows"), *aggs
    )


def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / 7-day WAU / 28-day MAU with stickiness (X140): the
    engagement dashboard row — per day, distinct users active that day,
    that trailing week, that trailing 28 days, and DAU/MAU.

    Exact sliding DISTINCT at scale: a windowed count_distinct over the
    fact is quadratic re-reading; instead the fact collapses once to the
    (user, day) presence table [one map-combined shuffle], each presence
    row fans out to the ≤28 future days whose window it enters (a
    BOUNDED sequence explode), and per (day, horizon) a second distinct
    + count finishes it. Work is O(presence · window-days), the exact
    cost floor for exact sliding distincts; anything cheaper goes
    approximate (the HLL ops next door).
    """
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400")
    presence = ev.select(
        day.alias("d"), F.col("user_id").alias("u")
    ).distinct()
    bounds = presence.agg(F.max("d").alias("dmax"))
    fan = presence.select(
        "u",
        "d",
        F.explode(F.sequence(F.col("d"), F.col("d") + 27)).alias("obs_day"),
    )
    per = (
        fan.select(
            "u",
            "obs_day",
            (F.col("obs_day") == F.col("d")).alias("in_dau"),
            (F.col("obs_day") - F.col("d") < 7).alias("in_wau"),
        )
        .groupBy("obs_day", "u")
        .agg(
            F.max("in_dau").alias("dau_u"),
            F.max("in_wau").alias("wau_u"),
        )
    )
    out = per.groupBy("obs_day").agg(
        F.sum(F.when(F.col("dau_u"), 1).otherwise(0)).alias("dau"),
        F.sum(F.when(F.col("wau_u"), 1).otherwise(0)).alias("wau"),
        F.count("*").alias("mau"),
    )
    return (
        out.crossJoin(F.broadcast(bounds))
        .filter(F.col("obs_day") <= F.col("dmax"))
        .select(
            F.col("obs_day").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") / F.col("mau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


def events_dau_mau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-backed DAU / 7-day WAU / 28-day MAU (X162): the documented
    100-TB swap-in for :func:`events_dau_mau`, now gate-proven instead of
    a docstring promise. The exact form's cost floor is
    O(presence · window-days) because every (user, day) presence row
    fans to ≤28 observation days; here the fan-out happens at the
    REGISTER level instead — each day collapses to a ≤64-row HLL
    register table (one map-combined shuffle), and the trailing 7/28-day
    windows MERGE registers (max per register across days — the
    mergeability property warehouses rely on for partition-wise
    sketches). Fan-out volume drops from |presence|·28 to |days|·m·28
    rows: volume-independent per day, the property that matters when a
    day holds 10^9 presence rows.

    Exactness discipline: the from-scratch registers (operators/
    sketch.py — shared 52-bit md5 domain, exact-integer harmonic sum)
    are bit-identical on both engines, so the ESTIMATES hash-match the
    oracle exactly even though they approximate the true counts.
    """
    from etl_spark.operators.sketch import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400")
    pres = ev.select(day.alias("d"), F.col("user_id").alias("u"))
    # cut point: ONE scan builds the per-day register tables; the three
    # horizons below all derive from this ≤ |days|·64-row table
    regs = hll_registers(pres, "u", ["d"], p=6).localCheckpoint(eager=True)
    bounds = regs.agg(F.max("d").alias("dmax"))
    fan = regs.select(
        "reg", "rho", "d",
        F.explode(F.sequence(F.col("d"), F.col("d") + 27)).alias("obs_day"),
    )
    dau_r = regs.select(F.col("d").alias("obs_day"), "reg", "rho")
    wau_r = (
        fan.filter(F.col("obs_day") - F.col("d") < 7)
        .groupBy("obs_day", "reg").agg(F.max("rho").alias("rho"))
    )
    mau_r = fan.groupBy("obs_day", "reg").agg(F.max("rho").alias("rho"))
    dau = hll_estimate(dau_r, ["obs_day"], p=6).select(
        "obs_day", F.col("est_distinct").alias("dau_est"))
    wau = hll_estimate(wau_r, ["obs_day"], p=6).select(
        "obs_day", F.col("est_distinct").alias("wau_est"))
    mau = hll_estimate(mau_r, ["obs_day"], p=6).select(
        "obs_day", F.col("est_distinct").alias("mau_est"))
    return (
        dau.join(wau, "obs_day").join(mau, "obs_day")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("obs_day") <= F.col("dmax"))
        .select(
            F.col("obs_day").alias("day"), "dau_est", "wau_est", "mau_est",
            F.round(F.col("dau_est") / F.col("mau_est"), 6).alias(
                "stickiness_est"),
        )
    )


def lineitem_metric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of (quantity, price, discount) per
    return flag (X141): the schema-profiling pass that decides which
    columns are redundant before feature selection.

    Moment sums are exact via SALTED LONG partials, not wide decimals:
    Pearson r is invariant under positive linear scaling, so values
    enter as integer cents/units (qty ≤ 50, price-cents < 2²⁴,
    disc-cents ≤ 10 — every per-row product fits a long with room) and
    the fact-side sums run at native long speed. A long sum would
    overflow globally (Σ price-cents² ≈ 10²⁰ at 10× sf0.1), so level 1
    groups by (flag, salt=orderkey mod 1024) — ≤ 2·10¹⁷ per partial,
    45× headroom at 10×; raise the salt width with the data — and
    level 2 decimal-sums the 3·1024 partial rows (metadata-sized).
    Measured vs the naive DECIMAL(38,6) per-row sums: 7.2 → ~1 s at
    sf0.1 (decimal aggregation is the interpreted path; longs ride
    whole-stage codegen). Exactness is unchanged: integer partial sums
    re-associate freely. r = (n·Σxy − ΣxΣy)/√(…), identical doubles on
    both engines because every input is an exact integer.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.pmod(F.col("l_orderkey"), F.lit(1024)).alias("__salt"),
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("c"),
    )
    pairs = [
        ("qty", "qty", "q", "q"), ("price", "qty", "p", "q"),
        ("disc", "qty", "c", "q"), ("price", "price", "p", "p"),
        ("disc", "price", "c", "p"), ("disc", "disc", "c", "c"),
    ]
    lvl1 = li.groupBy("l_returnflag", "__salt").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s_qty"),
        F.sum("p").alias("s_price"),
        F.sum("c").alias("s_disc"),
        *[
            F.sum(F.col(ca) * F.col(cb)).alias(f"s_{a}_{b}")
            for a, b, ca, cb in pairs
        ],
    )
    m = lvl1.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"),
        *[
            F.sum(F.col(col).cast("decimal(38,0)")).alias(col)
            for col in ["s_qty", "s_price", "s_disc"]
            + [f"s_{a}_{b}" for a, b, _, _ in pairs]
        ],
    )

    def corr(a: str, b: str):
        x, y = sorted((a, b))
        n = F.col("n").cast("double")
        sx, sy = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        sxy = F.col(f"s_{x}_{y}").cast("double")
        sxx = F.col(f"s_{a}_{a}").cast("double")
        syy = F.col(f"s_{b}_{b}").cast("double")
        return F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            8,
        )

    return m.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        corr("qty", "price").alias("corr_qty_price"),
        corr("qty", "disc").alias("corr_qty_disc"),
        corr("price", "disc").alias("corr_price_disc"),
    )


def events_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level Haar wavelet decomposition of each type's daily mean
    series (X145): per level, paired days collapse to (approximation,
    detail) = ((a+b)/2, (a−b)/2) — the multi-resolution summary behind
    wavelet compression and scale-localized anomaly detection. Output:
    per (type, level) the detail-energy share, plus the level-3
    approximation energy — the compaction curve ("how much signal
    survives at 1/8 resolution").

    Shape: everything past the daily rollup operates on the day-bounded
    aggregate; each level is one map-combined groupBy on ``day div 2``
    (no window, no shuffle growth — the table HALVES per level).
    Energies accumulate as rounded DECIMALs; odd tails carry through
    unpaired (standard zero-padding-free convention: a lone sample is
    its own approximation, detail 0).
    """
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400")
    daily = (
        ev.groupBy("event_type", day.alias("d"))
        .agg(
            (F.sum(_dec("value")).cast("double") / F.count("*")).alias("a")
        )
    )
    # re-index days densely per type so pairing is positional
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("d")
    cur = daily.withColumn("i", F.row_number().over(w) - 1).select(
        "event_type", "i", "a"
    )
    levels = []
    for lvl in (1, 2, 3):
        paired = cur.groupBy(
            "event_type", (F.col("i") / 2).cast("long").alias("i")
        ).agg(
            F.count("*").alias("np"),
            F.sum(F.when(F.col("i") % 2 == 0, F.col("a"))).alias("a0"),
            F.sum(F.when(F.col("i") % 2 == 1, F.col("a"))).alias("a1"),
        )
        nxt = paired.select(
            "event_type",
            "i",
            F.when(
                F.col("np") == 2, (F.col("a0") + F.col("a1")) / 2.0
            ).otherwise(F.col("a0")).alias("a"),
            F.when(
                F.col("np") == 2, (F.col("a0") - F.col("a1")) / 2.0
            ).otherwise(F.lit(0.0)).alias("dcoef"),
        ).localCheckpoint()  # consumed by the energy agg AND the next level
        levels.append(
            nxt.groupBy("event_type").agg(
                F.lit(lvl).alias("level"),
                F.count("*").alias("n_coeffs"),
                F.sum(
                    F.round(F.col("dcoef") * F.col("dcoef"), 9).cast("decimal(38,9)")
                ).alias("detail_energy_d"),
                F.sum(
                    F.round(F.col("a") * F.col("a"), 9).cast("decimal(38,9)")
                ).alias("approx_energy_d"),
            )
        )
        cur = nxt.select("event_type", "i", "a")
    out = levels[0].unionByName(levels[1]).unionByName(levels[2])
    return out.select(
        "event_type",
        "level",
        "n_coeffs",
        F.round(F.col("detail_energy_d").cast("double"), 6).alias("detail_energy"),
        F.round(F.col("approx_energy_d").cast("double"), 6).alias("approx_energy"),
    )


def customer_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store materialization (X146): one wide per-customer
    feature row assembled from independent source aggregates — the
    churn-model feature table every ML platform materializes nightly.
    Features: RFM raw metrics (recency days vs the broadcast anchor,
    order count, exact DECIMAL spend), order-value spread (max − min),
    average days between orders, account balance, market segment, and
    nation key.

    Shape: each feature family is ONE map-combined aggregate on the
    customer key; the final assembly is key-co-partitioned joins onto
    the customer dim (the orders aggregate reuses its o_custkey
    partitioning; dim attributes ride along) — no fact table is ever
    joined to another fact. Missing-order customers keep NULL order
    features via the left join (the feature-store convention).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    anchor = o.agg(F.max("o_orderdate").alias("__a"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    gaps = o.select(
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    )
    feats = (
        gaps.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("__a"), F.col("o_orderdate"))).alias(
                "recency_days"
            ),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
            (
                F.max(F.col("o_totalprice").cast("decimal(18,2)"))
                - F.min(F.col("o_totalprice").cast("decimal(18,2)"))
            ).cast("double").alias("spend_spread"),
            F.round(F.avg(F.col("gap_days").cast("double")), 6).alias(
                "avg_gap_days"
            ),
        )
    )
    return c.select(
        "c_custkey", "c_mktsegment", "c_nationkey", F.round("c_acctbal", 2).alias("acctbal")
    ).join(feats, F.col("c_custkey") == F.col("o_custkey"), "left").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        "acctbal",
        "recency_days",
        "n_orders",
        "total_spend",
        "spend_spread",
        "avg_gap_days",
    )


def orders_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-open-orders curve via a SWEEP LINE (X147): each order
    opens at its order date and closes at its latest line-item ship
    date; the curve of simultaneously-open orders per day is the classic
    interval-counting problem — solved as ±1 boundary events reduced to
    per-day deltas (one map-combined shuffle) and ONE running sum over
    the day-bounded delta table, never an interval join or a per-day
    re-scan.

    Output: per day with activity, opens, closes, and the running open
    count. The cumulative window runs over ≤ wall-clock-days rows —
    metadata-sized at any data scale; the reduction below it is the
    only fact-sized stage.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_date")
    )
    spans = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "inner").select(
        F.to_date("o_orderdate").alias("open_day"),
        F.to_date("close_date").alias("close_day"),
    )
    deltas = (
        spans.select(F.col("open_day").alias("day"), F.lit(1).alias("opens"),
                     F.lit(0).alias("closes"))
        .unionAll(
            # close takes effect the day AFTER the last shipment
            spans.select(F.date_add("close_day", 1).alias("day"),
                         F.lit(0).alias("opens"), F.lit(1).alias("closes"))
        )
        .groupBy("day")
        .agg(F.sum("opens").alias("opens"), F.sum("closes").alias("closes"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.withColumn(
        "open_orders", F.sum(F.col("opens") - F.col("closes")).over(w)
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "opens",
        "closes",
        "open_orders",
    )


def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order entropy rate of the event stream (X149): per source
    state, the Shannon entropy of its next-event distribution, plus each
    state's share-weighted contribution to the chain's entropy rate
    H = Σₛ p(s)·H(·|s) — "how predictable is the next user action",
    the information-theoretic summary on top of the X93 transition
    matrix.

    Shape: per-user successor pairs ride one lag window (events already
    cluster by user after the shuffle); everything after the (s, t)
    count aggregate operates on the |types|²-bounded cell table.
    Entropy terms round→DECIMAL for order-independent sums; probabilities
    divide exact integers in double.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    cells = pairs.groupBy("s", "t").agg(F.count("*").alias("c_st")).localCheckpoint()
    per_s = cells.groupBy("s").agg(F.sum("c_st").alias("c_s"))
    tot = per_s.agg(F.sum("c_s").alias("n"))
    j = cells.join(F.broadcast(per_s), "s")
    hterm = F.round(
        -(F.col("c_st") / F.col("c_s"))
        * F.log(F.col("c_st") / F.col("c_s")),
        9,
    ).cast("decimal(28,9)")
    hs = j.groupBy("s").agg(
        F.first("c_s").alias("n_transitions"),
        F.count("*").alias("n_successors"),
        F.sum(hterm).alias("h_d"),
    )
    return (
        hs.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("state"),
            "n_transitions",
            "n_successors",
            F.round(F.col("h_d").cast("double"), 6).alias("entropy_nats"),
            F.round(
                F.col("h_d").cast("double")
                * (F.col("n_transitions") / F.col("n").cast("double")),
                6,
            ).alias("rate_contribution"),
        )
    )


def parts_triangle_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle counting (X153, Tsourakakis et al. '09):
    keep each co-purchase edge with probability p = 1/2 via the shared
    deterministic md5 hash, run the SAME degree-oriented out-adjacency
    edge iteration as the exact ``parts_triangle_count`` on the
    sparsified graph, and correct the global count by p⁻³ = 8. The approx/exact pairing the
    suite already ships for distincts (HLL) and quantiles — at 100 TB
    graph scale the sparsified wedge join touches ~p² of the wedge
    volume (the dominant stage), for a 4× wedge reduction at p=1/2 with
    an unbiased global estimate.

    Deterministic sampling (md5, not rand()) makes the run reproducible
    AND exactly mirrorable in the DuckDB oracle — sample, sampled count,
    and estimate are hash-checked, not tolerance-checked.

    The sample filter sits BELOW the edge dedup: the per-(u,v) hash
    commutes with DISTINCT, so the sparsifier also halves the edge
    dedup's shuffle — the whole pipeline after the order self-join
    scales by p, not just the wedge stage. Measured same-process A/B at
    sf0.1: sample 7.8 s cold / 4.8 s warm vs exact 14.9 / 10.5 s
    (~2.2×), estimate 1,875,928 vs true 1,884,488 global triangles
    (0.45% error). The first cut reported the full edge count too,
    which forced an UNSAMPLED distinct and made the "sampled" plan
    slower than exact — the estimator needs no unsampled statistic, so
    nothing unsampled survives past the pair enumeration.
    """
    from etl_spark.operators.sketch import _hash52

    li = (
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
        # same one-scan/one-dedup materialization as parts_triangle_count
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    a, b = li.alias("a"), li.alias("b")
    # p = 1/2: keep pairs whose 52-bit edge hash is even, BEFORE dedup
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .filter(
            _hash52(
                F.concat(
                    F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
                )
            ) % 2 == 0
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
        # |V|-bounded, consumed by BOTH broadcast builds — aggregate once
        .localCheckpoint()
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    oriented = (
        edges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("u"),
            ).otherwise(F.col("v")).alias("src"),
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("v"),
            ).otherwise(F.col("u")).alias("dst"),
        )
        # consumed once (the adjacency fold below) — no cut needed
    )
    # same out-adjacency edge iteration as parts_triangle_count: the
    # sampled triangle count is the sum of per-edge sorted-out-list
    # intersections — no wedge materialization or shuffle. The edge
    # stream with out(s) attached comes from EXPLODING the adjacency
    # table (see parts_triangle_count): the src-side attach join and its
    # exchanges are gone; only the dst attach shuffles.
    outadj = oriented.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("out_")
    ).localCheckpoint()
    tri_n = (
        outadj.select(F.col("out_").alias("out_s"), F.explode("out_").alias("dst"))
        .join(
            outadj.select(F.col("src").alias("dst"), F.col("out_").alias("out_d")),
            "dst",
        )
        .select(F.size(F.array_intersect("out_s", "out_d")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
        or 0
    )
    n_kept = edges.count()
    return spark.createDataFrame(
        [(n_kept, tri_n, float(tri_n * 8))],
        "n_sampled_edges long, sampled_triangles long, est_triangles double",
    )


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths (X167): sessionize by the 30-minute
    inactivity gap (the same session definition as
    :func:`sessionize_events`), take each session's first 5 event types
    in (ts, event_id) order as a ``'>'``-joined path string, and report
    sessions / mean session length per path — the path-mining summary a
    product-analytics warehouse derives from its CDC event stream
    (reference surface: the events table this engine replicates; the
    path analysis itself is beyond-reference §2.13).

    Scale shape: ONE shuffle on user_id serves both the lag window and
    the session aggregation (same partitioning, no second exchange);
    the path string is built from a bounded 5-slot slice (collect_list
    within a session is bounded by session length — sessions are
    inactivity-gapped, not unbounded); the final per-path count is a
    map-combined agg on a low-cardinality key (paths over 5 event types
    = at most 5^5-ish live groups). No driver-side loops, no UDFs —
    array_sort/transform/slice are all codegen'd.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * NANOS_PER_SEC
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | ((F.col("ts") - F.col("prev_ts")) > gap_ns), 1
            ).otherwise(0),
        )
        .withColumn("session_idx", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs"),
        F.count("*").alias("n_events"),
    )
    paths = per_session.select(
        F.concat_ws(
            ">",
            F.slice(F.transform("evs", lambda s: s["event_type"]), 1, 5),
        ).alias("path"),
        "n_events",
    )
    return paths.groupBy("path").agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        F.max("n_events").alias("max_session_events"),
    )


def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of monthly order revenue (X168):
    trend = centered 13-month moving average (full windows only),
    seasonal index = mean detrended value per calendar month, residual =
    value − trend − seasonal. The classic decomposition every
    revenue-forecast dashboard draws, expressed entirely in window/agg
    algebra (no UDF, no driver loop).

    Scale shape: the heavy input (orders) collapses to ONE ROW PER MONTH
    in the first map-combined aggregate; everything after runs on the
    month series (dozens of rows at any corpus size), where the
    unpartitioned ORDER BY window is metadata-sized by construction —
    the same collapse-then-window shape as orders_backlog_curve. At
    100 TB the only volume-proportional stage is the first scan+agg.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp")).alias("month")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month").rowsBetween(-6, 6)
    trended = monthly.withColumn(
        "trend",
        F.when(F.count("*").over(w) == 13, F.avg("revenue").over(w)),
    ).withColumn("moy", F.month("month"))
    seasonal = trended.filter(F.col("trend").isNotNull()).groupBy("moy").agg(
        F.avg(F.col("revenue") - F.col("trend")).alias("seasonal")
    )
    out = trended.join(seasonal, "moy", "left")
    return out.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        F.round("revenue", 4).alias("revenue"),
        F.round("trend", 4).alias("trend"),
        F.round("seasonal", 4).alias("seasonal"),
        F.round(
            F.col("revenue") - F.col("trend") - F.col("seasonal"), 4
        ).alias("residual"),
    )


def lineitem_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality indices of supplier revenue concentration (X172,
    round 13): T = (1/N) Σ (x/μ)·ln(x/μ) and the mean-log-deviation
    L = (1/N) Σ ln(μ/x) over per-supplier discounted revenue — the
    decomposable complement to the Gini (customer_balance_gini) and HHI
    (supplier_share_hhi) audits a curation pipeline runs before trusting
    a source mix.

    Shape: one keyed map-combined shuffle (supplier revenue, exact
    decimal sums), then two scalar aggregates — the μ row broadcasts
    back. Per-supplier log terms are 9-dp-rounded into exact decimal
    sums (the docs_zipf_slope determinism discipline), so the oracle
    hash matches bit-for-bit at any partitioning. No window, no sort;
    cardinality after the first shuffle is |suppliers|.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)")
                                      - _dec("l_discount"))
    sup = li.groupBy("l_suppkey").agg(F.sum(disc).alias("rev"))
    stats = sup.agg(
        F.sum("rev").alias("total"),
        F.count("*").alias("n"),
    )
    j = sup.crossJoin(F.broadcast(stats))
    x = F.col("rev").cast("double")
    mu = F.col("total").cast("double") / F.col("n")
    r = x / mu
    t_term = F.round(r * F.log(r), 9).cast("decimal(38,9)")
    l_term = F.round(F.log(mu / x), 9).cast("decimal(38,9)")
    out = j.groupBy("n").agg(
        F.sum(t_term).alias("st"), F.sum(l_term).alias("sl"))
    return out.select(
        F.col("n").alias("n_suppliers"),
        F.round(F.col("st").cast("double") / F.col("n"), 6).alias("theil_t"),
        F.round(F.col("sl").cast("double") / F.col("n"), 6).alias("theil_l"),
    )


def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the sign of day-over-day revenue
    deltas (X173, round 13): too FEW runs = trending/regime drift, too
    MANY = oscillation — a distribution-free randomness audit on the
    order stream (complements events_changepoint/events_cusum_alerts).

    Shape: orders collapse to one row per order DATE in the first
    map-combined aggregate (exact decimal revenue); every window below
    runs on that metadata-sized daily series (~2.4k rows at ANY corpus
    size — same deliberate unpartitioned-window-on-collapsed-series
    design as orders_seasonal_decompose, plan-locked there). Zero
    deltas are excluded per the standard construction; the z-score uses
    the normal approximation E[R] = 2·n₊·n₋/n + 1.
    """
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderdate").agg(
        F.sum(_dec("o_totalprice")).alias("rev"))
    w = Window.orderBy("o_orderdate")
    delta = (F.col("rev") - F.lag("rev").over(w))
    signed = (daily.withColumn("delta", delta)
              .filter(F.col("delta").isNotNull() & (F.col("delta") != 0))
              .withColumn("sign", F.when(F.col("delta") > 0, 1).otherwise(-1)))
    w2 = Window.orderBy("o_orderdate")
    runs_flag = F.when(
        F.lag("sign").over(w2).isNull()
        | (F.col("sign") != F.lag("sign").over(w2)), 1).otherwise(0)
    flagged = signed.withColumn("new_run", runs_flag)
    agg = flagged.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("sign") == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("sign") == -1, 1).otherwise(0)).alias("n_neg"),
        F.sum("new_run").alias("runs"),
    )
    n, p, q_, r_ = (F.col("n").cast("double"), F.col("n_pos").cast("double"),
                    F.col("n_neg").cast("double"), F.col("runs").cast("double"))
    exp_r = 2.0 * p * q_ / n + 1.0
    var_r = (2.0 * p * q_ * (2.0 * p * q_ - n)) / (n * n * (n - 1.0))
    return agg.select(
        F.col("n").alias("n_deltas"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("runs").cast("long").alias("runs"),
        F.round(exp_r, 6).alias("expected_runs"),
        F.round((r_ - exp_r) / F.sqrt(var_r), 6).alias("z_score"),
    )


def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence, event_type × day-of-week
    (X176, round 13): the categorical-drift audit a curation pipeline
    runs before trusting a source mix — a large statistic means event
    composition depends on weekday (seasonality / logging skew), the
    categorical complement to events_ks_drift's continuous test.

    Shape: ONE map-combined keyed shuffle over the raw stream (the
    contingency cells); everything below — marginals, the full r×c grid
    (absent cells contribute their expected count, per the standard
    statistic), per-cell terms — runs on the metadata-sized cell table
    and broadcasts. Terms are 9-dp-rounded into exact decimal sums (the
    lineitem_theil_index determinism discipline), so the oracle hash
    matches at any partitioning.
    """
    ev = _t(spark, sf_dir, "events")
    # epoch-day arithmetic on the raw nanos long (epoch day 0 was a
    # Thursday → +4 lands Sunday on 0) — integer-exact on both engines
    # and pushdown-friendly, the events_hourly_rollup discipline.
    dow = (F.expr("ts div 1000000000 div 86400") + 4) % 7
    # the contingency table is metadata-sized and feeds FOUR branches
    # (marginals, totals, grid join) — checkpoint it so the raw stream
    # scans exactly once (the lineitem_spearman_correlations pattern).
    cells = (
        ev.groupBy("event_type", dow.alias("dow"))
        .agg(F.count("*").alias("obs"))
        .localCheckpoint(eager=False)
    )
    rows_m = cells.groupBy("event_type").agg(F.sum("obs").alias("row_n"))
    cols_m = cells.groupBy("dow").agg(F.sum("obs").alias("col_n"))
    tot = cells.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    grid = rows_m.crossJoin(F.broadcast(cols_m))
    j = (
        grid.join(cells, ["event_type", "dow"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    term = F.round(
        (F.col("obs") - exp) * (F.col("obs") - exp) / exp, 9
    ).cast("decimal(38,9)")
    out = j.groupBy("n", "r", "c").agg(F.sum(term).alias("chi2s"))
    return out.select(
        F.col("n").alias("n_events"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round(F.col("chi2s").cast("double"), 6).alias("chi2"),
    )


def orders_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (X177, round 13): do URGENT/HIGH
    priority orders draw from the same value distribution as the rest?
    The distribution-free two-sample complement to events_welch_ttest
    (which assumes normality); tie-corrected normal approximation.

    Scale shape: average ranks come from the same two-pass range-bucket
    scheme as orders_decile_bands / events_ks_drift — NEVER a global
    no-partition window over raw orders. Orders collapse to DISTINCT
    values first (one map-combined shuffle, exact per-group counts);
    distinct values range-bucket on a broadcast min/max, per-bucket
    totals give broadcast prefix offsets via a ≤KS_RANGE_BUCKETS-row
    window, and 2×avg-rank is exact integer arithmetic (bucket offset +
    within-bucket prefix + tied-count + 1, doubled to stay integral).
    Rank-sum and tie terms accumulate as decimal(38,0) — exact to
    n ≈ 10^12 rows — and only the final U/z division is floating.
    """
    B = KS_RANGE_BUCKETS
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("hi"),
    )
    # distinct-value collapse feeds THREE branches (min/max, bucket
    # totals, the ranked join) — checkpoint the collapsed table so raw
    # orders scans exactly once; materializing the collapse once beats
    # three full rescans at any corpus size.
    vals = (
        o.groupBy("v")
        .agg(
            F.sum("hi").alias("c1"),
            F.sum(F.lit(1) - F.col("hi")).alias("c2"),
        )
        .localCheckpoint(eager=False)
    )
    rng = vals.agg(F.min("v").alias("__lo"), F.max("v").alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    bkt = F.when(span == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(B - 1),
            F.floor((F.col("v") - F.col("__lo")) / (span / B)).cast("int"),
        )
    )
    bucketed = (
        vals.join(F.broadcast(rng), how="cross")
        .withColumn("__bkt", bkt)
        .drop("__lo", "__hi")
        .withColumn("t", F.col("c1") + F.col("c2"))
    )
    per_bucket = bucketed.groupBy("__bkt").agg(F.sum("t").alias("__c"))
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.withColumn(
        "__off", F.coalesce(F.sum("__c").over(wb), F.lit(0))
    )
    wv = (
        Window.partitionBy("__bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        bucketed.join(F.broadcast(offsets.select("__bkt", "__off")), "__bkt")
        .withColumn("__pre", F.coalesce(F.sum("t").over(wv), F.lit(0)))
        .withColumn(
            "r2",
            2 * (F.col("__off") + F.col("__pre")) + F.col("t") + 1,
        )
    )
    t_dec = F.col("t").cast("decimal(19,0)")
    agg = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            (F.col("c1").cast("decimal(19,0)") * F.col("r2")).cast(
                "decimal(38,0)"
            )
        ).alias("rs2"),
        F.sum((t_dec * t_dec * t_dec - t_dec).cast("decimal(38,0)")).alias(
            "ties"
        ),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = n1d + n2d
    u = (
        F.col("rs2").cast("double")
        - n1d * (n1d + 1.0)
    ) / 2.0
    mu = n1d * n2d / 2.0
    sig2 = (
        n1d * n2d / 12.0
        * ((nd + 1.0) - F.col("ties").cast("double") / (nd * (nd - 1.0)))
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_hi"),
        F.col("n2").cast("long").alias("n_lo"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - mu) / F.sqrt(sig2), 6).alias("z_score"),
    )


def lineitem_spearman_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlations between quantity / discount / tax
    (X178, round 13): Pearson on tied-average ranks — the monotone-
    association complement to lineitem_metric_correlations' Pearson
    (which a single heavy-tailed metric can dominate). Classic tied-rank
    construction: rank(v) = (count below v) + (tied count + 1)/2.

    Scale shape: lineitem collapses ONCE to the (quantity, discount,
    tax) contingency cells — a bounded-domain cube (≤ ~5k cells at any
    corpus size), localCheckpointed so the single scan serves all three
    pairs. Marginal 2×avg-ranks come from unpartitioned windows over the
    ≤50-row per-column value series (metadata-sized by construction,
    same adjudication as orders_runs_test); weighted rank sums
    accumulate as exact decimal(38,0) and only the final rho division is
    floating (double algebra identical on both engines).
    """
    li = _t(spark, sf_dir, "lineitem")
    cells3 = (
        li.groupBy("l_quantity", "l_discount", "l_tax")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )

    def rank2(col: str):
        m = cells3.groupBy(col).agg(F.sum("cnt").alias("t"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return m.withColumn(
            "r2_" + col,
            2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1,
        ).select(col, "r2_" + col)

    j = (
        cells3.join(F.broadcast(rank2("l_quantity")), "l_quantity")
        .join(F.broadcast(rank2("l_discount")), "l_discount")
        .join(F.broadcast(rank2("l_tax")), "l_tax")
    )

    def sums(x: str, y: str, tag: str):
        wd = F.col("cnt").cast("decimal(38,0)")
        rx, ry = F.col("r2_" + x).cast("decimal(19,0)"), F.col(
            "r2_" + y
        ).cast("decimal(19,0)")
        return [
            F.sum(wd * rx).alias(f"sx_{tag}"),
            F.sum(wd * ry).alias(f"sy_{tag}"),
            F.sum(wd * rx * ry).alias(f"sxy_{tag}"),
            F.sum(wd * rx * rx).alias(f"sx2_{tag}"),
            F.sum(wd * ry * ry).alias(f"sy2_{tag}"),
        ]

    agg = j.agg(
        F.sum("cnt").alias("n"),
        *sums("l_quantity", "l_discount", "qd"),
        *sums("l_quantity", "l_tax", "qt"),
        *sums("l_discount", "l_tax", "dt"),
    )

    def rho(tag: str):
        nd = F.col("n").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        sxy = F.col(f"sxy_{tag}").cast("double")
        sx2 = F.col(f"sx2_{tag}").cast("double")
        sy2 = F.col(f"sy2_{tag}").cast("double")
        return F.round(
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sx2 - sx * sx) * (nd * sy2 - sy * sy)),
            6,
        )

    return agg.select(
        F.col("n").cast("long").alias("n_rows"),
        rho("qd").alias("rho_qty_discount"),
        rho("qt").alias("rho_qty_tax"),
        rho("dt").alias("rho_discount_tax"),
    )


def events_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters via a Misra–Gries candidate pass (X179,
    round 13): which users exceed a 1/k share of the event stream?
    Two-phase: per-partition MG(k) summaries (Misra & Gries '82;
    mergeable decrement rule of Agarwal et al., "Mergeable Summaries",
    PODS '12) prune the key space, then an exact re-count of the ≤ k·P
    candidates. The MG superset guarantee (any key with global freq >
    n/(k+1) keeps a positive counter in ≥1 partition) makes the final
    freq·k > n filter EXACTLY the true heavy-hitter set — the sketch
    only prunes, never decides.

    Scale shape: the raw stream NEVER shuffles on the full key domain —
    phase 1 ships ≤ k rows per partition; phase 2 is a broadcast
    semi-join + map-combined count whose shuffle is partitions ×
    |candidates|. Contrast sketch_count_min_users (point estimates,
    collision-bounded): this form returns exact frequencies with a
    proof, at the cost of a second scan.
    """
    K = 128
    from etl_spark.operators.sketch import misra_gries_candidates

    ev = _t(spark, sf_dir, "events").select("user_id")
    cand = misra_gries_candidates(ev, "user_id", k=K).select(
        "user_id"
    ).distinct()
    tot = ev.agg(F.count("*").alias("n"))
    exact = ev.join(F.broadcast(cand), "user_id").groupBy("user_id").agg(
        F.count("*").alias("freq")
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("freq") * K > F.col("n"))
        .select(
            "user_id",
            "freq",
            F.round(
                F.col("freq").cast("double") / F.col("n"), 6
            ).alias("share"),
        )
    )


def lineitem_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between quantity and discount (X182, round 13):
    the concordance-based rank correlation beside Spearman (X178) —
    tau-b handles the heavy ties of bounded domains explicitly via the
    Kendall '45 tie-corrected denominator.

    Exactness: with the data collapsed to (quantity, discount) cells,
    concordant/discordant/tie counts are integer sums over ORDERED cell
    pairs — C = Σ w_i·w_j over pairs with both coordinates increasing,
    D = both opposing, ties from the marginals; tau_b =
    (C − D) / sqrt((n0 − n1)(n0 − n2)) with n0 = n(n−1)/2. Everything
    up to the final division is exact decimal.

    Scale shape: ONE map-combined scan collapses lineitem to the
    bounded contingency cube (≤ |quantities|·|discounts| ≈ 550 cells at
    ANY corpus size); the cell-pair "join" is a self-join of that
    metadata-sized table (≤ 550² ordered pairs — constant work);
    marginal tie terms are two tiny aggregates. Replication changes
    cell WEIGHTS only — the pair enumeration is corpus-size-invariant.
    """
    li = _t(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_quantity").alias("q"), F.col("l_discount").alias("d")
        )
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=False)
    )
    a = cells.select(
        F.col("q").alias("qa"), F.col("d").alias("da"), F.col("w").alias("wa")
    )
    b = cells.select(
        F.col("q").alias("qb"), F.col("d").alias("db"), F.col("w").alias("wb")
    )
    prod = (F.col("wa").cast("decimal(19,0)") * F.col("wb")).cast(
        "decimal(38,0)"
    )
    pairs = a.join(
        b,
        (F.col("qa") < F.col("qb"))
        & (F.col("da") != F.col("db")),  # q-ties and d-ties counted below
        "inner",
    )
    cd = pairs.agg(
        F.sum(
            F.when(F.col("da") < F.col("db"), prod).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("conc"),
        F.sum(
            F.when(F.col("da") > F.col("db"), prod).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("disc"),
    )
    # tie terms doubled to stay integral: 2·n1 = Σ t_q(t_q−1) over the
    # quantity marginals (t(t−1) is always even; the single /2 happens
    # in the final double algebra), 2·n2 likewise for discount
    def tie_term(col: str, alias: str):
        m = cells.groupBy(col).agg(F.sum("w").alias("t"))
        t = F.col("t").cast("decimal(19,0)")
        return m.agg(
            F.sum((t * (t - 1)).cast("decimal(38,0)")).alias(alias),
            F.sum(t).cast("decimal(19,0)").alias(alias + "_n"),
        )

    n1 = tie_term("q", "n1x2")
    n2 = tie_term("d", "n2x2")
    j = cd.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
    n = F.col("n1x2_n").cast("double")
    n0 = n * (n - 1.0) / 2.0
    num = F.col("conc").cast("double") - F.col("disc").cast("double")
    denom = F.sqrt(
        (n0 - F.col("n1x2").cast("double") / 2.0)
        * (n0 - F.col("n2x2").cast("double") / 2.0)
    )
    return j.select(
        F.col("n1x2_n").cast("long").alias("n_rows"),
        F.col("conc").cast("double").alias("concordant"),
        F.col("disc").cast("double").alias("discordant"),
        F.round(num / denom, 6).alias("tau_b"),
    )
