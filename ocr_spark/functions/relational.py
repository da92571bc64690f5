"""Relational analytics layer (SURVEY.md §2.8): the standard operator
categories — scan, filter/project, equi-join (broadcast + shuffle),
hash-aggregate, window, sort — expressed declaratively so Catalyst supplies
pushdown, pruning, join reordering and AQE for free.

Money math discipline: parquet doubles are cast to DECIMAL(18,2) *before*
arithmetic/summation (exact, order-independent), and final aggregates are
cast back to DOUBLE (a single deterministic conversion) so results are
bit-identical to the DuckDB oracle regardless of partial-aggregation order.

Join strategy notes (100 TB): nation/region/customer-sized dims are
broadcast (`F.broadcast`); lineitem-orders is a shuffle join on the natural
key with AQE skew-join as backstop; every query prunes columns at the scan
(explicit .select before join) so parquet ReadSchema stays minimal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_DEC = "decimal(18,2)"

# The TPC-H substitution parameters of the queries below; the DuckDB twins
# in __spark_entry__ read these constants.
Q1_SHIP_CUTOFF = "2000-12-01"
Q3_SEGMENT = "BUILDING"
Q5_REGION = "ASIA"
TOP_PARTS_K = 3


def net_revenue() -> Column:
    """A lineitem's revenue after discount, exact in the money type."""
    price = F.col("l_extendedprice").cast(_DEC)
    return price * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + hash-agg with exact decimal sums."""
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(Q1_SHIP_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(net_revenue()).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


def order_revenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3 shape: broadcast dim filter + two shuffle joins + hash-agg."""
    cust = customer.where(F.col("c_mktsegment") == Q3_SEGMENT).select("c_custkey")
    ords = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    li = lineitem.select(
        "l_orderkey",
        net_revenue().alias("rev"),
    )
    return (
        ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .join(li, ords.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum("rev").cast("double").alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )


def nation_volume(region: DataFrame, nation: DataFrame, customer: DataFrame,
                  orders: DataFrame, lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q5 shape: star join through 6 tables, local-supplier condition
    (supplier nation == customer nation), revenue per nation."""
    r = region.where(F.col("r_name") == Q5_REGION).select("r_regionkey")
    n = nation.join(F.broadcast(r), nation.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c = customer.select("c_custkey", "c_nationkey")
    s = supplier.select("s_suppkey", "s_nationkey")
    o = orders.select("o_orderkey", "o_custkey")
    li = lineitem.select(
        "l_orderkey", "l_suppkey",
        net_revenue().alias("rev"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev").cast("double").alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )


def segment_totals(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Broadcast-dim join + agg: order volume per market segment."""
    c = customer.select("c_custkey", "c_mktsegment")
    o = orders.select("o_custkey", F.col("o_totalprice").cast(_DEC).alias("tp"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
             F.sum("tp").cast("double").alias("sum_totalprice"))
    )


def top_parts_per_group(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Partitioned top-k: the TOP_PARTS_K highest-revenue parts within each
    part type. The rank window partitions on ``p_type``, so ranking runs
    distributed — every group sorts inside its own partition of the window
    exchange; contrast events.top_users, where a GLOBAL rank must instead
    be expressed as TakeOrdered to avoid a single-partition sort. Ties
    break on p_partkey for determinism."""
    from pyspark.sql import Window

    p = part.select("p_partkey", "p_type")
    li = lineitem.select(
        "l_partkey",
        net_revenue().alias("rev"),
    )
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type", "p_partkey")
        .agg(F.sum("rev").cast("double").alias("revenue"))
    )
    w = Window.partitionBy("p_type").orderBy(
        F.desc("revenue"), F.asc("p_partkey")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= TOP_PARTS_K)
    )


def brand_volume(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """lineitem x part: quantity and revenue per brand."""
    p = part.select("p_partkey", "p_brand")
    li = lineitem.select(
        "l_partkey",
        F.col("l_quantity").cast(_DEC).alias("qty"),
        net_revenue().alias("rev"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum("qty").cast("double").alias("sum_qty"),
             F.sum("rev").cast("double").alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )
