"""Relational coverage: TPC-H-style scan/filter/join/agg/sort/limit queries.

These cover the generic OLAP surface (SURVEY.md §2.1 scans, §2.4 joins,
§2.5 aggregations, §2.7 sort/limit) on the star-schema testdata. Money
sums go through exact decimal casts (order-independent; 2-4 decimal
source values make the casts boundary-safe).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import t, t_fanout

_DEC = "decimal(24,6)"


def _disc_price():
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


# --- Q1: pricing summary (grouped multi-agg) --------------------------------
def q1_pricing_summary(spark, sf_dir):
    # q1 is a pure partial-agg scan: all its work happens BEFORE the first
    # exchange, so a single-row-group bench file serializes it (common.py
    # t_fanout note) — the fan-out parallelizes the decimal partial sums
    li = t_fanout(spark, sf_dir, "lineitem")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast(_DEC)
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(_DEC)).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(_disc_price()).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  round(cast(sum(cast(l_quantity as decimal(24,6))) as double), 2) AS sum_qty,
  round(cast(sum(cast(l_extendedprice as decimal(24,6))) as double), 2) AS sum_base_price,
  round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(24,6))) as double), 2) AS sum_disc_price,
  round(cast(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) as decimal(24,6))) as double), 2) AS sum_charge,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3: shipping priority (3-way join + top-N) ------------------------------
def q3_top_orders(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_disc_price()).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(24,6))) as double), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp '1998-01-01'
  AND l_shipdate > timestamp '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- Q5: local supplier volume (6-way join, partition-pruned dims) -----------
def q5_region_revenue(spark, sf_dir):
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(dims, F.col("s_nationkey") == dims.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_disc_price()).cast("double"), 2).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(24,6))) as double), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
  AND o_orderdate >= timestamp '1996-01-01' AND o_orderdate < timestamp '1998-01-01'
GROUP BY n_name
"""


# --- A4 baseline-stats analog: per-group coverage/span ------------------------
# ref: /root/reference/tools/compute_baseline.py:31-76
def a4_order_baseline_stats(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.expr("timestampdiff(DAY, min(o_orderdate), max(o_orderdate))").alias(
            "span_days"
        ),
        F.round(F.sum(F.col("o_totalprice").cast(_DEC)).cast("double"), 2).alias(
            "sum_totalprice"
        ),
    )


A4_SQL = """
SELECT o_orderstatus, count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
       date_diff('day', min(o_orderdate), max(o_orderdate)) AS span_days,
       round(cast(sum(cast(o_totalprice as decimal(24,6))) as double), 2) AS sum_totalprice
FROM orders GROUP BY o_orderstatus
"""


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_orders": (q3_top_orders, Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "a4_order_baseline_stats": (a4_order_baseline_stats, A4_SQL),
}
