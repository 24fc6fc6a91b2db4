"""Additional TPC-H-shaped query coverage (q4/q10/q12/q14/q16/q18/q19/q22
adapted to the fixture schema — FIXTURES.md lacks shipmode/commitdate/
phone, so predicates are remapped to existing columns while preserving
each query's SHAPE: the plan patterns (semi-join EXISTS, group-having,
conditional aggregation, disjunctive pushdown, anti-join + scalar
subquery) are what the engine must handle at scale, not the TPC-H
constants).

Money arithmetic follows the exact-decimal rules in relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .relational import _dsum, _frac, _money


def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS semi-join (orders having any line shipped after
    the order date) -> priority histogram."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returns per customer (returnflag=R),
    4-way join, top-20 by revenue (deterministic tiebreak)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(_money("l_extendedprice") * (1 - _frac("l_discount"))).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


def q_tpch_q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional CASE aggregation — high/low-priority order
    counts per line status (shipmode remapped to l_linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .filter(F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional-revenue ratio (PROMO parts share). The
    ratio divides two exact decimal sums cast to double — deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _money("l_extendedprice") * (1 - _frac("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(19,4)"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    return joined.agg(
        (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double")).alias(
            "promo_revenue_pct"
        )
    )


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part attribute with a
    NOT-IN exclusion (brand exclusion stands in for the psupp complaint
    filter)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part.filter(F.col("p_brand") != "Brand#1")),
                li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: group-HAVING on the fact table (orders whose total
    quantity exceeds a threshold) joined back to customer + order."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(_money("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 120)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs predicate (brand x size-range x qty-range
    alternatives) — exercises disjunctive filter pushdown + join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 35)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 50)))
    )
    return j.filter(cond).agg(
        _dsum(_money("l_extendedprice") * (1 - _frac("l_discount"))).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def q_tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: anti-join + scalar subquery — above-average-balance
    customers with no URGENT orders, grouped by nation (plain "no orders"
    is empty at sf0.01 — every high-balance customer has orders)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_money("c_acctbal")).cast("double") / F.count("*")).alias("a")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    idle = rich.join(urgent, "c_custkey", "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        _dsum(_money("c_acctbal")).alias("totacctbal"),
    )


_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))"

QUERIES = {
    "tpch_q4_order_priority": q_tpch_q4_order_priority,
    "tpch_q10_returned_items": q_tpch_q10_returned_items,
    "tpch_q12_priority_by_status": q_tpch_q12_priority_by_status,
    "tpch_q14_promo_revenue": q_tpch_q14_promo_revenue,
    "tpch_q16_supplier_cnt": q_tpch_q16_supplier_cnt,
    "tpch_q18_large_orders": q_tpch_q18_large_orders,
    "tpch_q19_disjunctive": q_tpch_q19_disjunctive,
    "tpch_q22_idle_customers": q_tpch_q22_idle_customers,
}

ORACLES = {
    "tpch_q4_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1997-06-01')
GROUP BY o_orderpriority
""",
    "tpch_q10_returned_items": f"""
SELECT c_custkey, c_name, n_name,
  CAST(sum({_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    "tpch_q12_priority_by_status": """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
""",
    "tpch_q14_promo_revenue": f"""
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV}
                             ELSE CAST(0 AS DECIMAL(19,4)) END) AS DOUBLE)
       / CAST(sum({_REV}) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
""",
    "tpch_q16_supplier_cnt": """
SELECT p_brand, p_type, p_size,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#1'
GROUP BY p_brand, p_type, p_size
""",
    "tpch_q18_large_orders": """
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 120
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
    "tpch_q19_disjunctive": f"""
SELECT CAST(sum({_REV}) AS DOUBLE) AS revenue, count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
""",
    "tpch_q22_idle_customers": """
WITH a AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, count(*) AS numcust,
  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer, a
WHERE c_acctbal > a.a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
""",
}
