"""Deep TPC-H-shaped coverage: q2/q7/q8/q9/q11/q13/q15/q17/q20/q21
adapted to the fixture schema (FIXTURES.md has no partsupp, commitdate,
receiptdate, container or mfgr — cost/stock/lateness predicates are
remapped onto existing columns) while preserving each query's PLAN SHAPE:
multi-way star joins with two nation roles (q7/q8), correlated min
subquery (q2), left-outer count distribution (q13), scalar-max subquery
(q15), correlated-average filter (q17), nested semi-join chain (q20),
multi-EXISTS self-join (q21), and global-fraction HAVING (q11). Those
shapes — not the TPC-H constants — are what a 100 TB engine must plan
well: small dims broadcast, fact-fact self-joins become per-key
aggregations instead of correlated row lookups.

Reference parity note: the reference (etl_benchmark.py) has no joins at
all (SURVEY.md §2.2) — this module is engine-completeness surface, with
money arithmetic following the exact-decimal rules in relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .relational import _REV, _davg, _dsum, _money, _revenue


def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two nation ROLES (supplier's vs customer's) from one dim
    table — nation joined twice under different aliases, symmetric pair
    predicate, revenue per (supp_nation, cust_nation, ship-year). Both
    nation joins broadcast; the only shuffle is the final group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(_dsum(_revenue()).alias("revenue"))
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: national market share — conditional share of a decimal
    revenue sum per year, customers restricted to one REGION (region ->
    nation -> customer chain), parts restricted by type. Ratio of two
    exact decimal sums cast to double (q14 determinism pattern)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cnat = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select(F.col("n_nationkey").alias("c_nkey"))
    snat = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    rev = _revenue()
    national = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
        F.lit(0).cast("decimal(19,4)")
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), F.col("c_nationkey") == F.col("c_nkey"), "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(national).cast("double") / F.sum(rev).cast("double")).alias("mkt_share")
        )
    )


def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per (supplier-nation, year) over a name-LIKE part
    filter. No partsupp in fixtures, so supply cost is proxied by
    p_retailprice: amount = rev - l_quantity * p_retailprice (all exact
    decimals, scale 4 — sum-then-cast is deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    amount = _revenue() - _money("l_quantity") * _money("p_retailprice")
    return (
        li.join(F.broadcast(part.filter(F.col("p_name").like("%red%"))),
                li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(_dsum(amount).alias("sum_profit"))
    )


def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-key value vs a GLOBAL-fraction threshold (scalar
    subquery): parts whose revenue exceeds 0.1% of total revenue shipped
    by suppliers of one region. The total is a second aggregation over
    the same filtered frame, broadcast as a 1-row cross join."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    eu = nation.filter(F.col("n_regionkey") == 3).select(
        F.col("n_nationkey").alias("s_nkey")
    )
    base = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(eu), F.col("s_nationkey") == F.col("s_nkey"), "left_semi")
    )
    value = base.groupBy("l_partkey").agg(_dsum(_money("l_extendedprice")).alias("value"))
    total = base.agg((F.sum(_money("l_extendedprice")).cast("double") * 0.001).alias("thr"))
    return (
        value.join(F.broadcast(total))
        .filter(F.col("value") > F.col("thr"))
        .select("l_partkey", "value")
    )


def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: customer order-count DISTRIBUTION — left outer join
    (customers with zero qualifying orders must survive with count 0),
    then a second aggregation over the first's result. Two shuffles by
    design; the first keys on c_custkey (high cardinality, well spread)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: scalar-MAX subquery — supplier(s) whose revenue over a
    ship-date window equals the maximum such revenue. Revenue is an exact
    decimal sum cast to double, so the equality join is deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        _dsum(_revenue()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated per-key average — lines of one brand whose
    quantity is below 20% of that PART's average quantity; avg weekly
    revenue they represent. The correlated subquery becomes a per-part
    aggregation joined back to the fact (two passes over the filtered
    fact, no row-at-a-time correlation). _davg (exact-sum/count) keeps
    the 0.2*avg threshold bit-identical across engines."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        _davg(_money("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(_money("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


def q_tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested semi-join chain — suppliers (in one region) who
    shipped more than a threshold quantity of any name-filtered part.
    partsupp's availqty is proxied by the shipped-quantity aggregate per
    (supplier, part). Each level reduces before joining: part filter ->
    per-(supp,part) agg -> HAVING -> distinct suppliers -> semi-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(_dsum(_money("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 40)
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return (
        supp.join(shipped, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: multi-EXISTS self-join — suppliers who were the SOLE
    late shipper on a multi-supplier finalized order. Lateness (no
    commit/receipt dates in fixtures) = shipped > 60 days after the order
    date. The correlated EXISTS / NOT EXISTS pair over lineitem is
    rewritten as ONE per-order aggregation (distinct suppliers vs
    distinct late suppliers) — a single shuffle on l_orderkey instead of
    two correlated fact-fact joins; the oracle states the EXISTS form and
    proves the rewrite equivalent."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast(
            "int"
        ),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    culprits = (
        lo.filter(F.col("late") == 1)
        .join(
            F.broadcast(per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))),
            "l_orderkey",
            "left_semi",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        culprits.join(F.broadcast(supp), culprits.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated MIN subquery — for each part of one size,
    the supplier(s) offering the minimum unit price. partsupp's
    supplycost is proxied by the observed unit price l_extendedprice /
    l_quantity (IEEE double division — bit-identical across engines, so
    the min-equality join is deterministic). The correlated subquery is
    a per-part min joined back — no row-at-a-time correlation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 5)
    supp = load_table(spark, sf_dir, "supplier")
    offers = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    mins = offers.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_price").alias("min_price")
    )
    return (
        offers.join(
            F.broadcast(mins),
            (offers.l_partkey == mins.m_partkey)
            & (offers.unit_price == mins.min_price),
        )
        .join(F.broadcast(supp), offers.l_suppkey == supp.s_suppkey)
        .select("l_partkey", "s_suppkey", "s_name", "min_price")
        .distinct()
    )


QUERIES = {
    "tpch_q2_min_cost_supplier": q_tpch_q2_min_cost_supplier,
    "tpch_q7_volume_shipping": q_tpch_q7_volume_shipping,
    "tpch_q8_market_share": q_tpch_q8_market_share,
    "tpch_q9_product_profit": q_tpch_q9_product_profit,
    "tpch_q11_important_stock": q_tpch_q11_important_stock,
    "tpch_q13_custdist": q_tpch_q13_custdist,
    "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
    "tpch_q17_small_quantity": q_tpch_q17_small_quantity,
    "tpch_q20_excess_suppliers": q_tpch_q20_excess_suppliers,
    "tpch_q21_waiting_suppliers": q_tpch_q21_waiting_suppliers,
}

ORACLES = {
    "tpch_q2_min_cost_supplier": """
WITH offers AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 5
)
SELECT DISTINCT o.l_partkey, s_suppkey, s_name, o.unit_price AS min_price
FROM offers o JOIN supplier ON o.l_suppkey = s_suppkey
WHERE o.unit_price = (SELECT min(unit_price) FROM offers i
                      WHERE i.l_partkey = o.l_partkey)
""",
    "tpch_q7_volume_shipping": f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year,
  CAST(sum({_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
""",
    "tpch_q8_market_share": f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(sum(CASE WHEN n2.n_name = 'NATION_3' THEN {_REV}
                ELSE CAST(0 AS DECIMAL(19,4)) END) AS DOUBLE)
  / CAST(sum({_REV}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY year(o_orderdate)
""",
    "tpch_q9_product_profit": f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(sum({_REV} - CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
""",
    "tpch_q11_important_stock": """
WITH base AS (
  SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(12,2)) AS price
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 3)
)
SELECT l_partkey, CAST(sum(price) AS DOUBLE) AS value
FROM base
GROUP BY l_partkey
HAVING CAST(sum(price) AS DOUBLE) >
  (SELECT CAST(sum(price) AS DOUBLE) * 0.001 FROM base)
""",
    "tpch_q13_custdist": """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
""",
    "tpch_q15_top_supplier": f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_REV}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
    "tpch_q17_small_quantity": """
WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#5')
), avg_qty AS (
  SELECT l_partkey AS a_partkey,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty
  FROM li GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM li JOIN avg_qty ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * avg_qty
""",
    "tpch_q20_excess_suppliers": """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    GROUP BY l_suppkey, l_partkey
    HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 40
  )
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
""",
    "tpch_q21_waiting_suppliers": """
SELECT s_name, count(*) AS numwait
FROM (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM lineitem l1
  JOIN orders ON l1.l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
) culprits
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""
}
