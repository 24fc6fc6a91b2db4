"""Relational operator suite — filters, projections, joins (broadcast /
sort-merge / semi / anti), aggregations (hash, rollup/cube), windows,
sorts/top-k, set ops, string/date/json scalar functions.

The reference has none of these (SURVEY.md §2.2 — verified absent); they
are required for engine completeness and are pure built-in DataFrame ops,
so Catalyst provides pushdown/pruning/join-selection for free.

Scale notes (100 TB):
- Dimension tables (region/nation/customer/supplier/part) are broadcast
  (`F.broadcast`) — fact-table joins become map-side, zero shuffle of the
  big side. On a real cluster `spark.sql.autoBroadcastJoinThreshold` +
  AQE make this automatic; we hint explicitly to pin the plan.
- Aggregations rely on partial (map-side) aggregation — Catalyst emits
  HashAggregate(partial) -> Exchange -> HashAggregate(final), so the
  shuffle carries one row per (group × partition), not the raw table.
- Money aggregates run in exact DECIMAL (see the block comment below) so
  Spark and the DuckDB oracle agree bit-for-bit regardless of partial-
  aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events, load_table


# Money arithmetic runs in DECIMAL, not DOUBLE: double partial-aggregation
# order differs between Spark executors and DuckDB's sequential scan, so
# double sums differ in final ulps and round() can flip across a .xx5
# boundary (observed: 3/1180 rows at sf0.01). Quantizing inputs to decimal
# makes every sum EXACT and engine-independent; the final CAST(.. AS
# DOUBLE) of an exact decimal is deterministic on both sides. Scales are
# sized so no intermediate exceeds precision 38 (no silent precision loss).
# All fixture numerics are exactly 2-decimal (verified: x == round(x, 2)
# for every money/fraction column at sf0.1), so these quantizations are
# LOSSLESS and every downstream product/sum is an exact decimal whose
# scaled integer stays < 2^53 — the direct CAST(sum AS DOUBLE) is then a
# single correctly-rounded conversion, identical in Spark and DuckDB.
_MONEY = "decimal(12,2)"   # prices/balances, |v| < 1e10
_FRAC = "decimal(6,2)"     # discounts/taxes in [0,1], 2dp in the data


def _money(c: str):
    return F.col(c).cast(_MONEY)


def _frac(c: str):
    return F.col(c).cast(_FRAC)


def _dsum(expr) -> F.Column:
    """Exact decimal sum cast to double. Keep the summed expression's
    scale <= 6 so the scaled integer stays below 2^53: above that,
    DuckDB's int128->double->divide conversion double-rounds and drifts an
    ulp from Spark's correctly-rounded BigDecimal conversion."""
    return F.sum(expr).cast("double")


def _davg(expr, count_expr=None) -> F.Column:
    """Exact-sum / count in double — bit-identical across engines (unlike
    native avg, whose accumulation order is engine-specific)."""
    n = count_expr if count_expr is not None else F.count("*")
    return F.sum(expr).cast("double") / n


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics (adapted to the fixture schema, FIXTURES.md)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: filter -> groupBy(2) -> 8 aggregates.

    Plan shape to preserve at scale: Scan(pushed filter on l_shipdate,
    pruned columns) -> partial HashAggregate -> single small shuffle ->
    final HashAggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(1,0)")
    # (12,2)×(7,2) has true scale 4 — the cast to (18,4) is LOSSLESS and
    # keeps the next product (× (1+tax), scale 6) well under Spark's
    # decimal precision cap of 38, so no silent scale reduction occurs.
    disc_price = (_money("l_extendedprice") * (one - _frac("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_money("l_quantity")).alias("sum_qty"),
            _dsum(_money("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(disc_price * (one + _frac("l_tax"))).alias("sum_charge"),
            _davg(_money("l_quantity")).alias("avg_qty"),
            _davg(_money("l_extendedprice")).alias("avg_price"),
            _davg(_frac("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: broadcast(customer-filter) ⋈ orders ⋈ lineitem.

    customer is a dimension — broadcast it so the orders/lineitem join is
    the only shuffle; at 100 TB that one join co-partitions on
    o_orderkey/l_orderkey (or is bucket-colocated if both sides are
    bucketed by orderkey at write time)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(_money("l_extendedprice") * (1 - _frac("l_discount"))).alias(
                "revenue"
            )
        )
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume: 6-table join; every dimension broadcast, the
    lineitem⋈orders equi-join is the single big shuffle."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            _dsum(_money("l_extendedprice") * (1 - _frac("l_discount"))).alias(
                "revenue"
            )
        )
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue: pure scan-filter-agg — pushdown showcase. The
    three predicates reach the parquet reader (PushedFilters) and only
    two columns are read (ReadSchema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(_money("l_extendedprice") * _frac("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Windows / top-k / sorts
# ---------------------------------------------------------------------------

def q_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per customer segment — windowed top-k.
    Partitioned window (shuffle on segment) — scales; ties broken by
    o_orderkey for determinism."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rank_in_seg", F.row_number().over(w).cast("int"))
        .filter(F.col("rank_in_seg") <= 3)
        .select("c_mktsegment", "rank_in_seg", "o_orderkey", "o_totalprice")
    )


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total (rows-unbounded-preceding frame)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_money("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------

def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(l_returnflag, l_linestatus) — hierarchical grand totals."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        _dsum(_money("l_extendedprice")).alias("sum_price"),
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(o_orderstatus, o_orderpriority) — all grouping-set combos."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _dsum(_money("o_totalprice")).alias("sum_price"),
    )


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment descriptive stats incl. exact count-distinct."""
    cust = load_table(spark, sf_dir, "customer")
    bal = _money("c_acctbal")
    n = F.count("*")
    s1 = F.sum(bal).cast("double")
    s2 = F.sum(bal * bal).cast("double")
    # stddev from EXACT decimal sums (sqrt((s2 - s1^2/n)/(n-1))): native
    # stddev_samp accumulates in engine-specific order; this formula is a
    # pure function of exact sums, so it is bit-identical across engines.
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return cust.groupBy("c_mktsegment").agg(
        n.alias("n_cust"),
        (s1 / n).alias("avg_bal"),
        F.sqrt(var).alias("sd_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct (sketch — rows-only check; the 100 TB way
    to count uniques without a giant exact-distinct shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Set ops + semi/anti joins
# ---------------------------------------------------------------------------

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(high-balance ∪ building) ∖ (customers with >5 orders): UNION +
    EXCEPT with distinct set semantics."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    high = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    busy = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 5)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    # SQL EXCEPT is set-semantics: dedupe the union, then subtract (not
    # exceptAll, which is bag-semantics and only removes one dup each).
    return high.union(building).distinct().subtract(busy)


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join union: customers WITH orders tagged 1, customers
    WITHOUT orders tagged 0 (left_semi / left_anti showcase)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    with_orders = (
        cust.join(orders, "c_custkey", "left_semi")
        .select("c_custkey")
        .withColumn("has_orders", F.lit(1))
    )
    without = (
        cust.join(orders, "c_custkey", "left_anti")
        .select("c_custkey")
        .withColumn("has_orders", F.lit(0))
    )
    return with_orders.union(without)


# ---------------------------------------------------------------------------
# Scalar function families (string / date / json)
# ---------------------------------------------------------------------------

def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions over part: case, substring, split, concat,
    regexp_extract, length."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.substring(F.col("p_name"), 1, 4).alias("name_prefix"),
        F.length(F.col("p_name")).cast("int").alias("name_len"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.regexp_extract(F.col("p_brand"), r"#(\d+)", 1).cast("int").alias("brand_num"),
    )


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions over orders: truncation, parts, monthly agg."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            F.col("o_totalprice"),
        )
        .groupBy("month_start", "yr", "mo")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(_money("o_totalprice")).alias("sum_price"),
        )
    )


def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction (events.props = '{"k": N}') + aggregate
    per event_type."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def q_filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal filter+project: the canonical pushdown check (plan must show
    PushedFilters + 3-column ReadSchema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_discount") > 0.08).select(
        "l_orderkey", "l_linenumber", "l_discount"
    )


QUERIES = {
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "top_k_per_group": q_top_k_per_group,
    "window_running_sum": q_window_running_sum,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "agg_stats": q_agg_stats,
    "agg_approx_distinct": q_agg_approx_distinct,
    "set_ops": q_set_ops,
    "join_semi_anti": q_join_semi_anti,
    "string_funcs": q_string_funcs,
    "date_funcs": q_date_funcs,
    "json_extract_events": q_json_extract_events,
    "filter_project_pushdown": q_filter_project_pushdown,
}

ORACLES = {
    "tpch_q1": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(6,2)))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_q3": """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
""",
    "tpch_q5": """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
    "tpch_q6": """
SELECT
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24
""",
    "top_k_per_group": """
SELECT c_mktsegment, rank_in_seg, o_orderkey, o_totalprice
FROM (
  SELECT c_mktsegment,
    CAST(row_number() OVER (
      PARTITION BY c_mktsegment
      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank_in_seg,
    o_orderkey, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank_in_seg <= 3
""",
    "window_running_sum": """
SELECT o_custkey, o_orderkey,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
""",
    "agg_rollup": """
SELECT l_returnflag, l_linestatus,
  count(*) AS n_rows,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    "agg_cube": """
SELECT o_orderstatus, o_orderpriority,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    "agg_stats": """
SELECT c_mktsegment,
  count(*) AS n_cust,
  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_bal,
  sqrt((CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        - CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) * CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*))
       / (count(*) - 1)) AS sd_bal,
  min(c_acctbal) AS min_bal,
  max(c_acctbal) AS max_bal,
  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer
GROUP BY c_mktsegment
""",
    "set_ops": """
SELECT c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  UNION
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
GROUP BY o_custkey HAVING count(*) > 5
""",
    "join_semi_anti": """
SELECT c_custkey, 1 AS has_orders FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 0 AS has_orders FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
    "string_funcs": """
SELECT p_partkey,
  upper(p_name) AS name_upper,
  substring(p_name, 1, 4) AS name_prefix,
  CAST(length(p_name) AS INTEGER) AS name_len,
  string_split(p_name, ' ')[1] AS first_word,
  concat_ws('/', p_brand, p_type) AS brand_type,
  CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER) AS brand_num
FROM part
""",
    "date_funcs": """
SELECT date_trunc('month', o_orderdate) AS month_start,
  CAST(year(o_orderdate) AS INTEGER) AS yr,
  CAST(month(o_orderdate) AS INTEGER) AS mo,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY 1, 2, 3
""",
    "json_extract_events": """
SELECT event_type,
  count(*) AS n_events,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k
FROM events
GROUP BY event_type
""",
    "filter_project_pushdown": """
SELECT l_orderkey, l_linenumber, l_discount
FROM lineitem WHERE l_discount > 0.08
""",
}
