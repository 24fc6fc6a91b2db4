"""Extended relational coverage (SURVEY.md §2.2 checklist breadth):
full window-function family, pivot/unpivot, grouping sets, EXISTS/IN
subqueries, math/array/null-handling scalar suites, global top-n.

All are built-in DataFrame/SQL constructs — Catalyst plans them with the
same partial-agg/broadcast/pushdown machinery as the core suite; nothing
here adds a new shuffle shape beyond grouped windows (partitioned, never
global except where the semantics demand a single total order and the
result is LIMIT-bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table


def q_window_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/rank/dense_rank/percent_rank/cume_dist/first/last over a
    deterministic per-customer order (ties broken by o_orderkey)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.first("o_orderkey").over(wf).alias("first_order"),
        F.last("o_orderkey").over(wf).alias("last_order"),
    )


def q_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status (O/F/P) into columns per priority."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


def q_stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via df.stat.crosstab — the DataFrameStatFunctions
    surface. One shuffle on the pair key then a tiny pivot; the oracle is
    the equivalent FILTERed count matrix (column names must match
    crosstab's `value`-named output exactly, including the space in
    '4-NOT SPECIFIED')."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.stat.crosstab("o_orderstatus", "o_orderpriority")


def q_stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via df.stat.freqItems (Karp-Shenker-Papadimitriou
    single-pass counters — the streaming-friendly sketch for "what are
    the frequent values" over a column you can't groupBy-count at 100 TB
    without a full shuffle). Approximate by contract (may include false
    positives, never false negatives above the support threshold) ->
    rows-only gate; the no-false-negative guarantee is pinned by
    tests/test_properties.py.

    freqItems returns ARRAY columns; external harnesses canonicalize by
    sorting pandas values, and Python lists are unhashable there — so the
    query surface emits each item set as one deterministic scalar string
    (``array_join(array_sort(...))``), which is also the right wire shape
    for a 100 TB sketch result (one tiny row, no nested types)."""
    orders = load_table(spark, sf_dir, "orders")
    freq = orders.stat.freqItems(["o_orderpriority", "o_orderstatus"], support=0.2)
    return freq.select(
        F.array_join(F.array_sort("o_orderpriority_freqItems"), ",").alias(
            "priority_freq_items"
        ),
        F.array_join(F.array_sort("o_orderstatus_freqItems"), ",").alias(
            "status_freq_items"
        ),
    )


def q_lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode: tokens WITH their position — the
    table-generating-function surface with ordinality (explode alone
    loses position; builds positional inverted indexes / n-gram offset
    tables). Map-side row expansion, no shuffle."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("v_docs")
    return spark.sql(
        """
        SELECT doc_id, CAST(pos AS INT) AS pos, tok
        FROM v_docs
        LATERAL VIEW posexplode(split(lower(trim(text)), ' ')) t AS pos, tok
        WHERE doc_id < 100
        """
    )


def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the four measures into (key, measure, value) rows
    via stack — the inverse of pivot; per-measure global stats after."""
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount, 'tax', l_tax) AS (measure, value)"
        ),
    )
    return melted.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than cube/rollup) via SQL —
    the SQL API surface of the engine."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + scalar subquery through the SQL API."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM v_customer c
        WHERE EXISTS (
          SELECT 1 FROM v_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >
            (SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             FROM v_orders)
        )
        """
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math family over part: abs/ceil/floor/sqrt/exp-ln/pow/mod/
    sign (irrational outputs are pure double fns of identical inputs —
    engine-independent)."""
    part = load_table(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return part.select(
        "p_partkey",
        F.abs(price - 1000).alias("abs_diff"),
        F.ceil(price).alias("ceil_price"),
        F.floor(price).alias("floor_price"),
        F.sqrt(price).alias("sqrt_price"),
        # ln/log10 are NOT correctly-rounded IEEE ops: JVM Math.log and
        # DuckDB's libm differ in the final ulp — round to 9dp on both
        # sides (sqrt/pow are exact-rounded and need no rounding)
        F.round(F.ln(price), 9).alias("ln_price"),
        F.round(F.log10(price), 9).alias("log10_price"),
        F.pow(F.col("p_size").cast("double"), F.lit(2.0)).alias("size_sq"),
        (F.col("p_size") % 5).alias("size_mod5"),
        F.signum(price - 1000).alias("sign_diff"),
        F.greatest(F.col("p_size"), F.lit(25)).alias("size_floor25"),
    )


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over tokenized text: size, distinct, sort,
    slice, contains, array_join, element access."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        F.element_at(F.sort_array(F.array_distinct(toks)), 1).alias("first_sorted_tok"),
        F.element_at(F.sort_array(F.array_distinct(toks), asc=False), 1).alias("last_sorted_tok"),
        F.array_contains(toks, "spark").cast("int").alias("has_spark"),
        F.array_join(F.slice(toks, 1, 3), "_").alias("first3_joined"),
    )


def q_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set aggregate with deterministic presentation: the set of
    order statuses per priority, sorted then joined to a string (string
    output keeps the oracle comparison list-free)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count("*").alias("n_orders"),
    )


def q_global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price: ORDER BY ... LIMIT with a total
    order (tiebreak on key). Spark runs this as per-partition top-k +
    merge (TakeOrderedAndProject) — no global sort materialization."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family: nullif/coalesce/nvl2-equivalents + null-safe
    aggregation over synthesized nulls (fixtures are null-free, so nulls
    are derived deterministically)."""
    cust = load_table(spark, sf_dir, "customer")
    nk = F.nullif(F.col("c_nationkey").cast("int"), F.lit(7))  # nation 7 -> NULL
    return cust.select(
        "c_custkey",
        nk.alias("nk_nullable"),
        F.coalesce(nk, F.lit(-1)).alias("nk_defaulted"),
        F.when(nk.isNull(), "missing").otherwise("present").alias("nk_status"),
        nk.eqNullSafe(F.lit(7)).cast("int").alias("eq_ns_7"),
        nk.isNotNull().cast("int").alias("nk_not_null"),
    )


def q_agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlations between lineitem measures from EXACT
    integer-cent moments: corr = (n*sxy - sx*sy)/sqrt((n*sxx - sx^2)
    (n*syy - sy^2)). Native corr() accumulates doubles in engine-specific
    order; here every moment is a scale-0 decimal (values are 2dp ->
    cents are exact integers), all products/differences stay exact, and
    the final decimal(,0)->double casts are single correctly-rounded int
    conversions — identical in both engines at any magnitude (unlike
    scaled decimals, which double-round past 2^53)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = (F.col("l_quantity") * 100).cast("decimal(12,0)")
    p = (F.col("l_extendedprice") * 100).cast("decimal(12,0)")
    d = (F.col("l_discount") * 100).cast("decimal(12,0)")
    n = F.count("*")

    def moments(x, y):
        sx, sy = F.sum(x), F.sum(y)
        sxx, syy, sxy = F.sum(x * x), F.sum(y * y), F.sum(x * y)
        num = (n * sxy - sx * sy).cast("double")
        den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
            (n * syy - sy * sy).cast("double")
        )
        return num / den

    return li.agg(
        n.alias("n_rows"),
        moments(q, p).alias("corr_qty_price"),
        moments(q, d).alias("corr_qty_disc"),
    )


def q_agg_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT quantiles (median / p95 / IQR) via `percentile` —
    the grouped form of the reference's fit step (O5, etl_benchmark.py:74
    computes global quantiles only; grouped fit is what per-category
    tokenization needs). Spark `percentile` and DuckDB `quantile_cont`
    are both Type-7 linear interpolation — bit-identical up to final-ulp
    interpolation arithmetic, so both sides round to 6dp (2dp data: no
    comparison can flip, same rule as quantile_bin_exact_boundaries)."""
    li = load_table(spark, sf_dir, "lineitem")

    def pct(c: str, p: float):
        return F.round(F.percentile(F.col(c), F.lit(p)), 6)

    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        pct("l_extendedprice", 0.5).alias("median_price"),
        pct("l_extendedprice", 0.95).alias("p95_price"),
        (pct("l_quantity", 0.75) - pct("l_quantity", 0.25)).alias("iqr_qty"),
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based, not row-based): per customer,
    count + revenue of orders within the 30 days PRECEDING each order.
    Frames are defined on epoch seconds in both engines so the peer-set
    semantics are identical (same-instant orders are peers and always
    co-included, making the result tie-proof). Row-based frames would be
    nondeterministic here; range frames are the correct trailing-window
    primitive for event-time features at scale (partitioned by key, one
    shuffle, per-partition sort)."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_orders_30d"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("rev_30d"),
    )


def q_text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/unnest shape — the tokenize-count-rank backbone of corpus
    vocabulary building: split -> explode (row inflation, map-only) ->
    count per token (one shuffle on the token key) -> deterministic
    top-50. At 100 TB the explode never materializes the corpus: it
    streams batches through the count's partial aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(50)
    )


def q_error_safe_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function family: try_divide / try_cast /
    try_element_at return NULL where strict evaluation raises
    (divide-by-zero, malformed cast, out-of-bounds index) — the
    poison-row containment a 100 TB batch needs so one bad record can't
    kill a ten-hour job. DuckDB mirrors: NULL-on-zero division,
    TRY_CAST, NULL out-of-range list index."""
    from ..session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr("try_divide(100, l_linenumber - 1)"), 6).alias(
            "safe_div"
        ),
        F.expr(
            "try_cast(CASE WHEN l_linenumber <= 3"
            " THEN cast(l_linenumber as string)"
            " ELSE 'N/A' END as int)"
        ).alias("safe_parse"),
        F.expr("try_element_at(array('a', 'b'), l_linenumber)").alias(
            "safe_elem"
        ),
    )



QUERIES = {
    "window_funcs_suite": q_window_funcs_suite,
    "agg_grouped_quantiles": q_agg_grouped_quantiles,
    "window_range_frame": q_window_range_frame,
    "text_word_freq": q_text_word_freq,
    "agg_correlation": q_agg_correlation,
    "pivot_orders": q_pivot_orders,
    "stat_crosstab": q_stat_crosstab,
    "stat_freq_items": q_stat_freq_items,
    "lateral_posexplode": q_lateral_posexplode,
    "unpivot_lineitem": q_unpivot_lineitem,
    "grouping_sets": q_grouping_sets,
    "exists_subquery": q_exists_subquery,
    "math_funcs": q_math_funcs,
    "array_funcs": q_array_funcs,
    "collect_agg": q_collect_agg,
    "global_topn": q_global_topn,
    "null_funcs": q_null_funcs,
    "error_safe_funcs": q_error_safe_funcs,
}

_CORR = """(CAST((count(*) * sum({x} * {y}) - sum({x}) * sum({y})) AS DOUBLE)
    / (sqrt(CAST(count(*) * sum({x} * {x}) - sum({x}) * sum({x}) AS DOUBLE))
       * sqrt(CAST(count(*) * sum({y} * {y}) - sum({y}) * sum({y}) AS DOUBLE))))"""
_QC = "CAST(l_quantity * 100 AS DECIMAL(12,0))"
_PC = "CAST(l_extendedprice * 100 AS DECIMAL(12,0))"
_DC = "CAST(l_discount * 100 AS DECIMAL(12,0))"

ORACLES = {
    "lateral_posexplode": """
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents WHERE doc_id < 100
)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
FROM t, generate_series(1, 1000) AS g(i)
WHERE i <= len(toks)
""",
    "window_range_frame": """
SELECT o_custkey, o_orderkey,
  count(*) OVER w AS n_orders_30d,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS rev_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
""",
    "text_word_freq": """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 50
""",
    "agg_grouped_quantiles": """
SELECT l_returnflag, count(*) AS n_rows,
  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
  round(quantile_cont(l_quantity, 0.75), 6)
    - round(quantile_cont(l_quantity, 0.25), 6) AS iqr_qty
FROM lineitem
GROUP BY l_returnflag
""",
    "agg_correlation": f"""
SELECT count(*) AS n_rows,
  {_CORR.format(x=_QC, y=_PC)} AS corr_qty_price,
  {_CORR.format(x=_QC, y=_DC)} AS corr_qty_disc
FROM lineitem
""",
    "window_funcs_suite": """
SELECT o_custkey, o_orderkey,
  lag(o_totalprice, 1) OVER w AS prev_price,
  lead(o_totalprice, 1) OVER w AS next_price,
  CAST(rank() OVER w AS INTEGER) AS rnk,
  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
  percent_rank() OVER w AS prank,
  cume_dist() OVER w AS cdist,
  first_value(o_orderkey) OVER wf AS first_order,
  last_value(o_orderkey) OVER wf AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    "stat_crosstab": """
SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
FROM orders
GROUP BY o_orderstatus
""",
    "pivot_orders": """
SELECT o_orderpriority,
  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders
GROUP BY o_orderpriority
""",
    "unpivot_lineitem": """
WITH melted AS (
  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'discount', l_discount FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem
)
SELECT measure, count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM melted
GROUP BY measure
""",
    "grouping_sets": """
SELECT o_orderstatus, o_orderpriority,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    "exists_subquery": """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >
    (SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) FROM orders)
)
""",
    "math_funcs": """
SELECT p_partkey,
  abs(p_retailprice - 1000) AS abs_diff,
  CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
  CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
  sqrt(p_retailprice) AS sqrt_price,
  round(ln(p_retailprice), 9) AS ln_price,
  round(log10(p_retailprice), 9) AS log10_price,
  pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
  p_size % 5 AS size_mod5,
  CAST(sign(p_retailprice - 1000) AS DOUBLE) AS sign_diff,
  greatest(p_size, 25) AS size_floor25
FROM part
""",
    "array_funcs": """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
  list_sort(list_distinct(string_split(text, ' ')))[1] AS first_sorted_tok,
  list_reverse_sort(list_distinct(string_split(text, ' ')))[1] AS last_sorted_tok,
  CAST(list_contains(string_split(text, ' '), 'spark') AS INTEGER) AS has_spark,
  array_to_string(list_slice(string_split(text, ' '), 1, 3), '_') AS first3_joined
FROM documents
""",
    "collect_agg": """
SELECT o_orderpriority,
  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
  count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    "global_topn": """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
    "error_safe_funcs": """
SELECT l_orderkey, l_linenumber,
  round(100 / (l_linenumber - 1), 6) AS safe_div,
  TRY_CAST(CASE WHEN l_linenumber <= 3
           THEN CAST(l_linenumber AS VARCHAR)
           ELSE 'N/A' END AS INTEGER) AS safe_parse,
  (['a', 'b'])[l_linenumber] AS safe_elem
FROM lineitem
""",
    "null_funcs": """
SELECT c_custkey,
  nullif(CAST(c_nationkey AS INTEGER), 7) AS nk_nullable,
  coalesce(nullif(CAST(c_nationkey AS INTEGER), 7), -1) AS nk_defaulted,
  CASE WHEN nullif(c_nationkey, 7) IS NULL THEN 'missing' ELSE 'present' END AS nk_status,
  CAST(nullif(CAST(c_nationkey AS INTEGER), 7) IS NOT DISTINCT FROM 7 AS INTEGER) AS eq_ns_7,
  CAST(nullif(c_nationkey, 7) IS NOT NULL AS INTEGER) AS nk_not_null
FROM customer
""",
}
