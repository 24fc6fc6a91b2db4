"""Warehouse-analytics operators the reference has no equivalent for
(SURVEY.md §2.2 "beyond the reference"): cohort retention, market-basket
co-occurrence, key-skew profiling, equal-width histograms, numeric
profiling, star-schema denormalization, and percentile winsorization.

Scale design (100 TB):
- Retention cohorts: two aggregations keyed on user_id (first-touch and
  activity dedup) sharing one shuffle partitioning, then a join on
  user_id and a final tiny (cohort, offset) aggregation. No windows.
- Market basket: the pair self-join runs on the DISTINCT (order, item)
  relation, so fan-out is bounded by items-per-order squared — a data
  invariant (~4 avg here), not a row-count function. A pathological
  mega-order is the skew risk; cap or salt it before the join at scale.
- Key-skew profile: a groupBy count + global top-k (TakeOrderedAndProject
  — no full sort) + a broadcast 1-row total. This is the diagnostic you
  run BEFORE choosing the salting/bucketing strategy everywhere else.
- Equal-width histogram: 1-row min/max agg broadcast into a map-only
  bucket projection + a ~bins-row aggregation. Two passes over the scan,
  zero wide shuffles (vs the exact-percentile machinery equal-FREQUENCY
  bins need — see quantile_bin.py).
- Denormalize: every dimension side is broadcast; the only shuffle-join
  is lineitem⋈orders, which at scale becomes a bucketed/co-partitioned
  join on orderkey (sinks.py writes bucketed tables for exactly this).
- Winsorize: boundary fit via the distributed exact-percentile plan
  (quantile_bin.fit_quantile_boundaries_exact_distributed), clip is a
  map-only least/greatest projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events, load_table

#: epoch-day arithmetic shared by both engines (integer microseconds ->
#: integer day -> integer week); avoids date_trunc('week') whose anchor
#: (Monday vs engine-default) would have to be proven equal instead.
_US_PER_DAY = 86_400_000_000


def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted distinct in each subsequent week offset. The classic
    growth-analytics rollup, all in integer week arithmetic."""
    ev = load_events(spark, sf_dir)
    # integer `div` end to end: double division of epoch-micros would be
    # exact here (values < 2^53) but integer floor division needs no proof
    week = F.expr(f"(unix_micros(ts) div {_US_PER_DAY}) div 7")
    act = ev.select(
        "user_id", week.cast("long").alias("week")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_RETENTION_ORACLE = f"""
WITH act AS (
  SELECT DISTINCT user_id,
    CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) // 7 AS week
  FROM events
), cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT c.cohort_week, CAST(a.week - c.cohort_week AS INTEGER) AS week_offset,
  count(DISTINCT a.user_id) AS n_users
FROM act a JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


MIN_PAIR_SUPPORT = 2

#: guarded-form routing: orders with more distinct items than this go
#: through the block-decomposed pair generator instead of the direct
#: self-join. 512 items -> ~131 k pairs, comfortably one task's work;
#: the fixture maxes out at ~7 items/order, so on polite data every
#: order routes direct and the guard costs one window count.
BASKET_BLOCK_THRESHOLD = 512
#: block count for the mega-order path: replication is ~(n_blocks + 1)x
#: per mega-order item, parallelism is n_blocks*(n_blocks+1)/2 shuffle
#: keys per mega-order (32 -> 528 keys for work that was ONE task
#: direct; 528 keys hash evenly over a 64-partition shuffle, where 16
#: blocks' 136 keys left ~3x balls-in-bins skew — measured in
#: PROBE_MARKET_BASKET_r08: 16 blocks 8.3 s, 32 blocks 3.7 s on a
#: 4.5e8-pair mega-order stream).
BASKET_N_BLOCKS = 32


def basket_pair_stream_direct(items: DataFrame) -> DataFrame:
    """(okey, part) -> one row per co-occurrence pair, p1 < p2.

    The classic pair self-join: correct and cheap while items-per-order
    is a small data invariant, but a mega-order with d distinct items
    emits d(d-1)/2 pairs inside ONE sort-merge group — single-task
    quadratic output AQE cannot split (the skew is in what the task
    EMITS, not in the shuffled input sizes; same limitation
    PROBE_ASOF_RANGE_r07 measured for the as-of join form)."""
    a = items.toDF("okey", "p1")
    b = items.toDF("okey", "p2")
    return a.join(b, (a.okey == b.okey) & (a.p1 < b.p2)).select("p1", "p2")


def basket_pair_stream_guarded(
    items: DataFrame,
    threshold: int = BASKET_BLOCK_THRESHOLD,
    n_blocks: int = BASKET_N_BLOCKS,
) -> DataFrame:
    """Size-routed pair stream, EXACTLY equal to the direct stream.

    Orders at or under ``threshold`` distinct items take the direct
    self-join. Mega-orders are block-decomposed: each item lands in
    block ``pmod(xxhash64(part), n_blocks)`` and is replicated onto
    every block-pair key it can participate in — left side (okey, u=own
    block, v=u..n-1), right side (okey, u=0..own block, v=own block) —
    so the equi-join on (okey, u, v) enumerates each unordered pair
    exactly once: cross-block pairs meet only at (u, v) = (smaller
    block, larger block) because the left explode never goes below the
    left item's own block; same-block pairs meet at (b, b) twice and
    are halved by the p1 < p2 filter, which also drops self-pairs.
    least/greatest canonicalizes cross-block pairs whose block order
    disagrees with their key order.

    Cost shape: the ~(n_blocks+1)x replication is paid ONLY by
    mega-order rows; the d^2/2 pair work still exists (it is the
    answer) but spreads over n_blocks*(n_blocks+1)/2 shuffle keys
    instead of one — the single-emitter-task bottleneck the direct form
    has is gone. Measured: scripts/probe_market_basket.py.

    The explicit ``repartition(N, keys)`` on both join sides is
    load-bearing, not a tuning nicety: the block-join's shuffle INPUT
    is tiny (d x ~(n_blocks+1)/2 replicated rows, a few MB for a 30 k-
    item order), so AQE's coalescePartitions folds the exchange down to
    1-2 partitions and re-serializes the d^2/2 emission the block
    decomposition exists to spread — the same map-output-boundary
    blindness PROBE_ASOF_RANGE_r07 documented, this time ON the twin.
    A user-specified partition count is exempt from AQE coalescing.
    Measured at d=30k (PROBE_MARKET_BASKET_r08): 23.8 s coalesced ->
    3.7 s repartitioned, vs 28.6 s direct."""
    d = F.count(F.lit(1)).over(Window.partitionBy("okey"))
    tagged = items.toDF("okey", "p").select("okey", "p", d.alias("_d"))
    small = tagged.filter(F.col("_d") <= threshold).select("okey", "p")
    large = (
        tagged.filter(F.col("_d") > threshold)
        .select(
            "okey",
            "p",
            F.pmod(F.xxhash64("p"), F.lit(n_blocks)).cast("int").alias("_b"),
        )
    )
    try:  # "auto" under some AQE configs
        n_parts = int(
            items.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    except ValueError:
        n_parts = 200
    left = large.select(
        "okey",
        F.col("_b").alias("u"),
        F.explode(F.sequence(F.col("_b"), F.lit(n_blocks - 1))).alias("v"),
        F.col("p").alias("pa"),
    ).repartition(n_parts, "okey", "u", "v")
    right = large.select(
        "okey",
        F.explode(F.sequence(F.lit(0), F.col("_b"))).alias("u"),
        F.col("_b").alias("v"),
        F.col("p").alias("pb"),
    ).repartition(n_parts, "okey", "u", "v")
    large_pairs = (
        left.join(right, ["okey", "u", "v"])
        .filter((F.col("u") < F.col("v")) | (F.col("pa") < F.col("pb")))
        .select(
            F.least("pa", "pb").alias("p1"),
            F.greatest("pa", "pb").alias("p2"),
        )
    )
    return basket_pair_stream_direct(small).unionByName(large_pairs)


def _basket_support(pairs: DataFrame) -> DataFrame:
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_PAIR_SUPPORT)
    )


def basket_support_direct_form(items: DataFrame) -> DataFrame:
    """(okey, part) -> (p1, p2, support >= MIN_PAIR_SUPPORT), direct."""
    return _basket_support(basket_pair_stream_direct(items))


def basket_support_guarded_form(
    items: DataFrame,
    threshold: int = BASKET_BLOCK_THRESHOLD,
    n_blocks: int = BASKET_N_BLOCKS,
) -> DataFrame:
    """(okey, part) -> (p1, p2, support), size-routed mega-order-safe."""
    return _basket_support(basket_pair_stream_guarded(items, threshold, n_blocks))


def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-pair co-occurrence (association-rule support counts): pairs
    of parts appearing in the same order, kept at support >= 2. The
    self-join runs on the deduplicated (order, part) relation and the
    canonical p1 < p2 ordering halves the pair space."""
    return basket_support_direct_form(_basket_items(spark, sf_dir))


def q_orders_market_basket_guarded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The r8 scale twin of orders_market_basket (same oracle, same
    rows): size-routed pair generation that block-decomposes any order
    over BASKET_BLOCK_THRESHOLD distinct items so a single mega-order
    cannot concentrate d^2/2 pair emission in one task. Probed under
    pathological 10 k / 30 k-item orders in
    PROBE_MARKET_BASKET_r08.json: stream twin 9.17x, full query 6.36x,
    polite-data overhead 0.99x."""
    return basket_support_guarded_form(_basket_items(spark, sf_dir))


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (p1, p2, support) co-purchase relation — the
    shared edge list behind five consumers (the basket query itself,
    triangle count, k-core, LPA, item-item similarity). The self-join
    over the deduplicated (order, part) relation is the expensive part;
    computed once per session, checkpoint-pinned (output-sized)."""
    from ..session import session_memo

    return session_memo(
        spark,
        "market_basket_pairs",
        sf_dir,
        lambda: q_orders_market_basket(spark, sf_dir),
    )


_BASKET_ORACLE = f"""
WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
FROM it a JOIN it b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= {MIN_PAIR_SUPPORT}
"""


SKEW_TOP_K = 20


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a prospective join/shuffle key: top-20
    part keys by lineitem row count with their per-million share of the
    table. The diagnostic run before picking broadcast/salt/bucket
    strategies; global top-k plans as TakeOrderedAndProject (no full
    sort), the total is a broadcast single row."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_rows"))
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.orderBy(F.col("n_rows").desc(), F.col("l_partkey").asc())
        .limit(SKEW_TOP_K)
        .crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "n_rows",
            F.expr("(n_rows * 1000000) div n_total").alias("ppm_share"),
        )
    )


_SKEW_ORACLE = f"""
WITH counts AS (
  SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY 1
), total AS (SELECT count(*) AS n_total FROM lineitem)
SELECT l_partkey, n_rows,
  (n_rows * 1000000) // n_total AS ppm_share
FROM counts, total
ORDER BY n_rows DESC, l_partkey ASC
LIMIT {SKEW_TOP_K}
"""


HIST_BINS = 20


def q_histogram_equal_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-WIDTH histogram of l_extendedprice: bucket = floor((v-min)/
    width) clamped to the last bin. The cheap profiling complement to
    equal-frequency binning: one 1-row min/max agg broadcast into a
    map-only projection — no percentile machinery. Bucket edges are
    reported 6dp-rounded; identical double arithmetic on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(HIST_BINS))
    bucket = F.least(
        F.floor((F.col("l_extendedprice") - F.col("lo")) / width),
        F.lit(HIST_BINS - 1),
    ).cast("int")
    return (
        li.crossJoin(F.broadcast(mm))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("bucket_min_seen"),
            F.round(F.max("l_extendedprice"), 2).alias("bucket_max_seen"),
        )
    )


_HIST_ORACLE = f"""
WITH mm AS (
  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
)
SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / {float(HIST_BINS)})),
            {HIST_BINS - 1}) AS INTEGER) AS bucket,
  count(*) AS n_rows,
  round(min(l_extendedprice), 2) AS bucket_min_seen,
  round(max(l_extendedprice), 2) AS bucket_max_seen
FROM lineitem, mm
GROUP BY 1
"""


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column numeric profile (the `describe` a data engineer runs
    before designing a pipeline): count / nulls / distinct / min / max /
    mean / stddev, all columns in ONE scan via long-form stack. Doubles
    rounded 6dp; mean and stddev derived from exact centi-unit integer
    sums so aggregation order can't wobble the low bits."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "stack({}, {}) AS (col, value)".format(
            len(_PROFILE_COLS),
            ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in _PROFILE_COLS),
        )
    )
    # exact-moment machinery (the zscore_normalize pattern): values are
    # 2dp fixed-point, so centi-unit BIGINT sums and decimal(38,0)
    # squared sums are exact in ANY aggregation order; mean/stddev then
    # come from ONE identical double expression on both engines
    cents = F.round(F.col("value") * 100).cast("bigint")
    agg = long.groupBy("col").agg(
        F.count("value").alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null"),
        F.countDistinct("value").alias("n_distinct"),
        F.round(F.min("value"), 6).alias("min_v"),
        F.round(F.max("value"), 6).alias("max_v"),
        F.sum(cents).alias("s"),
        F.sum(cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)")).alias("ss"),
    )
    n = F.col("n_rows").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    return agg.select(
        "col",
        "n_rows",
        "n_null",
        "n_distinct",
        "min_v",
        "max_v",
        F.round(s / n / 100, 6).alias("mean_v"),
        F.round(
            F.sqrt((ss - s * s / n) / (n - F.lit(1.0))) / 100, 6
        ).alias("stddev_v"),
    )


_PROFILE_ORACLE = """
WITH long AS (
  SELECT 'l_quantity' AS col, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
), c AS (
  SELECT col, value, CAST(round(value * 100) AS BIGINT) AS cents FROM long
), agg AS (
  SELECT col, count(value) AS n_rows,
    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
    count(DISTINCT value) AS n_distinct,
    round(min(value), 6) AS min_v,
    round(max(value), 6) AS max_v,
    sum(cents) AS s,
    sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS ss
  FROM c GROUP BY col
)
SELECT col, n_rows, n_null, n_distinct, min_v, max_v,
  round(CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE) / 100, 6) AS mean_v,
  round(sqrt((CAST(ss AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE))
             / (CAST(n_rows AS DOUBLE) - 1.0)) / 100, 6) AS stddev_v
FROM agg
"""


def q_denormalize_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema flatten for export: lineitem joined to orders,
    customer, nation, region, part, supplier in one wide projection.
    Every dimension is broadcast; the lineitem⋈orders fact-fact join is
    the single shuffle (bucketed co-partitioning at scale). The flat
    table is what downstream training jobs actually read."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderdate",
            "o_orderpriority",
            "c_name",
            F.col("n_name").alias("cust_nation"),
            F.col("r_name").alias("cust_region"),
            "p_name",
            "p_brand",
            "s_name",
            F.round(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            ).alias("net_price"),
        )
    )


_DENORM_ORACLE = """
SELECT l_orderkey, l_linenumber, o_orderdate, o_orderpriority, c_name,
  n_name AS cust_nation, r_name AS cust_region, p_name, p_brand, s_name,
  round(l_extendedprice * (1.0 - l_discount), 4) AS net_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
"""


def q_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clipping to the exact [p1, p99] band) —
    the feature-prep step before z-scoring when heavy tails would blow
    up the variance. Fit: the distributed exact-percentile plan (NOT the
    single-reducer SQL percentile aggregate); transform: map-only
    least/greatest. Boundaries 6dp-rounded — the same ulp treatment that
    makes quantile_bin_exact_boundaries oracle-stable."""
    from .quantile_bin import fit_quantile_boundaries_exact_distributed

    li = load_table(spark, sf_dir, "lineitem")
    bounds = fit_quantile_boundaries_exact_distributed(
        li, ["l_extendedprice"], bins=100
    )["l_extendedprice"]
    lo, hi = round(bounds[1], 6), round(bounds[99], 6)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.round(
            F.least(F.greatest(F.col("l_extendedprice"), F.lit(lo)), F.lit(hi)), 6
        ).alias("price_winsorized"),
        (F.col("l_extendedprice") < F.lit(lo)).alias("clipped_low"),
        (F.col("l_extendedprice") > F.lit(hi)).alias("clipped_high"),
    )


_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS lo,
         round(quantile_cont(l_extendedprice, 0.99), 6) AS hi
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_extendedprice,
  round(least(greatest(l_extendedprice, lo), hi), 6) AS price_winsorized,
  l_extendedprice < lo AS clipped_low,
  l_extendedprice > hi AS clipped_high
FROM lineitem, b
"""


def q_cdf_transform_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-CDF (percentile-rank) transform of l_extendedprice —
    the rank-gauss / quantile-transform feature-prep step. Semantically
    ``cume_dist() OVER (ORDER BY price)``, but THAT plans as a single-
    partition global window; here the distributed (value, cum_end)
    relation (quantile_bin.cumulative_value_counts: histogram + two-
    phase prefix sum) is joined back to the fact rows on the value key.
    Output in exact ppm integers: (cum_end * 1e6) div n — no double
    division to disagree over."""
    from .quantile_bin import cumulative_value_counts

    li = load_table(spark, sf_dir, "lineitem")
    cdf = cumulative_value_counts(li, "l_extendedprice")
    n = li.count()
    return (
        li.join(cdf, li.l_extendedprice == cdf.value)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.expr(f"(cum_end * 1000000) div {n}").alias("cdf_ppm"),
        )
    )


_CDF_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice,
  (count(*) OVER (ORDER BY l_extendedprice
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
   * 1000000) // (SELECT count(*) FROM lineitem) AS cdf_ppm
FROM lineitem
"""


def q_revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each supplier's revenue share (ppm) WITHIN its nation — the
    ratio_to_report / percent-of-total pattern. Revenue is an exact
    decimal(18,4) sum exported as e4 integer units; the share window is
    PARTITIONED by nation (distributes, unlike a global total). The fact
    scan joins broadcast supplier→nation dims; the only wide shuffle is
    the groupBy on s_suppkey."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    one = F.lit(1).cast("decimal(1,0)")
    disc_price = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (one - F.col("l_discount").cast("decimal(6,2)"))
    ).cast("decimal(18,4)")
    per_supp = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg((F.sum(disc_price) * 10000).cast("bigint").alias("revenue_e4"))
    )
    nat_total = F.sum("revenue_e4").over(Window.partitionBy("n_name"))
    # decimal(38,0) numerator: revenue_e4 * 1e6 would overflow int64 on a
    # big fixture; `div` on decimals is exact integral division
    return per_supp.withColumn("nat_total_e4", nat_total).select(
        "s_suppkey",
        "s_name",
        "n_name",
        "revenue_e4",
        F.expr(
            "cast((cast(revenue_e4 as decimal(38,0)) * 1000000)"
            " div nat_total_e4 as bigint)"
        ).alias("share_ppm"),
    )


_REV_SHARE_ORACLE = """
WITH s AS (
  SELECT s_suppkey, s_name, n_name,
    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(6,2)))
                  AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2, 3
)
SELECT s_suppkey, s_name, n_name, revenue_e4,
  CAST((CAST(revenue_e4 AS HUGEINT) * 1000000)
       // sum(revenue_e4) OVER (PARTITION BY n_name) AS BIGINT)
    AS share_ppm
FROM s
"""


RFM_BINS = 4


def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary,
    each scored into exact quartiles. The quartile fit runs on the
    distributed exact-percentile plan (quantile_bin machinery) over the
    per-customer aggregate — never a single-partition ntile window; the
    scoring transform is map-only against 3 broadcast boundaries per
    metric (6dp-rounded, deduped — the oracle-stable ulp treatment)."""
    from .quantile_bin import fit_quantile_boundaries_exact_distributed

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(
            F.expr("datediff(cast(o_orderdate as date), date'1970-01-01')")
        )
        .cast("bigint")
        .alias("recency_day"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("monetary_e2"),
    )
    metrics = ["recency_day", "frequency", "monetary_e2"]
    bounds = fit_quantile_boundaries_exact_distributed(
        per_cust, metrics, bins=RFM_BINS
    )
    out = [F.col("o_custkey")] + [F.col(m) for m in metrics]
    for m in metrics:
        interior = sorted({round(b, 6) for b in bounds[m][1:RFM_BINS]})
        score = F.size(
            F.filter(
                F.array(*[F.lit(float(b)) for b in interior]),
                lambda b: b <= F.col(m).cast("double"),
            )
        )
        out.append(score.cast("int").alias(f"{m}_score"))
    return per_cust.select(*out)


_RFM_PROBS = ",".join(str(i / RFM_BINS) for i in range(1, RFM_BINS))
_RFM_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
    CAST(max(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS recency_day,
    count(*) AS frequency,
    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
      AS monetary_e2
  FROM orders GROUP BY o_custkey
), b AS (
  SELECT
    list_sort(list_distinct(list_transform(
      quantile_cont(recency_day, [{_RFM_PROBS}]), x -> round(x, 6))))
      AS b_recency,
    list_sort(list_distinct(list_transform(
      quantile_cont(frequency, [{_RFM_PROBS}]), x -> round(x, 6))))
      AS b_frequency,
    list_sort(list_distinct(list_transform(
      quantile_cont(monetary_e2, [{_RFM_PROBS}]), x -> round(x, 6))))
      AS b_monetary
  FROM per_cust
)
SELECT o_custkey, recency_day, frequency, monetary_e2,
  CAST(len(list_filter(b_recency, x -> x <= CAST(recency_day AS DOUBLE)))
       AS INTEGER) AS recency_day_score,
  CAST(len(list_filter(b_frequency, x -> x <= CAST(frequency AS DOUBLE)))
       AS INTEGER) AS frequency_score,
  CAST(len(list_filter(b_monetary, x -> x <= CAST(monetary_e2 AS DOUBLE)))
       AS INTEGER) AS monetary_e2_score
FROM per_cust, b
"""


def q_weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue ratio: weekly order-revenue series with
    each week's ratio to the previous week in exact ppm. The lag window
    runs on the AGGREGATED series (one row per week — hundreds of rows),
    so the unpartitioned window is a non-issue: the wide data only ever
    passes through the distributed weekly groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    week = (
        F.expr("datediff(cast(o_orderdate as date), date'1970-01-01')")
        .cast("long")
        / F.lit(7)
    )
    weekly = orders.groupBy(
        F.floor(week).cast("bigint").alias("week")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("revenue_e2")
    )
    prev = F.lag("revenue_e2").over(Window.orderBy("week"))
    return weekly.withColumn("prev_e2", prev).select(
        "week",
        "revenue_e2",
        F.expr(
            "cast((cast(revenue_e2 as decimal(38,0)) * 1000000)"
            " div prev_e2 as bigint)"
        ).alias("wow_ratio_ppm"),
    )


_WOW_ORACLE = """
WITH weekly AS (
  SELECT CAST((epoch_us(o_orderdate) // 86400000000) // 7 AS BIGINT) AS week,
    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
      AS revenue_e2
  FROM orders GROUP BY 1
)
SELECT week, revenue_e2,
  CAST((CAST(revenue_e2 AS HUGEINT) * 1000000)
       // lag(revenue_e2) OVER (ORDER BY week) AS BIGINT) AS wow_ratio_ppm
FROM weekly
"""


WEEKLY_TOP_K = 3


def q_weekly_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-3 parts by shipped quantity per week. The
    ranking window is PARTITIONED by week over the (week, part)
    aggregate, so both the aggregation and the ranking distribute; ties
    broken by part key for determinism."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    week = F.expr(
        "datediff(cast(l_shipdate as date), date'1970-01-01') div 7"
    ).cast("bigint")
    agg = li.groupBy(week.alias("week"), F.col("l_partkey")).agg(
        F.round(F.sum("l_quantity"), 0).cast("bigint").alias("qty")
    )
    w = Window.partitionBy("week").orderBy(
        F.col("qty").desc(), F.col("l_partkey").asc()
    )
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WEEKLY_TOP_K)
        .select("week", "l_partkey", "qty", F.col("rk").cast("int").alias("rk"))
    )


_WEEKLY_TOP_ORACLE = f"""
WITH agg AS (
  SELECT (epoch_us(l_shipdate) // 86400000000) // 7 AS week, l_partkey,
    CAST(round(sum(l_quantity), 0) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
)
SELECT week, l_partkey, qty, CAST(rk AS INTEGER) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY week
                               ORDER BY qty DESC, l_partkey ASC) AS rk
  FROM agg
) WHERE rk <= {WEEKLY_TOP_K}
"""


DOCLEN_BUCKET = 10


def q_doc_length_histogram_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-count histogram PER SOURCE (fixed-width buckets of 10
    tokens): the corpus-profiling rollup a data-mixing step reads. One
    map-only bucket projection + one groupBy — distributes on
    (source, bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
    bucket = F.expr(
        f"size(split(lower(trim(text)), ' ')) div {DOCLEN_BUCKET}"
    ).cast("int")
    return docs.groupBy(
        "source", bucket.alias("len_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(n_tok).cast("int").alias("min_tokens"),
        F.max(n_tok).cast("int").alias("max_tokens"),
    )


_DOCLEN_ORACLE = f"""
WITH t AS (
  SELECT source, len(string_split(lower(trim(text)), ' ')) AS n_tok
  FROM documents
)
SELECT source, CAST(n_tok // {DOCLEN_BUCKET} AS INTEGER) AS len_bucket,
  count(*) AS n_docs,
  CAST(min(n_tok) AS INTEGER) AS min_tokens,
  CAST(max(n_tok) AS INTEGER) AS max_tokens
FROM t GROUP BY 1, 2
"""


EXPLOSION_TOP_K = 10


def q_join_explosion_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality diagnostic for a lineitem⋈lineitem self-join
    on l_partkey: per-key multiplicities n, predicted output n², the
    top-10 exploding keys plus an ALL row with the exact total — what
    you check BEFORE running a similarity self-join, sized here without
    executing the join (two small aggregates over one groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    sq = counts.select(
        "l_partkey", "n", (F.col("n") * F.col("n")).alias("pairs")
    )
    top = sq.orderBy(F.col("pairs").desc(), F.col("l_partkey").asc()).limit(
        EXPLOSION_TOP_K
    )
    total = sq.agg(
        F.lit(-1).cast("bigint").alias("l_partkey"),
        F.sum("n").alias("n"),
        F.sum("pairs").alias("pairs"),
    )
    return top.unionAll(total)


_EXPLOSION_ORACLE = f"""
WITH sq AS (
  SELECT l_partkey, count(*) AS n, count(*) * count(*) AS pairs
  FROM lineitem GROUP BY 1
)
SELECT * FROM (
  SELECT l_partkey, n, pairs FROM sq
  ORDER BY pairs DESC, l_partkey ASC LIMIT {EXPLOSION_TOP_K}
)
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(sum(n) AS BIGINT), CAST(sum(pairs) AS BIGINT)
FROM sq
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (the data-diff audit between two table
    versions): full-outer join on the key, rows classified added /
    removed / changed / unchanged, one count per class. Versions are
    derived deterministically from orders (v1 = keys not ≡0 mod 3 with
    original price; v2 = keys not ≡0 mod 5, price bumped on keys ≡0 mod
    7). Payload comparison is on the exact decimal price — at 100 TB
    compare a row digest instead; the join shuffles only (key, digest)."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    v1 = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", price.alias("p1")
    )
    v2 = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, price + F.lit(1).cast("decimal(12,2)")
        )
        .otherwise(price)
        .alias("p2"),
    )
    joined = v1.join(v2, "o_orderkey", "full_outer")
    cls = (
        F.when(F.col("p1").isNull(), F.lit("added"))
        .when(F.col("p2").isNull(), F.lit("removed"))
        .when(F.col("p1") != F.col("p2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.groupBy(cls.alias("diff_class")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


_SNAPDIFF_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p1
  FROM orders WHERE o_orderkey % 3 <> 0
), v2 AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0
         THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1
         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p2
  FROM orders WHERE o_orderkey % 5 <> 0
)
SELECT CASE WHEN p1 IS NULL THEN 'added'
            WHEN p2 IS NULL THEN 'removed'
            WHEN p1 <> p2 THEN 'changed'
            ELSE 'unchanged' END AS diff_class,
  count(*) AS n_rows
FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
GROUP BY 1
"""


def q_grouped_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS slope of order value (cents) over order date
    (epoch days) — distributed grouped model fitting WITHOUT any UDF:
    the closed-form slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is four exact
    decimal aggregates per group and one integer division at the end.
    Slope reported in exact micro-cents/day: numerator and denominator
    stay exact decimals, and the final magnitude-truncating division is
    written sign-explicitly so Spark's `div` (truncate) and DuckDB's
    `//` (floor) cannot disagree on negative slopes. One shuffle (the
    groupBy); the customer→nation dims broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    x = (
        F.expr("datediff(cast(o_orderdate as date), date'1970-01-01')")
        .cast("decimal(38,0)")
    )
    y = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
        "decimal(38,0)"
    )
    agg = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
        )
    )
    return agg.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_orders"),
        F.expr(
            """cast(CASE
                 WHEN (n * sxy - sx * sy) >= 0
                 THEN ((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)
                 ELSE -((-(n * sxy - sx * sy) * 1000000)
                        div (n * sxx - sx * sx))
               END as bigint)"""
        ).alias("slope_microcents_per_day"),
    )


_GROUPED_OLS_ORACLE = """
WITH agg AS (
  SELECT n_name,
    CAST(count(*) AS HUGEINT) AS n,
    CAST(sum(CAST(epoch_us(o_orderdate) // 86400000000 AS HUGEINT))
         AS HUGEINT) AS sx,
    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                  AS HUGEINT)) AS HUGEINT) AS sy,
    CAST(sum(CAST(epoch_us(o_orderdate) // 86400000000 AS HUGEINT)
             * CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS HUGEINT))
         AS HUGEINT) AS sxy,
    CAST(sum(CAST(epoch_us(o_orderdate) // 86400000000 AS HUGEINT)
             * CAST(epoch_us(o_orderdate) // 86400000000 AS HUGEINT))
         AS HUGEINT) AS sxx
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, CAST(n AS BIGINT) AS n_orders,
  CAST(CASE
    WHEN (n * sxy - sx * sy) >= 0
    THEN ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
    ELSE -((-(n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx))
  END AS BIGINT) AS slope_microcents_per_day
FROM agg
"""


def q_category_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution-drift report: each week's order-priority
    mix vs the global mix, as exact ppm shares and their signed delta —
    the train/serving-skew check run on every pipeline drop. Two
    aggregations (week×category, category) + a broadcast join; shares
    are integer `div` ppm so both engines agree exactly."""
    orders = load_table(spark, sf_dir, "orders")
    week = F.expr(
        "datediff(cast(o_orderdate as date), date'1970-01-01') div 7"
    ).cast("bigint")
    wk = orders.groupBy(
        week.alias("week"), F.col("o_orderpriority")
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    wk_tot = F.sum("n").over(Window.partitionBy("week"))
    glob = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("gn")
    )
    g_tot = orders.count()
    return (
        wk.withColumn("wt", wk_tot)
        .join(F.broadcast(glob), "o_orderpriority")
        .select(
            "week",
            "o_orderpriority",
            F.expr("(n * 1000000) div wt").alias("week_share_ppm"),
            F.expr(f"(gn * 1000000) div {g_tot}").alias("global_share_ppm"),
            (
                F.expr("(n * 1000000) div wt")
                - F.expr(f"(gn * 1000000) div {g_tot}")
            ).alias("drift_ppm"),
        )
    )


_DRIFT_ORACLE = """
WITH wk AS (
  SELECT (epoch_us(o_orderdate) // 86400000000) // 7 AS week,
    o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
), wt AS (
  SELECT week, o_orderpriority, n, sum(n) OVER (PARTITION BY week) AS wt
  FROM wk
), gstats AS (
  SELECT o_orderpriority, count(*) AS gn,
    (SELECT count(*) FROM orders) AS gt
  FROM orders GROUP BY 1
)
SELECT week, o_orderpriority,
  CAST((n * 1000000) // wt AS BIGINT) AS week_share_ppm,
  CAST((gn * 1000000) // gt AS BIGINT) AS global_share_ppm,
  CAST((n * 1000000) // wt - (gn * 1000000) // gt AS BIGINT) AS drift_ppm
FROM wt JOIN gstats USING (o_orderpriority)
"""


PSI_BINS = 10


def q_psi_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of o_totalprice per week vs the global
    distribution — the standard numeric drift score. Bins are the exact
    GLOBAL deciles (distributed percentile fit, 6dp-rounded broadcast
    boundaries → map-only bucketing); per-week PSI = Σ (p−q)·ln(p/q)
    over non-empty buckets, each term µ-quantized to e9 integers before
    the per-week sum so engines agree exactly. Empty weekly buckets are
    skipped (the ε-free convention, stated not hidden)."""
    from .quantile_bin import fit_quantile_boundaries_exact_distributed

    orders = load_table(spark, sf_dir, "orders")
    bounds = fit_quantile_boundaries_exact_distributed(
        orders, ["o_totalprice"], bins=PSI_BINS
    )["o_totalprice"]
    interior = sorted({round(b, 6) for b in bounds[1:PSI_BINS]})
    bucket = F.size(
        F.filter(
            F.array(*[F.lit(float(b)) for b in interior]),
            lambda b: b <= F.col("o_totalprice"),
        )
    ).alias("bucket")
    week = F.expr(
        "datediff(cast(o_orderdate as date), date'1970-01-01') div 7"
    ).cast("bigint")
    binned = orders.select(week.alias("week"), bucket)
    wk = binned.groupBy("week", "bucket").agg(F.count(F.lit(1)).alias("wn"))
    from pyspark.sql import Window

    wt = F.sum("wn").over(Window.partitionBy("week"))
    gl = binned.groupBy("bucket").agg(F.count(F.lit(1)).alias("gn"))
    g_tot = orders.count()
    term = (
        (F.col("wn") / F.col("wt") - F.col("gn") / F.lit(float(g_tot)))
        * F.log(
            (F.col("wn") / F.col("wt"))
            / (F.col("gn") / F.lit(float(g_tot)))
        )
    )
    return (
        wk.withColumn("wt", wt.cast("double"))
        .join(F.broadcast(gl), "bucket")
        .withColumn("term_e9", F.round(term * 1e9).cast("bigint"))
        .groupBy("week")
        .agg(
            F.sum("term_e9").alias("psi_e9"),
            F.count(F.lit(1)).cast("int").alias("n_nonempty_buckets"),
        )
    )


def _psi_oracle() -> str:
    return f"""
WITH binned AS (
  SELECT (epoch_us(o_orderdate) // 86400000000) // 7 AS week,
    CAST(len(list_filter(b, x -> x <= o_totalprice)) AS INTEGER) AS bucket
  FROM orders, (
    SELECT list_sort(list_distinct(list_transform(
      list_slice(quantile_cont(o_totalprice,
        [{",".join(str(i / PSI_BINS) for i in range(PSI_BINS + 1))}]),
        2, {PSI_BINS}), x -> round(x, 6)))) AS b
    FROM orders
  )
), wk AS (
  SELECT week, bucket, count(*) AS wn FROM binned GROUP BY 1, 2
), wt AS (
  SELECT week, bucket, wn, CAST(sum(wn) OVER (PARTITION BY week) AS DOUBLE)
    AS wt
  FROM wk
), gl AS (
  SELECT bucket, count(*) AS gn,
    CAST((SELECT count(*) FROM orders) AS DOUBLE) AS gt
  FROM binned GROUP BY 1
)
SELECT week,
  CAST(sum(CAST(round((wn / wt - gn / gt) * ln((wn / wt) / (gn / gt))
                      * 1e9) AS BIGINT)) AS BIGINT) AS psi_e9,
  CAST(count(*) AS INTEGER) AS n_nonempty_buckets
FROM wt JOIN gl USING (bucket)
GROUP BY week
"""


def q_trimmed_mean_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistic: 10%-trimmed mean of document token
    counts per source — outlier-resistant where plain mean is not. Fit:
    exact per-group p10/p90 (SQL percentile — per-GROUP aggregate state,
    fine when groups are numerous and small; a single fat group routes
    to the distributed fit); transform: broadcast the 20-row bounds,
    filter, exact integer average in micro-units."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("n_tok"),
    )
    bounds = lens.groupBy("source").agg(
        F.round(F.expr("percentile(n_tok, 0.1)"), 6).alias("p10"),
        F.round(F.expr("percentile(n_tok, 0.9)"), 6).alias("p90"),
    )
    kept = lens.join(F.broadcast(bounds), "source").filter(
        (F.col("n_tok") >= F.col("p10")) & (F.col("n_tok") <= F.col("p90"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("(sum(n_tok) * 1000000) div count(n_tok)").alias(
            "trimmed_mean_micro"
        ),
    )


_TRIMMED_ORACLE = """
WITH lens AS (
  SELECT source, len(string_split(lower(trim(text)), ' ')) AS n_tok
  FROM documents
), b AS (
  SELECT source,
    round(quantile_cont(n_tok, 0.1), 6) AS p10,
    round(quantile_cont(n_tok, 0.9), 6) AS p90
  FROM lens GROUP BY source
)
SELECT source, count(*) AS n_kept,
  CAST((sum(n_tok) * 1000000) // count(n_tok) AS BIGINT) AS trimmed_mean_micro
FROM lens JOIN b USING (source)
WHERE n_tok >= p10 AND n_tok <= p90
GROUP BY source
"""


def q_weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per returnflag: the smallest price
    whose cumulative weight reaches half the group total (lower weighted
    median — integer-exact: 2·cum ≥ total avoids any division). The
    cumulative sum runs over a PARTITIONED window (one shuffle on the
    group key, per-group local sort) — the distributed exact form; a
    single fat group routes to the prefix-sum machinery instead
    (quantile_bin.cumulative_value_counts)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = F.round("l_quantity", 0).cast("bigint")
    base = li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        w.alias("w"),
    )
    ww = Window.partitionBy("l_returnflag").orderBy(
        F.col("price").asc(), F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    cum = F.sum("w").over(ww.rowsBetween(Window.unboundedPreceding, 0))
    tot = F.sum("w").over(Window.partitionBy("l_returnflag"))
    return (
        base.withColumn("cum", cum)
        .withColumn("tot", tot)
        .filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.min("tot").alias("total_qty"),
        )
    )


_WMEDIAN_ORACLE = """
WITH base AS (
  SELECT l_returnflag, l_orderkey, l_linenumber,
    l_extendedprice AS price,
    CAST(round(l_quantity, 0) AS BIGINT) AS w
  FROM lineitem
), c AS (
  SELECT l_returnflag, price,
    sum(w) OVER (PARTITION BY l_returnflag
                 ORDER BY price ASC, l_orderkey ASC, l_linenumber ASC
                 ROWS UNBOUNDED PRECEDING) AS cum,
    sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM base
)
SELECT l_returnflag, min(price) AS weighted_median_price,
  CAST(min(tot) AS BIGINT) AS total_qty
FROM c WHERE cum * 2 >= tot
GROUP BY l_returnflag
"""


def q_ab_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are assigned to arms by a hash of
    their id (the md5-prefix trick from train_val_test_split — stable
    across re-runs, engines, and incremental data, so a user can never
    switch arms mid-experiment), then each arm reports exposure and
    conversion. Conversion is exact integer ppm.

    Scale shape: arm assignment is map-only; the per-arm rollup reduces
    to 2 rows via partial aggregation. The distinct-user counts shuffle
    once on user_id (exact; swap approx_count_distinct at 100 TB if ±2%
    suffices)."""
    ev = load_events(spark, sf_dir)
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        "A",
    ).otherwise("B")
    per_user = (
        ev.select("user_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("converted")
        )
        .select(arm.alias("arm"), "converted")
    )
    return per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.expr("sum(converted) * 1000000 div count(*)")
        .cast("bigint")
        .alias("conversion_ppm"),
    )


_AB_ORACLE = """
WITH per_user AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
)
SELECT arm, count(*) AS n_users,
  CAST(sum(converted) AS BIGINT) AS n_converted,
  CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS conversion_ppm
FROM per_user GROUP BY arm
"""


def q_quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length ACROSS sources — map
    each doc's within-source percentile onto the global length
    distribution (percentile_disc semantics: the smallest global value
    whose cumulative share reaches the doc's percentile). The classic
    cross-batch feature alignment (quantile normalization) built from
    exact machinery: within-source percentile = tie-inclusive
    cumulative count in integer ppm; the global distribution is the
    aggregated (value, cumulative-ppm) relation.

    Scale shape: one shuffle on source for the within-source window; the
    global relation aggregates to |distinct lengths| rows — broadcast
    into the mapping join (a range probe against a bounded sorted
    table; an IVF-style bucketed join replaces it if the value domain
    ever stops being bounded)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    n_src = Window.partitionBy("source")
    ranked = docs.withColumn("cnt_le", F.count(F.lit(1)).over(w_src)).withColumn(
        "n_in_src", F.count(F.lit(1)).over(n_src)
    ).withColumn(
        "p_ppm", F.expr("cnt_le * 1000000 div n_in_src").cast("bigint")
    )
    gv = (
        docs.groupBy(F.col("n_chars").alias("val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_g = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    total = gv.agg(F.sum("cnt").alias("n_total"))
    gdist = (
        gv.withColumn("cum", F.sum("cnt").over(w_g))
        .crossJoin(F.broadcast(total))
        .select(
            "val",
            F.expr("cum * 1000000 div n_total").cast("bigint").alias("gp_ppm"),
        )
    )
    mapped = (
        ranked.join(
            F.broadcast(gdist), F.col("gp_ppm") >= F.col("p_ppm")
        )
        .groupBy("doc_id", "source", "n_chars", "p_ppm")
        .agg(F.min("val").alias("norm_chars"))
    )
    return mapped


_QNORM_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
    CAST((count(*) OVER (PARTITION BY source ORDER BY n_chars
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         * 1000000
         // (count(*) OVER (PARTITION BY source)) AS BIGINT) AS p_ppm
  FROM documents
), gv AS (
  SELECT n_chars AS val, count(*) AS cnt FROM documents GROUP BY n_chars
), gdist AS (
  SELECT val,
    CAST((sum(cnt) OVER (ORDER BY val
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         * 1000000
         // (SELECT sum(cnt) FROM gv) AS BIGINT) AS gp_ppm
  FROM gv
)
SELECT r.doc_id, r.source, r.n_chars, r.p_ppm,
  CAST(min(g.val) AS BIGINT) AS norm_chars
FROM ranked r JOIN gdist g ON g.gp_ppm >= r.p_ppm
GROUP BY r.doc_id, r.source, r.n_chars, r.p_ppm
"""


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (preference query): parts not
    dominated on (cheapest observed price — minimize, total quantity
    sold — maximize). A part is dominated when another is at least as
    good on both axes and strictly better on one.

    Scalable formulation: sort by price, then one RANGE-frame window —
    a candidate survives iff its quantity (a) strictly exceeds the max
    quantity among STRICTLY cheaper parts (range ... -1 preceding on
    integer cents) and (b) equals the max within its own price point.
    O(n log n) — the O(n²) NOT-EXISTS form (which the oracle runs,
    proving equivalence) is infeasible at scale. Exact integer
    cents/units throughout.

    The prefix-max window here is global (exact/oracle lane over the
    per-PART aggregate, not per row). When the key domain itself is
    huge, the same two-phase prefix machinery as
    quantile_bin.cumulative_value_counts applies: range-partition by
    price, local running max, broadcast per-partition boundary maxima —
    identical results, no single-task sort."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.min(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "min_price_c"
        ),
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("tot_qty"),
    )
    w_cheaper = (
        Window.orderBy("min_price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("min_price_c")
    return (
        per_part.withColumn(
            "best_cheaper", F.max("tot_qty").over(w_cheaper)
        )
        .withColumn("best_same", F.max("tot_qty").over(w_same))
        .filter(
            (
                F.col("best_cheaper").isNull()
                | (F.col("tot_qty") > F.col("best_cheaper"))
            )
            & (F.col("tot_qty") == F.col("best_same"))
        )
        .select("l_partkey", "min_price_c", "tot_qty")
    )


_SKYLINE_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      AS min_price_c,
    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS tot_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT p.l_partkey, p.min_price_c, p.tot_qty
FROM per_part p
WHERE NOT EXISTS (
  SELECT 1 FROM per_part o
  WHERE o.min_price_c <= p.min_price_c AND o.tot_qty >= p.tot_qty
    AND (o.min_price_c < p.min_price_c OR o.tot_qty > p.tot_qty)
)
"""


def q_mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via MAD (median absolute
    deviation) — the screen that, unlike z-scores, outliers cannot
    poison (mean AND stddev both move with the outlier; medians do
    not). Per nation: lower-median account balance, then lower-median
    absolute deviation, flag customers with |dev| > 3·MAD. All in exact
    integer cents; the lower median (percentile_disc semantics — the
    smallest value whose row_number doubles past the group size under
    the total order (value, key)) avoids interpolation entirely, so the
    oracle replays it bit-for-bit.

    Plan: two windowed passes over the SAME partitioning key (nation) —
    Catalyst reuses the exchange, so it is one shuffle plus local
    sorts; per-group state is the group itself (nations are numerous
    and bounded). A single fat group routes to the prefix-sum fit in
    quantile_bin, same as weighted_median."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("c_nationkey")
    wo = w.orderBy("cents", "c_custkey")
    med = F.min(
        F.when(
            2 * F.row_number().over(wo) >= F.count(F.lit(1)).over(w),
            F.col("cents"),
        )
    ).over(w)
    step1 = cust.select(
        "c_custkey", "c_nationkey", "cents", med.alias("med_cents")
    )
    dev = F.abs(F.col("cents") - F.col("med_cents"))
    wd = Window.partitionBy("c_nationkey")
    wdo = wd.orderBy(dev, "c_custkey")
    mad = F.min(
        F.when(
            2 * F.row_number().over(wdo) >= F.count(F.lit(1)).over(wd),
            dev,
        )
    ).over(wd)
    return step1.select(
        "c_custkey",
        "c_nationkey",
        "cents",
        dev.alias("dev_cents"),
        mad.alias("mad_cents"),
        (dev > 3 * mad).alias("is_outlier"),
    )


_MAD_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), m AS (
  SELECT *, min(CASE WHEN 2 * rn >= n THEN cents END)
              OVER (PARTITION BY c_nationkey) AS med_cents
  FROM (
    SELECT *,
      row_number() OVER (PARTITION BY c_nationkey
                         ORDER BY cents, c_custkey) AS rn,
      count(*) OVER (PARTITION BY c_nationkey) AS n
    FROM c
  )
), d AS (
  SELECT c_custkey, c_nationkey, cents,
         abs(cents - med_cents) AS dev_cents
  FROM m
), md AS (
  SELECT *, min(CASE WHEN 2 * rn >= n THEN dev_cents END)
              OVER (PARTITION BY c_nationkey) AS mad_cents
  FROM (
    SELECT *,
      row_number() OVER (PARTITION BY c_nationkey
                         ORDER BY dev_cents, c_custkey) AS rn,
      count(*) OVER (PARTITION BY c_nationkey) AS n
    FROM d
  )
)
SELECT c_custkey, c_nationkey, cents, dev_cents, mad_cents,
       dev_cents > 3 * mad_cents AS is_outlier
FROM md
"""


KS_SOURCE_A, KS_SOURCE_B = "src0", "src1"


def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the doc-length
    distributions of two sources — the distribution-level drift test
    next to PSI (which needs binning; KS does not). D = max over
    observed values of |F_A(v) − F_B(v)|, with each empirical CDF in
    TRUNCATED ppm (cum·1e6 div n — the truncation is part of the
    stated statistic, identical on both engines, so the result is an
    exact integer).

    The CDFs come from ONE pass over the per-VALUE histogram: groupBy
    distinct value first (the CDF is a step function — it only moves at
    observed values, so evaluating at distinct values is exact), then a
    ROWS-framed running sum. The remaining partitionless window is
    bounded by |distinct values| (the value DOMAIN — doc lengths, a few
    thousand levels), never by |rows|; same two-phase prefix-sum escape
    hatch as quantile_bin.cumulative_value_counts applies if the domain
    itself ever explodes. (VERDICT r3 nit 1: the previous shape windowed
    the raw merged sample — same result, |rows|-sized window.)"""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(
        F.col("source").isin(KS_SOURCE_A, KS_SOURCE_B)
    ).select("source", F.col("n_chars").cast("bigint").alias("v"))
    gv = d.groupBy("v").agg(
        F.sum(
            F.when(F.col("source") == KS_SOURCE_A, F.lit(1)).otherwise(F.lit(0))
        ).alias("a_cnt"),
        F.sum(
            F.when(F.col("source") == KS_SOURCE_B, F.lit(1)).otherwise(F.lit(0))
        ).alias("b_cnt"),
    )
    n = gv.agg(
        F.sum("a_cnt").alias("na"), F.sum("b_cnt").alias("nb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = gv.select(
        "v",
        F.sum("a_cnt").over(w).alias("ca"),
        F.sum("b_cnt").over(w).alias("cb"),
    ).crossJoin(F.broadcast(n))
    diff = F.abs(
        F.expr("ca * 1000000L div na") - F.expr("cb * 1000000L div nb")
    )
    return cdf.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.max(diff).alias("ks_ppm"),
    )


_KS_ORACLE = f"""
WITH d AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v
  FROM documents WHERE source IN ('{KS_SOURCE_A}', '{KS_SOURCE_B}')
), n AS (
  SELECT
    count(*) FILTER (source = '{KS_SOURCE_A}') AS na,
    count(*) FILTER (source = '{KS_SOURCE_B}') AS nb
  FROM d
), cdf AS (
  SELECT v,
    sum(CASE WHEN source = '{KS_SOURCE_A}' THEN 1 ELSE 0 END)
      OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS ca,
    sum(CASE WHEN source = '{KS_SOURCE_B}' THEN 1 ELSE 0 END)
      OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cb
  FROM d
)
SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
  CAST(max(abs(ca * 1000000 // na - cb * 1000000 // nb)) AS BIGINT)
    AS ks_ppm
FROM cdf CROSS JOIN n
"""


ITEM_SIM_TOPK = 3


def q_item_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order co-occurrence (the
    'customers who bought X also bought Y' primitive): for every part,
    its top-3 most-similar parts by SQUARED cosine over the order-
    incidence vectors — cos²(a,b) = cooc(a,b)² / (deg(a)·deg(b)),
    reported in exact truncated ppm (squaring dodges the sqrt float —
    the monotone transform preserves the ranking, the KS/ xcorr
    exact-core philosophy). Ties break on the neighbor key, so top-3
    is a stated total order.

    Plan: co-occurrence pairs from the market-basket self-join
    (orientation-bounded), degrees from one distinct aggregate
    broadcast onto the pairs, ranking via a window partitioned by the
    anchor part — no corpus-wide window, no cartesian."""
    from pyspark.sql import Window

    pairs = market_basket_pairs(spark, sf_dir).select(
        "p1", "p2", F.col("support").cast("bigint").alias("cooc")
    )
    it = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = it.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    sym = pairs.select("p1", "p2", "cooc").unionAll(
        pairs.select(
            F.col("p2").alias("p1"), F.col("p1").alias("p2"), "cooc"
        )
    )
    scored = (
        sym.join(F.broadcast(deg.toDF("p1", "deg1")), "p1")
        .join(F.broadcast(deg.toDF("p2", "deg2")), "p2")
        .select(
            "p1",
            "p2",
            "cooc",
            F.expr(
                "cooc * cooc * 1000000L div (deg1 * deg2)"
            ).alias("cos2_ppm"),
        )
    )
    w = Window.partitionBy("p1").orderBy(
        F.desc("cos2_ppm"), "p2"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= ITEM_SIM_TOPK)
        .select(
            F.col("p1").alias("p_partkey"),
            F.col("p2").alias("similar_partkey"),
            "cooc",
            "cos2_ppm",
            "rnk",
        )
    )


_ITEM_SIM_ORACLE = f"""
WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS cooc
  FROM it a JOIN it b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (SELECT l_partkey AS p, count(*) AS deg FROM it GROUP BY 1),
sym AS (
  SELECT p1, p2, cooc FROM pairs
  UNION ALL SELECT p2, p1, cooc FROM pairs
),
scored AS (
  SELECT s.p1, s.p2, CAST(s.cooc AS BIGINT) AS cooc,
    CAST(s.cooc * s.cooc * 1000000 // (d1.deg * d2.deg) AS BIGINT)
      AS cos2_ppm
  FROM sym s JOIN deg d1 ON s.p1 = d1.p JOIN deg d2 ON s.p2 = d2.p
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY p1
    ORDER BY cos2_ppm DESC, p2) AS INTEGER) AS rnk
  FROM scored
)
SELECT p1 AS p_partkey, p2 AS similar_partkey, cooc, cos2_ppm, rnk
FROM ranked WHERE rnk <= {ITEM_SIM_TOPK}
"""


def q_abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A = the prefix reaching 70% of total revenue cents, B = to
    90%, C = the tail. Membership by the same integer threshold rule as
    top-p selection (10·cum_before < 7·total ⇒ A, < 9·total ⇒ B) — the
    boundary part that crosses a threshold belongs to the HIGHER class,
    no division anywhere. One aggregation on partkey, one ranking
    window over the part-level rollup (rows = |parts|, not lineitems),
    one broadcast total."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("cents")
    )
    total = rev.agg(F.sum("cents").alias("total"))
    w = Window.orderBy(F.desc("cents"), "l_partkey")
    ranked = rev.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        "cents",
        "total",
        (F.sum("cents").over(w) - F.col("cents")).alias("cum_before"),
        F.row_number().over(w).cast("int").alias("rev_rank"),
    )
    cls = (
        F.when(10 * F.col("cum_before") < 7 * F.col("total"), F.lit("A"))
        .when(10 * F.col("cum_before") < 9 * F.col("total"), F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return ranked.select(
        "l_partkey", "cents", "rev_rank", cls.alias("abc_class")
    )


_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM lineitem GROUP BY 1
), t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
ranked AS (
  SELECT l_partkey, cents, total,
    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey) - cents
      AS BIGINT) AS cum_before,
    CAST(row_number() OVER (ORDER BY cents DESC, l_partkey) AS INTEGER)
      AS rev_rank
  FROM rev CROSS JOIN t
)
SELECT l_partkey, cents, rev_rank,
  CASE WHEN 10 * cum_before < 7 * total THEN 'A'
       WHEN 10 * cum_before < 9 * total THEN 'B'
       ELSE 'C' END AS abc_class
FROM ranked
"""


def q_supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit: Herfindahl–Hirschman index of
    supplier revenue within each supplier nation — HHI = Σ share², the
    antitrust/vendor-risk number (10_000-point scale: > 2500 =
    concentrated). Shares are per-supplier revenue in truncated ppm of
    the nation total (the truncation is part of the stated statistic),
    HHI = Σ share_ppm² div 1e8 lands on the familiar 0..10000 scale —
    exact integers only. Two aggregations (supplier rollup, nation
    rollup broadcast back), one final groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("cents")
        )
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.sum("cents").alias("nation_cents")
    )
    shares = rev.join(F.broadcast(nat), "s_nationkey").select(
        "s_nationkey",
        F.expr("cents * 1000000L div nation_cents").alias("share_ppm"),
    )
    return shares.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.expr("sum(share_ppm * share_ppm) div 100000000").alias(
            "hhi_10000"
        ),
    )


_HHI_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), nat AS (
  SELECT s_nationkey, CAST(sum(cents) AS BIGINT) AS nation_cents
  FROM rev GROUP BY 1
), shares AS (
  SELECT r.s_nationkey,
    CAST(r.cents * 1000000 // n.nation_cents AS BIGINT) AS share_ppm
  FROM rev r JOIN nat n USING (s_nationkey)
)
SELECT s_nationkey, count(*) AS n_suppliers,
  CAST(sum(share_ppm * share_ppm) // 100000000 AS BIGINT) AS hhi_10000
FROM shares GROUP BY 1
"""


def q_event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association lift between event types at user-day granularity:
    for each type pair (a < b), lift = P(a,b) / (P(a)·P(b)) over the
    user-day universe, reported as the exact integer n_ab·N·1e6 div
    (n_a·n_b) — lift > 1e6 means the types co-occur more than
    independence predicts (the association-mining score behind
    "people who error also retry"). The distinct (user, day, type)
    relation collapses events to incidence first (the same move as
    market basket's order-part dedup), so frequencies count user-days,
    not raw event volume. One distinct aggregate + a self-join on
    user-day bounded by types-per-user-day (≤ |event types|)."""
    ev = load_events(spark, sf_dir)
    inc = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "event_type",
        )
        .distinct()
    )
    # the universe size rides as a broadcast 1-row aggregate, never a
    # construction-time driver action (plan builds stay action-free)
    nd = (
        inc.select("user_id", "day")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_days"))
    )
    freq = inc.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = inc.toDF("u", "d", "ta")
    b = inc.toDF("u", "d", "tb")
    pairs = (
        a.join(b, ["u", "d"])
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    fa = freq.toDF("ta", "n_a")
    fb = freq.toDF("tb", "n_b")
    return (
        pairs.join(F.broadcast(fa), "ta")
        .join(F.broadcast(fb), "tb")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_ab",
            F.expr(
                "n_ab * n_days * 1000000L div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


_LIFT_ORACLE = """
WITH inc AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day, event_type
  FROM events
), nd AS (SELECT count(*) AS n_days FROM (SELECT DISTINCT user_id, day FROM inc)),
freq AS (SELECT event_type, count(*) AS n FROM inc GROUP BY 1),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_ab
  FROM inc a JOIN inc b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.ta AS type_a, p.tb AS type_b,
  CAST(p.n_ab AS BIGINT) AS n_ab,
  CAST(p.n_ab * nd.n_days * 1000000 // (fa.n * fb.n) AS BIGINT)
    AS lift_ppm
FROM pairs p
JOIN freq fa ON p.ta = fa.event_type
JOIN freq fb ON p.tb = fb.event_type
CROSS JOIN nd
"""


def q_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the engagement-
    diversity metric (entropy 0 = single-mode user; ln 5 ≈ 1.609 = uses
    everything evenly). Follows the unigram-LM exactness convention:
    per-type −ln(p) quantized to integer µ-nats BEFORE the weighted
    sum, entropy = Σ n_t·nll_t div n — so the cross-engine comparison
    is pure integers despite the log. Two small aggregates keyed on
    user."""
    ev = load_events(spark, sf_dir)
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("n_t").alias("n")
    )
    j = per_type.join(per_user, "user_id").select(
        "user_id",
        "n_t",
        "n",
        F.round(
            F.round(
                -F.log(F.col("n_t").cast("double") / F.col("n").cast("double")),
                6,
            )
            * 1_000_000
        ).cast("bigint").alias("nll_micro"),
    )
    return j.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.expr("sum(n_t * nll_micro) div max(n)").alias("entropy_micro"),
    )


_ENTROPY_ORACLE = """
WITH per_type AS (
  SELECT user_id, event_type, count(*) AS n_t
  FROM events GROUP BY 1, 2
), per_user AS (
  SELECT user_id, CAST(sum(n_t) AS BIGINT) AS n FROM per_type GROUP BY 1
), j AS (
  SELECT t.user_id, t.n_t, u.n,
    CAST(round(round(-ln(CAST(t.n_t AS DOUBLE) / CAST(u.n AS DOUBLE)), 6)
         * 1000000) AS BIGINT) AS nll_micro
  FROM per_type t JOIN per_user u USING (user_id)
)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
  CAST(sum(n_t * nll_micro) // max(n) AS BIGINT) AS entropy_micro
FROM j GROUP BY 1
"""


QUERIES = {
    "user_behavior_entropy": q_user_behavior_entropy,
    "event_type_lift": q_event_type_lift,
    "supplier_hhi_by_nation": q_supplier_hhi_by_nation,
    "abc_classification_parts": q_abc_classification_parts,
    "item_item_similarity": q_item_item_similarity,
    "ks_two_sample": q_ks_two_sample,
    "mad_outlier_flags": q_mad_outlier_flags,
    "ab_experiment_report": q_ab_experiment_report,
    "skyline_parts": q_skyline_parts,
    "quantile_normalize_doclen": q_quantile_normalize_doclen,
    "cdf_transform_price": q_cdf_transform_price,
    "revenue_share_by_nation": q_revenue_share_by_nation,
    "customer_rfm_segments": q_customer_rfm_segments,
    "weekly_revenue_wow": q_weekly_revenue_wow,
    "weekly_top_parts": q_weekly_top_parts,
    "doc_length_histogram_by_source": q_doc_length_histogram_by_source,
    "snapshot_diff": q_snapshot_diff,
    "join_explosion_estimate": q_join_explosion_estimate,
    "grouped_linear_regression": q_grouped_linear_regression,
    "category_drift_report": q_category_drift_report,
    "psi_numeric_drift": q_psi_numeric_drift,
    "trimmed_mean_by_source": q_trimmed_mean_by_source,
    "weighted_median_by_flag": q_weighted_median_by_flag,
    "events_retention_cohorts": q_events_retention_cohorts,
    "orders_market_basket": market_basket_pairs,  # memoized edge list
    "orders_market_basket_guarded": q_orders_market_basket_guarded,
    "key_skew_profile": q_key_skew_profile,
    "histogram_equal_width": q_histogram_equal_width,
    "profile_numeric": q_profile_numeric,
    "denormalize_star": q_denormalize_star,
    "winsorize_clip": q_winsorize_clip,
}

ORACLES = {
    "user_behavior_entropy": _ENTROPY_ORACLE,
    "event_type_lift": _LIFT_ORACLE,
    "supplier_hhi_by_nation": _HHI_ORACLE,
    "abc_classification_parts": _ABC_ORACLE,
    "item_item_similarity": _ITEM_SIM_ORACLE,
    "ks_two_sample": _KS_ORACLE,
    "mad_outlier_flags": _MAD_ORACLE,
    "ab_experiment_report": _AB_ORACLE,
    "quantile_normalize_doclen": _QNORM_ORACLE,
    "skyline_parts": _SKYLINE_ORACLE,
    "cdf_transform_price": _CDF_ORACLE,
    "revenue_share_by_nation": _REV_SHARE_ORACLE,
    "customer_rfm_segments": _RFM_ORACLE,
    "weekly_revenue_wow": _WOW_ORACLE,
    "weekly_top_parts": _WEEKLY_TOP_ORACLE,
    "doc_length_histogram_by_source": _DOCLEN_ORACLE,
    "snapshot_diff": _SNAPDIFF_ORACLE,
    "join_explosion_estimate": _EXPLOSION_ORACLE,
    "grouped_linear_regression": _GROUPED_OLS_ORACLE,
    "category_drift_report": _DRIFT_ORACLE,
    "psi_numeric_drift": _psi_oracle(),
    "trimmed_mean_by_source": _TRIMMED_ORACLE,
    "weighted_median_by_flag": _WMEDIAN_ORACLE,
    "events_retention_cohorts": _RETENTION_ORACLE,
    "orders_market_basket": _BASKET_ORACLE,
    "orders_market_basket_guarded": _BASKET_ORACLE,  # exact scale twin
    "key_skew_profile": _SKEW_ORACLE,
    "histogram_equal_width": _HIST_ORACLE,
    "profile_numeric": _PROFILE_ORACLE,
    "denormalize_star": _DENORM_ORACLE,
    "winsorize_clip": _WINSORIZE_ORACLE,
}
