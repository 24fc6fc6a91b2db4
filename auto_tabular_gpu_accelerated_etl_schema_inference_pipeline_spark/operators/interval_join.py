"""Bucketized point-in-interval join — the scalable plan for interval
joins WITHOUT an equi key.

The reference has no joins at all (SURVEY.md §2.2); timeseries.py's
events_range_join covers the interval join that HAS a user equi-key. This
module covers the harder shape (IP-range lookup, geo tiles, calendar
windows): every point must be tested against every interval, which Spark
plans as a BroadcastNestedLoopJoin — fine only while one side broadcasts.

The scale path implemented here turns the non-equi predicate into an
equi-join: pick a bucket width >= the maximum interval length, explode
each interval to the (<= 2) buckets it overlaps, tag each point with its
single bucket, equi-join on the bucket, then verify exact containment
with a cheap residual filter. Correctness is bucket-width-independent (a
point and an interval that overlap ALWAYS share the point's bucket when
width >= max interval length — the interval cannot skip over it); the
width only tunes fan-out (explode factor <= 2) vs selectivity of the
residual filter. No duplicate matches: a point lives in exactly one
bucket and an interval's exploded bucket rows are distinct.

At fixture scale the interval side also happens to broadcast; at 100 TB
both sides stay distributed and the bucket equi-join shuffles fixed-width
(bucket, key) pairs — no nested loop anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table

_US_PER_DAY = 86_400_000_000


def bucketized_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Inner-join `points` to every interval with start <= point <= end
    (integer units), via bucket-expansion equi-join. `bucket_width` must
    be >= the maximum interval length (end - start + 1)."""
    ivx = intervals.withColumn(
        "_bk",
        F.explode(
            F.expr(
                f"sequence({start_col} div {bucket_width},"
                f" {end_col} div {bucket_width})"
            )
        ),
    )
    pts = points.withColumn("_bk", F.expr(f"{point_col} div {bucket_width}"))
    return (
        pts.join(ivx, "_bk")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_bk")
    )


#: orders above this total define the interval side; window is the 3-day
#: span [orderdate, orderdate + 2] in epoch days.
BIG_ORDER_THRESHOLD = 450_000
WINDOW_DAYS = 3
_BUCKET_DAYS = 4  # >= WINDOW_DAYS, so each interval overlaps <= 2 buckets


def _epoch_day(col: str) -> Column:
    # TPC-H date columns land as TIMESTAMP_NTZ (midnight-valued); the
    # date cast truncates without any timezone shift on either engine.
    return F.expr(f"datediff(cast({col} as date), date'1970-01-01')").cast(
        "long"
    )


def q_interval_bucket_join_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """For each high-value order, count ALL lineitems (any order) shipped
    during the 3 days starting at its order date — a keyless calendar-
    window join ("what shipped fleet-wide while this order was placed"),
    executed as the bucketized equi-join, never a nested loop."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = orders.filter(F.col("o_totalprice") > BIG_ORDER_THRESHOLD).select(
        "o_orderkey",
        _epoch_day("o_orderdate").alias("sd"),
        (_epoch_day("o_orderdate") + F.lit(WINDOW_DAYS - 1)).alias("ed"),
    )
    pts = li.select(
        "l_quantity", _epoch_day("l_shipdate").alias("pd")
    )
    joined = bucketized_interval_join(pts, iv, "pd", "sd", "ed", _BUCKET_DAYS)
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipped"),
        F.round(F.sum("l_quantity"), 0).cast("bigint").alias("qty_shipped"),
    )


_INTERVAL_ORACLE = f"""
WITH iv AS (
  SELECT o_orderkey,
    epoch_us(o_orderdate) // {_US_PER_DAY} AS sd,
    epoch_us(o_orderdate) // {_US_PER_DAY} + {WINDOW_DAYS - 1} AS ed
  FROM orders WHERE o_totalprice > {BIG_ORDER_THRESHOLD}
)
SELECT o_orderkey, count(*) AS n_shipped,
  CAST(round(sum(l_quantity), 0) AS BIGINT) AS qty_shipped
FROM iv JOIN lineitem
  ON (epoch_us(l_shipdate) // {_US_PER_DAY}) BETWEEN sd AND ed
GROUP BY o_orderkey
"""


SPAN_TERM = "slow"
SPAN_PAD = 2


def q_interval_merge_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION (merge overlapping spans) — the redaction/
    highlight-consolidation primitive (PII spans, search-hit windows,
    genomic intervals all need "coalesce overlaps before acting"):
    per document, token spans of ±2 around every SPAN_TERM hit are
    merged wherever they overlap, reporting raw-hit count, merged-run
    count, and total covered tokens. The sweep is gaps-and-islands on
    intervals: order spans by start; a span opens a NEW island iff its
    start exceeds the running max end of all EARLIER spans (strictly —
    touching spans merge); island id = running sum of that flag. Two
    window passes partitioned by doc — state per doc is its span list.
    """
    from pyspark.sql import Window

    from ..session import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
    )
    hits = base.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.posexplode("toks").alias("pos0", "tok"),
    ).filter(F.col("tok") == SPAN_TERM)
    spans = hits.select(
        "doc_id",
        F.greatest(F.lit(1), F.col("pos0") + 1 - SPAN_PAD).alias("s"),
        F.least(F.col("n_toks"), F.col("pos0") + 1 + SPAN_PAD).alias("e"),
    )
    wo = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.select(
        "doc_id",
        "s",
        "e",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        ).otherwise(0).alias("new_island"),
    )
    islanded = flagged.select(
        "doc_id",
        "s",
        "e",
        F.sum("new_island").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("island"),
    )
    merged = islanded.groupBy("doc_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"),
        F.count(F.lit(1)).alias("raw_in_island"),
    )
    return merged.groupBy("doc_id").agg(
        F.sum("raw_in_island").alias("n_raw_spans"),
        F.count(F.lit(1)).alias("n_merged_spans"),
        F.sum(F.col("me") - F.col("ms") + 1).alias("covered_tokens"),
    )


_SPAN_MERGE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), hits AS (
  SELECT doc_id, len(toks) AS n_toks, CAST(u.i AS INTEGER) AS pos
  FROM t, unnest(generate_series(1, len(t.toks))) AS u(i)
  WHERE toks[u.i] = '{SPAN_TERM}'
), spans AS (
  SELECT doc_id,
    greatest(1, pos - {SPAN_PAD}) AS s,
    least(n_toks, pos + {SPAN_PAD}) AS e
  FROM hits
), flagged AS (
  SELECT doc_id, s, e,
    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    THEN 1 ELSE 0 END AS new_island
  FROM spans
), islanded AS (
  SELECT doc_id, s, e,
    sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), merged AS (
  SELECT doc_id, island, min(s) AS ms, max(e) AS me,
    count(*) AS raw_in_island
  FROM islanded GROUP BY 1, 2
)
SELECT doc_id,
  CAST(sum(raw_in_island) AS BIGINT) AS n_raw_spans,
  count(*) AS n_merged_spans,
  CAST(sum(me - ms + 1) AS BIGINT) AS covered_tokens
FROM merged GROUP BY 1
"""


QUERIES = {
    "interval_bucket_join_orders": q_interval_bucket_join_orders,
    "interval_merge_spans": q_interval_merge_spans,
}
ORACLES = {
    "interval_bucket_join_orders": _INTERVAL_ORACLE,
    "interval_merge_spans": _SPAN_MERGE_ORACLE,
}
