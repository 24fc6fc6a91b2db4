"""Stream-stream joins (Structured Streaming) over the events table.

The reference is strictly batch (SURVEY.md §2.2); this module covers the
remaining streaming-join surface: two live streams joined on a key plus
an EVENT-TIME INTERVAL condition — the attribution workload (purchase
within 2 h of a click) that at 100 TB/day runs as Kafka->Kafka with both
sides watermarked.

Why the time bound + watermarks matter at scale: an unbounded
stream-stream inner join must buffer EVERY past row of both sides
forever. The interval condition lets Spark derive a state-eviction bound
(a click older than watermark - 2 h can never match a future purchase
and is dropped from the join state), so state size is
O(rate x window), not O(history). Inner joins emit matches immediately;
the watermark exists purely to bound state.

The fixture drives both sides from the same bounded file stream; the
oracle is the equivalent batch self-join — unified-engine semantics,
checked bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .run import STATE_CONFS, drain_to_memory, table_stream


def click_purchase_joined(ev: DataFrame, how: str) -> DataFrame:
    """The production join plan, factored so tests can drive it from
    their own (multi-batch, time-advancing) stream: clicks joined
    (``how``: inner or left_outer) to same-user purchases within
    [click.ts, click.ts + 2 h], both sides watermarked 1 h. State-eviction
    bound pinned by
    tests/test_streaming.py::test_stream_join_state_is_evicted."""
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
        how,
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))


def _drain_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    return drain_to_memory(
        spark,
        lambda: click_purchase_joined(table_stream(spark, sf_dir, "events"), how),
        "append",
        STATE_CONFS,
    )


def q_streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks joined to the same user's purchases that happen within
    [click.ts, click.ts + 2 hours] — both sides streams, both
    watermarked 1 hour. Output is ids + user (timestamps omitted: the
    ns->us truncation is engine-side, ids are the stable identity)."""
    return _drain_join(spark, sf_dir, "inner")


def q_streaming_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: same attribution join, but clicks
    with no purchase in their 2 h window ALSO emit (null-extended) —
    once the watermark proves no future purchase can match them. The
    emission rule is fully deterministic and mirrored by the oracle:

    - global watermark = min over both sides of (ms-truncated max event
      time seen - 1 h delay)  [Spark's multipleWatermarkPolicy=min]
    - an unmatched click emits iff  c_ts + 2 h < watermark  (its join
      state is provably dead and gets evicted).

    Clicks younger than that stay buffered when the bounded stream
    drains — exactly what a production query would do, since a late
    purchase could still arrive; the oracle reproduces the same cutoff
    relationally, so streaming outer-join semantics are pinned
    bit-exact, including WHICH rows are withheld."""
    return _drain_join(spark, sf_dir, "left_outer")


QUERIES = {
    "streaming_click_purchase_join": q_streaming_click_purchase_join,
    "streaming_click_purchase_left_join": q_streaming_click_purchase_left_join,
}

ORACLES = {
    "streaming_click_purchase_join": """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
    "streaming_click_purchase_left_join": """
WITH wm AS (
  SELECT least(
    date_trunc('milliseconds', max(ts) FILTER (WHERE event_type = 'click')),
    date_trunc('milliseconds', max(ts) FILTER (WHERE event_type = 'purchase'))
  ) - INTERVAL 1 HOUR AS w
  FROM events
),
matched AS (
  SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
  FROM events c
  JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
),
unmatched AS (
  SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id
  FROM events c, wm
  WHERE c.event_type = 'click'
    AND c.ts + INTERVAL 2 HOUR < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
    )
)
SELECT click_id, purchase_id, user_id FROM matched
UNION ALL
SELECT click_id, purchase_id, user_id FROM unmatched
""",
}
