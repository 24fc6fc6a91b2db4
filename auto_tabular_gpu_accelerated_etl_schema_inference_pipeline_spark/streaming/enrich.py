"""Stream-static enrichment join (SURVEY.md §2.2 streaming surface):
a micro-batched event stream joined to a STATIC dimension table, then
aggregated — the canonical "enrich clicks with the user/customer dim"
topology.

Physical shape: the static side is a batch DataFrame captured in the
streaming plan; with the dimension under the broadcast threshold every
micro-batch does a map-side hash join against the broadcast dim — no
stream-side shuffle for the join at all, which is what makes the pattern
viable at 100 TB/day ingest (the alternative, stream-stream join, would
keep join state). The aggregation then shuffles only the tiny per-batch
aggregate deltas.

Oracle: the same join+aggregate as one batch SQL — Spark's unified
engine means the drained complete-mode result must match bit-for-bit
(decimal partials make the sum aggregation order-proof)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .run import STATE_CONFS, drain_to_memory, table_stream
from .windows import sum_value


def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream ⋈ broadcast(customer) on user_id = c_custkey,
    aggregated per (c_mktsegment, event_type): row counts and exact
    decimal value sums. Complete-mode memory sink, drained."""
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    return drain_to_memory(
        spark,
        lambda: table_stream(spark, sf_dir, "events")
        .join(cust, F.col("user_id") == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        # exact count-distinct is unsupported on streams (it can't be
        # incrementally merged); approx_count_distinct is the
        # streaming-native sketch — kept OUT of the oracle columns
        .agg(F.count("*").alias("n_events"), sum_value()),
        "complete",
        STATE_CONFS,
    )


QUERIES = {"streaming_static_enrich": q_streaming_static_enrich}

ORACLES = {
    "streaming_static_enrich": """
SELECT c_mktsegment, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
""",
}
