"""Structured Streaming operators over the events table (SURVEY.md §2.2:
streaming is absent from the strictly-batch reference; this module is the
engine's stream surface).

The fixture parquet drives a bounded file stream (run.table_stream):
readStream -> windowed aggregation -> memory sink, run to its end and
returned as a frame by run.drain_to_memory, which leaves no conf and no
temp view on the caller's session. The SAME logical window aggregation
runs in streaming and batch (q_events_tumbling_window), so the streaming
result is oracle-checkable against the batch SQL — Spark's
unified-engine guarantee, demonstrated.

At scale the source becomes Kafka/object-store listings, the sink a
transactional table, and a watermark (`withWatermark("ts", ...)`) bounds
state for append-mode late data; complete-mode-over-bounded-input is the
fixture-friendly configuration.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .run import STATE_CONFS, drain_to_memory, table_stream


def sum_value() -> Column:
    """Exact sum of ``value`` as double: decimal partials make the sum
    independent of merge order, so stream and batch agree bit-for-bit."""
    return F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value")


def _window_sums(spark: SparkSession, sf_dir: str, window: Column) -> DataFrame:
    """Drained complete-mode (window_start, event_type, n_events,
    sum_value) over the events stream."""
    return drain_to_memory(
        spark,
        lambda: table_stream(spark, sf_dir, "events")
        .groupBy(window.alias("w"), "event_type")
        # exact count-distinct can't merge incrementally on streams; its
        # HLL stand-in (approx_count_distinct) is demonstrated by
        # agg_approx_distinct and kept OUT of this output so the
        # streaming twin is value-verifiable against the batch SQL
        .agg(F.count("*").alias("n_events"), sum_value())
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"),
        "complete",
        STATE_CONFS,
    )


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window streaming aggregation, drained to
    completion: the final (complete-mode) result as a batch DataFrame
    with the same shape as the batch q_events_tumbling_window."""
    return _window_sums(spark, sf_dir, F.window("ts", "1 hour"))


def q_streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_tumbling_window: the drained
    complete-mode result must equal the batch GROUP BY bit-for-bit
    (decimal partials make the sums merge-order-proof)."""
    return run_tumbling_stream(spark, sf_dir)


def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication (the training-pipeline dedup op on
    the stream side): watermarked dropDuplicates on (user_id, event_type)
    in append mode — each key is emitted exactly once, state for keys
    older than the watermark is evicted (bounded memory at 100 TB/day
    ingest; without the watermark streaming dedup state grows forever).

    WHICH physical row survives depends on arrival order, so the query
    returns only the KEY COLUMNS — that set is deterministic and carries
    a bit-exact DISTINCT oracle, proving streaming dedup == batch
    distinct under Spark's unified engine."""
    return drain_to_memory(
        spark,
        lambda: table_stream(spark, sf_dir, "events")
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type"),
        "append",
        STATE_CONFS,
    )


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_session_window_native: the SAME
    F.session_window(30 min) aggregation run as a stream (merging
    session state across micro-batches), drained in complete mode.
    Carries the same islands-SQL oracle as the batch query — the
    unified-engine guarantee for MERGING (variable-length) windows, a
    strictly stronger claim than the tumbling case because session
    boundaries depend on cross-batch state merges. In production this
    runs append-mode with a watermark so closed sessions emit and state
    evicts; complete-mode-over-bounded-input is the fixture-friendly
    configuration (same trade as run_tumbling_stream)."""
    return drain_to_memory(
        spark,
        lambda: table_stream(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), sum_value())
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        ),
        "complete",
        STATE_CONFS,
    )


def q_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_sliding_window: 2-hour windows sliding
    by 1 hour (every event feeds two concurrent window states), drained
    complete-mode. Carries the batch query's oracle — overlapping-window
    state merge is the incremental-maintenance case tumbling windows
    don't exercise."""
    return _window_sums(spark, sf_dir, F.window("ts", "2 hours", "1 hour"))


def q_streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dropDuplicatesWithinWatermark — the third dedup API next to batch
    dropDuplicates and streaming watermarked dropDuplicates: state for a
    key is evicted once the watermark passes its event time, so the
    guarantee is 'no duplicates within the delay', not 'exactly once
    ever' — the right contract when upstream retries can only replay
    recent data, and the reason its state stays bounded WITHOUT the
    forever-keys memory leak.

    Determinism tier: with the delay wider than the fixture's whole time
    span and a bounded drain, no key can re-emit, so the emitted key set
    equals batch DISTINCT — an exact oracle for the API wiring. The
    re-emit-after-eviction behavior is inherently arrival-order-
    dependent (which replay emits depends on batch boundaries); its
    batch-expressible twin is events_debounce's lag()-gap dedup."""
    return drain_to_memory(
        spark,
        lambda: table_stream(spark, sf_dir, "events")
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type"),
        "append",
        STATE_CONFS,
    )


def q_streaming_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sprt_sequential_test — the online experiment
    monitor: the STREAM maintains the hourly (trials, conversions)
    increments (complete-mode windowed aggregation, the state a real
    monitor keeps), and the sequential decision (cumulative LLR against
    the Wald boundaries) is evaluated on the drained state exactly as
    the batch operator evaluates it. Same answer as the batch SPRT by
    construction — the value-verified guarantee that moving the
    experiment readout online does not change the decision.

    Scale: per-micro-batch state is |hours| rows (event-time windowed
    counts — tiny, mergeable); the decision query runs on that bounded
    state, never the raw stream."""
    from ..operators.eval_stats import (
        SPRT_BOUND_MICRO,
        SPRT_P0,
        SPRT_P1,
    )
    import math

    drained = drain_to_memory(
        spark,
        lambda: table_stream(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("x"),
        )
        .select(F.col("w.start").alias("h"), "n", "x"),
        "complete",
        STATE_CONFS,
    )
    c1_mu = int(round(round(math.log(SPRT_P1 / SPRT_P0), 6) * 1e6))
    c0_mu = int(
        round(round(math.log((1 - SPRT_P1) / (1 - SPRT_P0)), 6) * 1e6)
    )
    from pyspark.sql import Window

    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cum = drained.withColumn(
        "llr",
        F.sum(
            F.col("x") * F.lit(c1_mu)
            + (F.col("n") - F.col("x")) * F.lit(c0_mu)
        ).over(w),
    )
    agg = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.min(
            F.when(F.col("llr") >= SPRT_BOUND_MICRO, F.col("h"))
        ).alias("first_up"),
        F.min(
            F.when(F.col("llr") <= -SPRT_BOUND_MICRO, F.col("h"))
        ).alias("first_dn"),
        F.max_by("llr", "h").cast("bigint").alias("llr_final_micro"),
    )
    decision = (
        F.when(
            F.col("first_up").isNotNull()
            & (
                F.col("first_dn").isNull()
                | (F.col("first_up") <= F.col("first_dn"))
            ),
            F.lit("accept_h1"),
        )
        .when(F.col("first_dn").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    return agg.select(
        "n_hours",
        decision.alias("decision"),
        # least() = the firing boundary's hour (h1 fires iff first_up <=
        # first_dn); mirrors the batch SPRT fix in eval_stats.py
        F.least(F.col("first_up"), F.col("first_dn")).alias(
            "decision_hour"
        ),
        "llr_final_micro",
    )


QUERIES = {
    "streaming_sprt_monitor": q_streaming_sprt_monitor,
    "streaming_tumbling_window": q_streaming_tumbling_window,
    "streaming_dedup_keys": q_streaming_dedup_keys,
    "streaming_dedup_within_watermark": q_streaming_dedup_within_watermark,
    "streaming_session_window": q_streaming_session_window,
    "streaming_sliding_window": q_streaming_sliding_window,
}

from ..operators.timeseries import ORACLES as _TS_ORACLES  # noqa: E402

from ..operators.eval_stats import _sprt_oracle as _sprt_oracle_sql  # noqa: E402

ORACLES: dict[str, str] = {
    # the streaming monitor must reach the SAME decision as the batch
    # SPRT — one oracle serves both
    "streaming_sprt_monitor": _sprt_oracle_sql(),
    "streaming_tumbling_window": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    "streaming_dedup_keys": """
SELECT DISTINCT user_id, event_type FROM events
""",
    "streaming_dedup_within_watermark": """
SELECT DISTINCT user_id, event_type FROM events
""",
    # byte-identical oracle to the batch native session_window query:
    # streaming and batch must agree with the islands SQL
    "streaming_session_window": _TS_ORACLES["events_session_window_native"],
    # and the batch sliding-window SQL for the overlapping-window case
    "streaming_sliding_window": _TS_ORACLES["events_sliding_window"],
}
