"""Custom stateful streaming operator: per-user running aggregates via
``applyInPandasWithState`` (SURVEY.md §2.2: stateful stream processing is
absent from the batch-only reference; this is the engine's arbitrary-
state surface — the building block for online dedup, rate limiting,
session models).

State design for scale: state is keyed by user_id (the shuffle key), one
small dict per user; Spark's state store shards it with the partitioning,
so state memory scales with distinct keys per executor, not stream
length. A production job adds a watermark + timeout to expire idle keys
(GroupStateTimeout); the bounded fixture stream completes before any
timeout fires.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .run import STATE_CONFS, drain_to_memory, table_stream

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATE_SCHEMA = "n bigint, total double"


def _update_user_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def run_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the bounded events stream through a per-user stateful
    counter; returns the final per-user totals (update mode — last emit
    per key wins; the bounded source makes that the complete answer)."""
    result = drain_to_memory(
        spark,
        lambda: table_stream(spark, sf_dir, "events")
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "update",
        STATE_CONFS,
    )
    return last_emit_per_user(result)


def last_emit_per_user(drained: DataFrame) -> DataFrame:
    """An update-mode sink holds one emit per key per micro-batch: the
    final state per user is its max n_events row."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def q_streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry. Oracle-checkable: the final stateful totals equal
    the batch per-user aggregate (value quantized to 2dp in both)."""
    return run_stateful_user_totals(spark, sf_dir)


QUERIES = {"streaming_stateful_user_totals": q_streaming_stateful_user_totals}

ORACLES = {
    "streaming_stateful_user_totals": """
SELECT user_id, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY user_id
""",
}
