"""Arbitrary stateful streaming v2: ``transformWithStateInPandas``
(Spark 4's StatefulProcessor API — the successor to
``applyInPandasWithState`` in streaming/stateful.py, kept side by side
the way a migrating production fleet would run both).

What the new API buys at scale: named state variables (value/list/map)
instead of one opaque tuple, per-key timers, initial-state bootstrap,
and schema evolution of state — all on the RocksDB state store provider,
which spills per-key state to local disk so state size is bounded by
disk, not executor heap (the applyInPandasWithState/HDFS-backed provider
keeps the working set in memory). Same sharding model: state lives with
the shuffle key.

Oracle: the drained bounded stream's final per-user state must equal the
batch aggregate over the same fixture (exact n/sum/max, value quantized
to 2dp on both sides).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from .run import drain_to_memory, table_stream
from .stateful import last_emit_per_user

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, max_value double"
)
STATE_SCHEMA = "n bigint, total double, mx double"


class UserStatsProcessor(StatefulProcessor):
    """Per-user running (count, sum, max) in a named ValueState."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("user_stats", STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        if self._state.exists():
            n, total, mx = self._state.get()
        else:
            n, total, mx = 0, 0.0, float("-inf")
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        self._state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "max_value": [mx],
            }
        )

    def close(self) -> None:
        pass


def q_streaming_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the bounded events stream through the StatefulProcessor;
    return the final per-user stats (last emit per key wins)."""
    return last_emit_per_user(
        drain_to_memory(
            spark,
            lambda: table_stream(spark, sf_dir, "events")
            .select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=UserStatsProcessor(),
                outputStructType=OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            ),
            "update",
            # transformWithState requires the RocksDB state store provider
            {
                "spark.sql.streaming.stateStore.providerClass": "org.apache.spark.sql"
                ".execution.streaming.state.RocksDBStateStoreProvider"
            },
        )
    )


def tws_available() -> bool:
    """transformWithState's Python driver worker speaks protobuf to the
    JVM state server (transform_with_state_driver_worker.py imports
    google.protobuf); without the protobuf package the query crashes at
    state-schema validation. Gate registration on it — environments with
    protobuf (any standard Spark 4 deployment) get the query + oracle
    automatically."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


QUERIES = (
    {"streaming_tws_user_stats": q_streaming_tws_user_stats}
    if tws_available()
    else {}
)

ORACLES = {
    "streaming_tws_user_stats": """
SELECT user_id, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value,
  CAST(max(value) AS DOUBLE) AS max_value
FROM events
GROUP BY user_id
""",
} if tws_available() else {}
