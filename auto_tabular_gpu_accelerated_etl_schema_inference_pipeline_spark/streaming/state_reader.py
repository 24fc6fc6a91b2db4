"""State Store reader (SURVEY.md §2.2 streaming surface): query a
Structured Streaming checkpoint's STATE as a table.

The reference has no streaming at all; for a production stream the
state store is the part you cannot otherwise see — `spark.read.format(
"statestore")` (Spark 4) opens the checkpoint's per-operator state as a
(key, value, partition_id) relation, which is how an operator debugs a
stuck aggregation, audits exactly-once counts after a failover, or
backfills a serving table straight from state without replaying the
source. Here the checkpoint is built once per fixture (write-if-absent,
the tokenize_generated pattern) by a bounded complete-mode count stream,
then the state table is read back and verified value-for-value against
the batch aggregate — the strongest equivalence claim for the unified
engine: the bytes persisted in streaming state equal the batch GROUP BY.

Scale shape: the state read is a parallel scan over the checkpoint's
per-partition state files (one task per store partition), never a
driver-side replay; the one-time stream itself is the fixture-bounded
complete-mode aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import built_once
from .run import run_to_end, table_stream


def _checkpoint_for(spark: SparkSession, sf_dir: str) -> str:
    """The checkpoint (built once per fixture) whose operator-0 state is
    the per-event_type running count over the whole events table."""

    def build(ck: str) -> None:
        run_to_end(
            spark,
            lambda: table_stream(spark, sf_dir, "events")
            .groupBy("event_type")
            .count()
            .writeStream.format("noop")
            .outputMode("complete"),
            checkpoint=ck,
        )

    return built_once(os.path.join(sf_dir, "events.parquet"), "state_ck_counts", build)


def q_statestore_reader_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the streaming aggregation's state store as a table and
    project (event_type, n_events). The oracle is the plain batch
    GROUP BY — passing means the persisted state bytes encode exactly
    the batch answer (unified-engine equivalence, checked at the
    storage layer rather than the sink)."""
    # cached forked session for the read: the HDFS-backed provider's
    # snapshot-lag telemetry phones a StateStoreCoordinator RPC endpoint
    # that only exists while a streaming query is RUNNING — a batch read
    # of a cold checkpoint (this query's whole point) would die on the
    # missing endpoint. The conf is read-path telemetry only; forking
    # keeps it from leaking into the caller's streaming queries, and
    # the per-purpose cache keeps repeated runs from leaking sessions.
    from ..session import forked_session

    s = forked_session(spark, "streaming.state_reader")
    s.conf.set(
        "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag",
        "false",
    )
    ck = _checkpoint_for(s, sf_dir)
    st = s.read.format("statestore").load(ck)
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )


_STATE_COUNTS_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


QUERIES = {
    "statestore_reader_counts": q_statestore_reader_counts,
}

ORACLES = {
    "statestore_reader_counts": _STATE_COUNTS_ORACLE,
}
