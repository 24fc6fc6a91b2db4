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

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windows import _events_stream


def _checkpoint_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) a checkpoint whose operator-0 state is
    the per-event_type running count over the whole events table."""
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    stat = os.stat(src)
    tag = hashlib.md5(
        f"{src}:{stat.st_size}:{int(stat.st_mtime)}".encode()
    ).hexdigest()[:12]
    ck = os.path.join(tempfile.gettempdir(), f"state_ck_counts_{tag}")
    if not os.path.exists(ck):
        # build under a process-unique path, rename into place when the
        # stream has fully stopped: atomic publish, no marker-file race
        # with a concurrent builder (the events_4split discipline);
        # uuid suffix keeps same-process threads and retries disjoint
        build = f"{ck}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        agg = _events_stream(spark, sf_dir).groupBy("event_type").count()
        q = (
            agg.writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", build)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        try:
            os.rename(build, ck)
        except OSError:  # another process won the race
            import shutil

            shutil.rmtree(build, ignore_errors=True)
    return ck


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
