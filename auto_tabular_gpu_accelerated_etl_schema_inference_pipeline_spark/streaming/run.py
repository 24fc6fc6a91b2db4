"""The one stream runner every streaming lane goes through. A lane keeps
only what differs (its query, its sink's output mode, the projection of
the drained result); this module owns the rest:

- ``table_stream``: a bounded file stream over one fixture table;
- ``run_to_end``: build a stream and its sink, start it, process all of
  its input, stop it;
- ``drain_to_memory``: run a stream to its end into a memory sink and
  return the drained rows as a frame.

Per-fixture artifact directories (stream source dirs, pre-split inputs,
a state checkpoint) come from ``session.built_once``.

Session state: the confs a stream needs (STREAM_CONFS plus the lane's
own) are set only around the source build and ``start()``. A started
query runs on a clone of the session taken at ``start()``, so the
caller's confs are restored right after it. The memory sink's temp view
is dropped as soon as its frame is resolved: the frame holds the sink's
rows itself, so they live exactly as long as the frame and nothing is
left on the caller's session.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..session import built_once, normalize_event_ts, parquet_schema, scoped_confs

#: confs every stream is built and started under: the events fixture's
#: TIMESTAMP(NANOS) ts is read as epoch nanos (normalize_event_ts
#: truncates them), which Spark's parquet reader otherwise rejects
STREAM_CONFS = {"spark.sql.legacy.parquet.nanosAsLong": "true"}

#: confs of the stateful lanes (a windowed aggregate, a dedup, a grouped
#: state store, a stream-stream join): one state store is initialized
#: per shuffle partition per micro-batch, so the width follows the
#: fixture's key count (150 users), not the caller's shuffle width. At a
#: default session's 200 the two stream-join lanes took 55 s and 50 s at
#: sf0.01 on local[8]; at 8 they take 10 s and 4 s. A real deployment
#: sizes this to key cardinality / cluster width; the width is baked
#: into the checkpoint at start, like production.
STATE_CONFS = {"spark.sql.shuffle.partitions": "8"}


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Bounded file stream over ``<table>.parquet`` with the schema the
    batch reader infers (session.parquet_schema: memoized, no Spark
    job); the events ts gets load_events' normalization. A file-stream
    source must be a directory, so the file is exposed through a
    symlink in a per-fixture directory."""
    src = os.path.join(sf_dir, f"{table}.parquet")

    def link(d: str) -> None:
        os.makedirs(d)
        os.symlink(os.path.abspath(src), os.path.join(d, f"{table}.parquet"))

    stream_dir = built_once(src, f"{table}_stream", link)
    stream = spark.readStream.schema(parquet_schema(spark, src)).parquet(stream_dir)
    return normalize_event_ts(stream) if table == "events" else stream


def run_to_end(
    spark: SparkSession,
    writer: Callable[[], DataStreamWriter],
    confs: dict[str, str] | None = None,
    checkpoint: str | None = None,
) -> None:
    """Build a stream and its sink (``writer()``), start it, process all
    of its input and stop it, also on failure. ``writer()`` and
    ``start()`` run under STREAM_CONFS and ``confs``; the caller's
    values come back once the query has started. The checkpoint is a
    temporary directory removed after the stop, unless ``checkpoint``
    names one to keep."""
    with tempfile.TemporaryDirectory(prefix="stream_ckpt_") as tmp:
        with scoped_confs(spark, {**STREAM_CONFS, **(confs or {})}):
            q = writer().option("checkpointLocation", checkpoint or tmp).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def drain_to_memory(
    spark: SparkSession,
    stream: Callable[[], DataFrame],
    mode: str,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run ``stream()`` to its end into a memory sink in output ``mode``
    (run_to_end, with ``confs``) and return the drained rows. The sink's
    temp view has a name unique to this call and is dropped before
    returning, also on failure."""
    name = f"stream_{uuid.uuid4().hex}"
    try:
        run_to_end(
            spark,
            lambda: stream().writeStream.outputMode(mode).format("memory").queryName(name),
            confs,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
