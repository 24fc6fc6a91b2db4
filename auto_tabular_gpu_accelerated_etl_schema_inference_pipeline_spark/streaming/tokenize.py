"""Streaming quantile-bin tokenization — the reference's flagship
fit/transform pipeline (etl_benchmark.py:74,79; SURVEY.md §2.1 O5-O9)
applied to a micro-batched stream.

Topology: the FIT runs once on the batch table (the distributed exact
percentile plan — KBs of driver state), the frozen boundaries are
captured in the streaming plan, and every micro-batch runs the same
map-only JVM Bucketizer projection — no state store, no stream-side
shuffle, trivially scales to any ingest rate. This is the online-serving
shape of the model: fit offline, transform on the stream.

Oracle: transform determinism means the drained append-mode stream must
equal the batch transform — the same boundary-counting SQL that pins
quantile_bin_exact_boundaries, here with the exact (distributed) fit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..operators.quantile_bin import (
    LINEITEM_KEYS,
    LINEITEM_MEASURES,
    bucketize,
)
from .run import run_to_end, table_stream


def q_streaming_tokenize_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenize the lineitem STREAM with the frozen boundary model,
    drain the append-mode sink.

    The frozen model is SERVED from the session's cached exact-fit
    model (`cached_exact_boundaries` — the exact fit + 6dp rounding,
    fitted once per session and shared with the other model-serving
    lanes): a streaming tokenizer deploying a model it refits per query
    would not honor the train/serve split. The fit cost lives in the
    fit lanes (quantile_bin_scalable, quantile_bin_exact_boundaries);
    this entry measures what the production stream pays — per-batch
    map-only Bucketizer + sink drain."""
    from ..operators.quantile_bin_queries import cached_exact_boundaries

    bounds = cached_exact_boundaries(spark, sf_dir)
    # Parquet file sink, not the memory sink (r13, guide §5 "the driver
    # should do almost no data work": the memory sink COLLECTED the
    # full 600k-row tokenized output to the driver per drain — A/B
    # 3.1-3.9 s vs 1.5-1.7 s with a distributed file sink; row set
    # identical, value-verified by the oracle). This is also the
    # production topology the lane's docstring claims: a stream
    # tokenizer lands rows in a table, it does not collect them.
    # The data dir must outlive this call (the returned DataFrame reads
    # it lazily), so it is removed when the process exits.
    out_dir = tempfile.mkdtemp(prefix="stream_tokenize_out_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    run_to_end(
        spark,
        lambda: bucketize(
            table_stream(spark, sf_dir, "lineitem"), bounds, keep_cols=LINEITEM_KEYS
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir),
    )
    return spark.read.parquet(out_dir)


_PROBS = ",".join(str(i / 100) for i in range(101))
_BND_COLS = ",\n    ".join(
    f"list_sort(list_distinct(list_transform("
    f"list_slice(quantile_cont({c}, [{_PROBS}]), 2, 100), x -> round(x, 6)))) AS b_{c}"
    for c in LINEITEM_MEASURES
)
_BIN_COLS = ",\n  ".join(
    f"CAST(len(list_filter(b.b_{c}, x -> x <= t.{c})) AS INTEGER) AS {c}_bin"
    for c in LINEITEM_MEASURES
)

QUERIES = {"streaming_tokenize_lineitem": q_streaming_tokenize_lineitem}

ORACLES = {
    "streaming_tokenize_lineitem": f"""
WITH b AS (
  SELECT
    {_BND_COLS}
  FROM lineitem
)
SELECT t.l_orderkey, t.l_linenumber,
  {_BIN_COLS}
FROM lineitem t, b
""",
}
