"""foreachBatch sink: the production pattern for streaming into systems
without a native streaming writer (JDBC, key-value stores, table formats
before their streaming API) — each micro-batch arrives as a regular
DataFrame and the callback runs arbitrary BATCH logic on it.

Pattern here: raw event stream -> per-batch partial aggregate -> MERGE
into an accumulating per-user totals table (read target, full-outer
join, add, atomic pointer-file commit). That is the classic incremental
rollup: state lives in the TARGET TABLE, not the stream's state store,
so the stream carries no aggregation state at all (contrast
streaming/stateful.py where Spark's state store holds it).

Semantics note a reviewer should see: foreachBatch gives at-least-once
delivery — a batch can be re-run after a crash. Production pairs the
merge with the callback's ``batch_id`` (stored in the target, skip if
already applied) or a transactional sink (Delta MERGE) for effective
exactly-once; the bounded fixture drain never replays, and the oracle
equality below proves the merge arithmetic itself.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import built_once, load_events, parquet_schema, scoped_confs
from .run import STREAM_CONFS, run_to_end, table_stream


def _current_table(target_dir: str, spark: SparkSession):
    """Resolve the committed state table via the CURRENT pointer file,
    or None before the first commit."""
    ptr = os.path.join(target_dir, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return spark.read.parquet(fh.read().strip())


def _publish_table(target_dir: str, merged: DataFrame, batch_id: int) -> None:
    """Crash-safe commit shared by every foreachBatch merge sink: write
    the merged state as an immutable v{batch_id} dir, then flip the
    CURRENT pointer file with one atomic os.replace. The previous
    two-rename dance had a crash window (die between the renames and
    'current' vanishes — all prior state silently lost on restart);
    a pointer flip is a single atomic step, readers always resolve a
    complete table, and stale v* dirs are garbage, not state.
    Delta/Iceberg replace this dance with a real commit log.

    Replay guard: foreachBatch re-delivers a batch if the process dies
    between our pointer flip and the stream's checkpoint commit. On the
    re-run CURRENT already points at v{batch_id}; proceeding would
    lazily read that table while overwriting the same path (Spark's
    self-overwrite error) and, worse, double-apply the additive merge.
    batch_id is the idempotency key: if CURRENT already resolves to
    v{batch_id}, this exact batch committed — skip."""
    new_path = os.path.join(target_dir, f"v{batch_id}")
    ptr = os.path.join(target_dir, "CURRENT")
    if os.path.exists(ptr):
        with open(ptr) as fh:
            if fh.read().strip() == new_path:
                return
    merged.write.mode("overwrite").parquet(new_path)
    tmp = os.path.join(target_dir, f".ptr.{batch_id}.tmp")
    with open(tmp, "w") as fh:
        fh.write(new_path)
    os.replace(tmp, os.path.join(target_dir, "CURRENT"))


def _merge_batch(target_dir: str, spark: SparkSession):
    """Returns the foreachBatch callback closing over the target table
    location. Additive merge keyed on user_id."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
            )
        )
        cur = _current_table(target_dir, spark)
        if cur is not None:
            merged = (
                cur.join(part, "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce(cur["n_events"], F.lit(0))
                        + F.coalesce(part["n_events"], F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce(cur["sum_value"], F.lit(0).cast("decimal(12,2)"))
                        + F.coalesce(part["sum_value"], F.lit(0).cast("decimal(12,2)"))
                    ).cast("decimal(12,2)").alias("sum_value"),
                )
            )
        else:
            merged = part.select(
                "user_id", "n_events", F.col("sum_value").cast("decimal(12,2)")
            )
        _publish_table(target_dir, merged, batch_id)

    return apply


def _drain_merged(
    spark: SparkSession,
    stream: Callable[[], DataFrame],
    merge: Callable[[str, SparkSession], Callable[[DataFrame, int], None]],
    project: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Run ``stream()`` to its end (availableNow) through the foreachBatch
    sink ``merge(target_dir, spark)`` and return ``project`` of the final
    target table, materialized: the target dir is removed on return."""
    with tempfile.TemporaryDirectory(prefix="febatch_target_") as target:
        run_to_end(
            spark,
            lambda: stream()
            .writeStream.foreachBatch(merge(target, spark))
            .trigger(availableNow=True),
        )
        return project(_current_table(target, spark)).localCheckpoint()


def q_streaming_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the bounded events stream through the merge sink; return the
    final target table (decimal partials widened to double at the end —
    the cross-engine-exact pattern used by incremental_user_totals)."""
    return _drain_merged(
        spark,
        lambda: table_stream(spark, sf_dir, "events").select("user_id", "value"),
        _merge_batch,
        lambda t: t.select(
            "user_id",
            "n_events",
            F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
        ),
    )


def _cdc_merge_batch(target_dir: str, spark: SparkSession):
    """foreachBatch callback: latest-wins CDC compaction. Each batch
    reduces to its per-user latest record ((ts, event_id) argmax), then
    merges into the target by GREATEST over a (ts_us, event_id, ...)
    struct — lexicographic struct order makes 'latest wins' one
    expression, and the merge is associative/commutative, so batch
    boundaries cannot change the result (the oracle equality proves
    it)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        part = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.struct(
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("event_id"),
                    F.col("event_type"),
                    F.col("value"),
                ).alias("rec"),
            )
        )
        cur = _current_table(target_dir, spark)
        if cur is not None:
            cur = cur.withColumnRenamed("rec", "rec_cur")
            merged = cur.join(part, "user_id", "full_outer").select(
                "user_id",
                F.greatest(F.col("rec_cur"), F.col("rec")).alias("rec"),
            )
        else:
            merged = part
        _publish_table(target_dir, merged, batch_id)

    return apply


def q_streaming_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming log compaction: the drained latest-wins state table
    must equal the batch cdc_latest_snapshot exactly — which it does
    because the per-batch argmax + greatest-struct merge is the same
    total order the batch window uses."""
    # split the fixture into 3 files and feed them ONE PER MICRO-BATCH
    # (maxFilesPerTrigger=1): the greatest-struct merge then actually
    # runs twice across batch boundaries — a single-batch drain would
    # never exercise the associativity the docstring claims. The split
    # holds the NORMALIZED frame (ts already a micros timestamp), so the
    # stream schema is vintage-independent.
    def split(d: str) -> None:
        load_events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).repartition(3).write.parquet(d)

    with scoped_confs(spark, STREAM_CONFS):  # load_events sets nanosAsLong
        split_dir = built_once(os.path.join(sf_dir, "events.parquet"), "events_split3", split)
    return _drain_merged(
        spark,
        lambda: spark.readStream.schema(parquet_schema(spark, split_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir),
        _cdc_merge_batch,
        lambda t: t.select(
            "user_id",
            F.col("rec.event_type").alias("last_state"),
            F.col("rec.value").alias("last_value"),
            F.timestamp_micros(F.col("rec.ts_us")).alias("last_ts"),
        ),
    )


TOPK_K = 10


def _topk_batch(target_dir: str, spark: SparkSession):
    """foreachBatch callback maintaining a global top-K table. Top-K
    under a TOTAL order is a monoid: topk(A ∪ B) = topk(topk(A) ∪
    topk(B)), so the target never holds more than K rows and each batch
    contributes only its own top-K — bounded state regardless of stream
    length, the property that makes streaming top-k exact without a
    full-history store."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.orderBy(
            F.desc("cents"), "event_id"
        ).limit(TOPK_K)
        cur = _current_table(target_dir, spark)
        if cur is not None:
            merged = (
                cur.unionByName(part)
                .orderBy(F.desc("cents"), "event_id")
                .limit(TOPK_K)
            )
        else:
            merged = part
        _publish_table(target_dir, merged, batch_id)

    return apply


def q_streaming_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global top-10 events by exact value cents (tiebreak
    event_id — a stated total order, so the result is deterministic and
    batch-boundary-invariant): the monoid-merge foreachBatch pattern
    (see _topk_batch). The oracle is the batch top-10 over the same
    data — equality proves the merge loses nothing across micro-batch
    splits."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cents"), "event_id")
    return _drain_merged(
        spark,
        lambda: table_stream(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ),
        _topk_batch,
        lambda t: t.select(
            "event_id",
            "user_id",
            "cents",
            F.row_number().over(w).cast("int").alias("rnk"),
        ),
    )


def _hll_register_table(df: DataFrame) -> DataFrame:
    """(bucket, r) HLL register table over user_id — the same portable
    md5 construction as operators.sketches.q_hll_portable_distinct."""
    from ..operators.sketches import HLL_M

    h = F.expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 8),"
        " 16, 10) as bigint)"
    )
    return (
        df.select(
            (h % HLL_M).alias("bucket"),
            F.expr(
                f"cast(conv(substring(md5(cast(user_id as string)),"
                f" 1, 8), 16, 10) as bigint) div {HLL_M}"
            ).alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(25)).otherwise(
                F.lit(25) - F.length(F.conv(F.col("w"), 10, 2))
            ),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    )


def _hll_merge_batch(target_dir: str, spark: SparkSession):
    """foreachBatch callback: merge the batch's register table into the
    target by register-wise MAX — the HLL union. Max-merge is
    associative, commutative, and idempotent, so the final state is
    independent of how the stream was micro-batched AND survives
    at-least-once batch replays with no dedup bookkeeping at all —
    sketches are the rare sink where foreachBatch's delivery semantics
    cost literally nothing."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        part = _hll_register_table(batch_df)
        cur = _current_table(target_dir, spark)
        if cur is not None:
            merged = (
                cur.join(part, "bucket", "full_outer")
                .select(
                    "bucket",
                    F.greatest(
                        F.coalesce(cur["r"], F.lit(0)),
                        F.coalesce(part["r"], F.lit(0)),
                    ).alias("r"),
                )
            )
        else:
            merged = part
        _publish_table(target_dir, merged, batch_id)

    return apply


def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user HLL maintained across micro-batches by
    register-wise max in a foreachBatch sink — the streaming face of
    hll_rollup_merge's mergeability story. The fixture events are
    pre-split into 4 files (write-if-absent) and drained with
    maxFilesPerTrigger=1, so the merge REALLY runs across 4 batches;
    because max-merge is order/batching-invariant, the final registers
    are bit-identical to a single batch pass over the whole table,
    which is exactly what the oracle computes. Output: exact distinct,
    the estimate, and the signed error (the hll_portable_distinct
    contract, over user_id).

    Scale shape: per batch, one map-side-combinable register aggregate
    (256 rows out) and a 256-row merge — streaming state is the sketch,
    kilobytes regardless of stream volume."""
    from ..operators.sketches import HLL_ALPHA_M2, HLL_M

    # pre-split the fixture into 4 deterministic files (by user_id mod 4)
    src = os.path.join(sf_dir, "events.parquet")

    def split(d: str) -> None:
        full = spark.read.schema(schema).parquet(src)
        for i in range(4):
            full.filter(F.expr(f"pmod(user_id, 4) = {i}")).coalesce(1).write.parquet(
                os.path.join(d, f"part_{i}")
            )

    with scoped_confs(spark, STREAM_CONFS):
        schema = parquet_schema(spark, src)
        split_dir = built_once(src, "events_4split", split)

    def estimate(regs: DataFrame) -> DataFrame:
        agg = regs.agg(
            F.sum(F.pow(F.lit(2.0), -F.col("r").cast("double"))).alias("z_present"),
            F.count(F.lit(1)).alias("m_present"),
            F.sum((F.col("r") == 0).cast("bigint")).alias("zeros_present"),
        )
        z = F.col("z_present") + (F.lit(HLL_M) - F.col("m_present"))
        zeros = F.col("zeros_present") + (F.lit(HLL_M) - F.col("m_present"))
        raw = F.lit(HLL_ALPHA_M2) / z
        est = F.when(
            (raw <= 2.5 * HLL_M) & (zeros > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros.cast("double")),
        ).otherwise(raw)
        exact = spark.read.schema(schema).parquet(src).agg(
            F.countDistinct("user_id").cast("bigint").alias("n_exact")
        )
        return exact.crossJoin(F.broadcast(agg)).select(
            "n_exact",
            F.round(est * 1000).cast("bigint").alias("hll_estimate_milli"),
            F.round(
                (est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double")
                * 1_000_000.0
            )
            .cast("bigint")
            .alias("err_ppm"),
        )

    return _drain_merged(
        spark,
        lambda: spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(split_dir)
        .select("user_id"),
        _hll_merge_batch,
        estimate,
    )


QUERIES = {
    "streaming_topk_events": q_streaming_topk_events,
    "streaming_foreach_batch_upsert": q_streaming_foreach_batch_upsert,
    "streaming_cdc_latest": q_streaming_cdc_latest,
    "streaming_hll_distinct": q_streaming_hll_distinct,
}

from ..operators.sketches import HLL_ALPHA_M2 as _AM2  # noqa: E402
from ..operators.sketches import HLL_M as _M  # noqa: E402

_STREAM_HLL_ORACLE = f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
    AS hv
  FROM events
), regs AS (
  SELECT hv % {_M} AS bucket,
    max(CASE WHEN hv // {_M} = 0 THEN 25
             ELSE 25 - length(bin(hv // {_M})) END) AS r
  FROM h GROUP BY hv % {_M}
), agg AS (
  SELECT sum(pow(2.0, -CAST(r AS DOUBLE))) AS z_present,
    count(*) AS m_present,
    sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros_present
  FROM regs
), est AS (
  SELECT
    CASE WHEN {_AM2!r} / (z_present + ({_M} - m_present))
              <= 2.5 * {_M}
          AND zeros_present + ({_M} - m_present) > 0
         THEN {_M}.0 * ln({_M}.0
              / CAST(zeros_present + ({_M} - m_present) AS DOUBLE))
         ELSE {_AM2!r} / (z_present + ({_M} - m_present))
    END AS e
  FROM agg
), ex AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
)
SELECT ex.n_exact,
  CAST(round(est.e * 1000) AS BIGINT) AS hll_estimate_milli,
  CAST(round((est.e - CAST(ex.n_exact AS DOUBLE))
             / CAST(ex.n_exact AS DOUBLE) * 1000000.0) AS BIGINT)
    AS err_ppm
FROM ex CROSS JOIN est
"""

ORACLES = {
    "streaming_hll_distinct": _STREAM_HLL_ORACLE,
    "streaming_topk_events": f"""
SELECT event_id, user_id,
  CAST(round(value * 100) AS BIGINT) AS cents,
  CAST(row_number() OVER (ORDER BY round(value * 100) DESC, event_id)
    AS INTEGER) AS rnk
FROM events
ORDER BY cents DESC, event_id LIMIT {TOPK_K}
""",
    "streaming_foreach_batch_upsert": """
SELECT user_id, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY user_id
""",
    "streaming_cdc_latest": """
SELECT user_id, event_type AS last_state, value AS last_value, ts AS last_ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
}
