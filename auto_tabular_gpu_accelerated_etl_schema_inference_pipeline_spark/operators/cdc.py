"""CDC / slowly-changing-dimension shapes over the `events` change
stream (each event = a change record for its user's state).

Reference parity: the reference has no update semantics at all
(SURVEY.md §2.2 — strictly immutable batch); these are
training-data-pipeline completeness ops. All three are single-shuffle
plans partitioned by the CDC key (user_id) — the pattern that scales:
at 100 TB a snapshot/compaction never needs a global sort, only a
hash-partition by key + per-partition ordering (window over
partitionBy(key).orderBy(ts)), and AQE handles hot keys.

- SCD2 history: change rows -> [effective_from, effective_to) validity
  intervals via lead() over the key partition; open interval = current.
- Latest snapshot: row_number()=1 per key ordered by (ts, id) desc —
  the log-compaction read path of any CDC table format.
- Tombstone apply: same compaction but 'error' events are deletes; a
  key whose latest record is a tombstone disappears (MERGE ... WHEN
  MATCHED AND op='D' THEN DELETE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2: each change opens a version effective until the next change
    of the same key (half-open intervals, NULL = still current)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        "value",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def q_cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction: the latest change per key wins (deterministic
    tiebreak on event_id for equal timestamps)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_state"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


def q_cdc_apply_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-with-deletes semantics: 'error' events are tombstones; a
    key survives only if its LATEST record is not a tombstone. Same
    single-shuffle compaction plan; the delete filter is applied after
    the per-key argmax, exactly like a table-format merge-on-read."""
    ev = load_events(spark, sf_dir).withColumn(
        "op", F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("event_type").alias("last_state"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


def q_cdc_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) lookup against the SCD2 history: each
    purchase event probes the SCD2 dimension built from the user's
    NON-purchase events — "what funnel state was this user in when they
    bought". Because SCD2 intervals per key are disjoint, containment
    yields at most ONE match per probe — the lookup is an equi-join on
    the key plus a residual interval filter, no ranking window at all
    (the payoff of materializing SCD2 form). Scales as a plain key join;
    per-key interval counts bound the fan-out."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    hist = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return probes.join(
        hist,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("effective_from") <= F.col("p_ts"))
        & (
            F.col("effective_to").isNull()
            | (F.col("p_ts") < F.col("effective_to"))
        ),
    ).select(
        "purchase_id",
        "user_id",
        F.col("state").alias("state_at_purchase"),
        F.col("effective_from").alias("state_since"),
    )


QUERIES = {
    "cdc_point_in_time_lookup": q_cdc_point_in_time_lookup,
    "cdc_scd2_history": q_cdc_scd2_history,
    "cdc_latest_snapshot": q_cdc_latest_snapshot,
    "cdc_apply_tombstones": q_cdc_apply_tombstones,
}

ORACLES = {
    "cdc_point_in_time_lookup": """
WITH hist AS (
  SELECT user_id, event_type AS state,
    ts AS effective_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      AS effective_to
  FROM events WHERE event_type <> 'purchase'
), probes AS (
  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT purchase_id, user_id, state AS state_at_purchase,
  effective_from AS state_since
FROM probes JOIN hist
  ON p_user = user_id
 AND effective_from <= p_ts
 AND (effective_to IS NULL OR p_ts < effective_to)
""",
    "cdc_scd2_history": """
SELECT user_id, event_type AS state, value,
  ts AS effective_from,
  lead(ts) OVER w AS effective_to,
  lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
    "cdc_latest_snapshot": """
SELECT user_id, event_type AS last_state, value AS last_value, ts AS last_ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
    "cdc_apply_tombstones": """
SELECT user_id, event_type AS last_state, value AS last_value, ts AS last_ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND event_type <> 'error'
""",
}
