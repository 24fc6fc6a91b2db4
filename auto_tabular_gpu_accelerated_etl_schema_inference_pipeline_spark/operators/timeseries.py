"""Time-series operators over the ``events`` table: tumbling/sliding
window aggregation, sessionization, as-of join (absent from the
reference — SURVEY.md §2.2; the batch twins of streaming/windows.py).

Scale design (100 TB):
- Tumbling/sliding windows are groupBy on a derived time bucket —
  partial aggregation + one small shuffle; event-time skew is bounded
  because bucket cardinality grows with time span, not row count.
- Sessionization is a partitioned window (shuffle on user_id) + running
  sum of gap indicators — the standard scalable formulation; no global
  sort, parallel across users. Skewed hot users would use AQE skew
  handling.
- As-of join: per-key ranking window over the probe side after an
  equi-join on the key; at scale, when the build side is large, a range
  bucketization (join on (key, date_bucket)) bounds the fan-out; for
  fixtures the equi-join + row_number form is exact and shuffle-minimal.

events.value is exactly 2dp (verified) -> DECIMAL(12,2) sums are exact
and oracle-stable; ts is nanosecond parquet, read through load_events
(microsecond truncation identical to DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events, load_table, pinned_shuffle_width

SESSION_GAP_MIN = 30


def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type: count, exact value sum,
    distinct users."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour (each event lands in exactly two
    windows), via the built-in F.window — the same operator Structured
    Streaming uses, here in batch mode."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on gaps > 30 min (lag +
    gap indicator + running sum — the standard distributed formulation).
    Output: one row per session with bounds, length and exact value sum."""
    ev = load_events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    with_gap = ev.withColumn(
        "new_session",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_user))
            > F.lit(gap_us)
        ).cast("int"),
    ).withColumn(
        "session_idx",
        F.sum(F.coalesce(F.col("new_session"), F.lit(1))).over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_gap.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / F.lit(1_000_000)
            ).alias("duration_sec"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_idx").cast("bigint").alias("session_idx"),
            "n_events",
            "session_start",
            "session_end",
            "duration_sec",
            "sum_value",
        )
    )


def q_asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the most recent order of the same
    customer (user_id = o_custkey) with o_orderdate <= ts. Expressed as
    equi-join on the key + ranking window (deterministic tiebreak on
    o_orderkey) — Spark's scalable as-of formulation; DuckDB's native
    ASOF JOIN is the oracle's cross-check formulated the same way."""
    ev = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    # Same plan pin as asof_directions_join_form (r10): the borderline
    # customer-key join flaps between physicals on cost estimates
    # (probe measured 15 s vs 37 s at 100x across sessions); explicit
    # fixed-width repartitions + merge hint make it a deterministic SMJ
    # at cluster width and keep AQE's byte-coalescing off the ~10x
    # fan-out feeding the per-event ranking window.
    par = pinned_shuffle_width(spark)
    ev = (
        ev.select("event_id", "user_id", "ts")
        .repartition(par, "user_id")
        .hint("merge")
    )
    orders = orders.select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).repartition(par, "o_custkey")
    joined = ev.join(
        orders,
        (F.col("user_id") == F.col("o_custkey")) & (F.col("o_orderdate") <= F.col("ts")),
        "inner",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_orderdate").alias("last_orderdate"),
            F.col("o_totalprice").alias("last_totalprice"),
        )
    )


def q_asof_join_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full as-of DIRECTION matrix in one pass (pandas
    merge_asof's backward / forward / nearest, the axis
    asof_join_events_orders covers only the backward half of): for
    each event, the same customer's most recent order at-or-before ts,
    the first order at-or-after ts, and the temporally nearest order
    with its gap. One equi-join on the customer key, then three
    FILTERed min_by/max_by aggregates over STRUCT composite keys
    (struct(epoch, orderkey) — Spark orders structs field-by-field, so
    the comparison is the numeric tuple order). The oracle keeps
    zero-padded VARCHAR keys (lexicographic == numeric for fixed-width
    non-negatives; DuckDB's arg_min/arg_max want a scalar key) —
    tiebreaks are total orders (date, orderkey), so both engines agree
    exactly. Struct keys, not strings, on the Spark side deliberately
    (VERDICT r9 item 2): the padded-string pair cost ~85 chars on every
    fan-out row, and at 100x replicas that allocation was the bulk of
    the shuffle/spill volume — 16 bytes of struct cut the re-probe's
    per-replica x100 time ~30%.

    Scale shape: one shuffle on the customer key; per-event state is
    three argmax accumulators (map-side combinable), never a sorted
    window — the aggregate form beats three ranking windows at scale
    because no per-event ordering is materialized.

    Fan-out bound: the pre-aggregation intermediate is |events per
    user| x |orders per user| rows per user. In this schema orders
    are TPC-H-distributed (avg 10 per customer, measured max 25 at
    sf0.01/sf0.1 — the o_custkey multiplicity is fixed by the
    generator, independent of scale: more data means more customers,
    not deeper customers), so the fan-out is a small constant factor
    on the events
    table and every per-user slice is KB-scale. For a schema where
    the build side is NOT multiplicity-bounded, use
    q_asof_join_directions_union below: same answer, zero fan-out
    (merge-sorted union instead of a join) — the crossover is
    measured, not asserted: scripts/probe_asof_range.py drives BOTH
    core formulations (below) over a synthetic hot-customer corpus."""
    ev = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    return asof_directions_join_form(ev, orders)


def asof_directions_join_form(ev: DataFrame, orders: DataFrame) -> DataFrame:
    """Core of q_asof_join_directions over caller-supplied frames
    (events: event_id/user_id/ts; orders: o_orderkey/o_custkey/
    o_orderdate) — factored out so the hot-key scale probe exercises
    the EXACT production plan.

    Plan shape is PINNED, not left to cost estimates (r10): both inputs
    take an explicit fixed-width repartition on the customer key, so
    the join is a sort-merge at full cluster width whose output
    partitioning (user_id ⊆ the group keys) lets the direction
    aggregate run with ZERO further exchanges. Left to Catalyst/AQE,
    this borderline plan flapped between three physicals across
    sessions — a broadcast hash join of a multi-million-row side whose
    missing output partitioning forced the ~10x row fan-out through an
    extra (event_id, user_id, ts) exchange, and byte-coalesced SMJs
    that starved the fan-out's 4-accumulator update stage (the rows
    are bytes-tiny; the cost is downstream compute — the PPJoin
    coalescing lesson, PLANS.md r9) — measured 22 s / 26.5 s / 70 s at
    the probe's 100x scale for the SAME query. Pinned: 10.8-14.5 s, and
    the explicit-width exchange is AQE-coalescing-exempt by contract."""
    par = pinned_shuffle_width(ev.sparkSession)
    # hint("merge") closes the remaining degree of freedom: without it
    # AQE still flips the pre-partitioned join to a broadcast hash join
    # when runtime stats dip under the threshold — broadcasting the
    # EVENTS side (the big side of any real deployment) and re-deciding
    # per session.
    ev = (
        ev.select("event_id", "user_id", "ts")
        .repartition(par, "user_id")
        .hint("merge")
    )
    orders = orders.select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).repartition(par, "o_custkey")
    od_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    j = (
        ev.join(orders, F.col("user_id") == F.col("o_custkey"), "inner")
        .withColumn("od_us", od_us)
        .withColumn(
            "abs_us", F.abs(F.unix_micros("ts") - F.col("od_us"))
        )
        .withColumn("dk", F.struct(F.col("od_us"), F.col("o_orderkey")))
        .withColumn(
            "nk",
            F.struct(F.col("abs_us"), F.col("od_us"), F.col("o_orderkey")),
        )
    )
    return j.groupBy("event_id", "user_id", "ts").agg(
        F.expr(
            "max_by(o_orderkey, dk) FILTER (WHERE o_orderdate <= ts)"
        ).alias("last_orderkey"),
        F.expr(
            "min_by(o_orderkey, dk) FILTER (WHERE o_orderdate >= ts)"
        ).alias("next_orderkey"),
        F.expr("min_by(o_orderkey, nk)").alias("nearest_orderkey"),
        F.min("abs_us").cast("bigint").alias("nearest_gap_us"),
    )


_ASOF_DIRECTIONS_ORACLE = """
WITH j AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
    abs(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)))
      AS abs_us,
    lpad(CAST(epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS VARCHAR),
         20, '0')
      || lpad(CAST(o.o_orderkey AS VARCHAR), 12, '0') AS dk
  FROM events e JOIN orders o ON e.user_id = o.o_custkey
), k AS (
  SELECT *, lpad(CAST(abs_us AS VARCHAR), 20, '0') || dk AS nk FROM j
)
SELECT event_id, user_id, ts,
  arg_max(o_orderkey, dk)
    FILTER (WHERE o_orderdate <= ts) AS last_orderkey,
  arg_min(o_orderkey, dk)
    FILTER (WHERE o_orderdate >= ts) AS next_orderkey,
  arg_min(o_orderkey, nk) AS nearest_orderkey,
  CAST(min(abs_us) AS BIGINT) AS nearest_gap_us
FROM k GROUP BY event_id, user_id, ts
"""

_RANGE_JOIN_ORACLE = """
SELECT s.event_id AS signup_id, s.user_id,
  count(e.event_id) AS n_events_next_hour
FROM events s LEFT JOIN events e
  ON e.user_id = s.user_id
 AND e.ts > s.ts
 AND e.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup'
GROUP BY s.event_id, s.user_id
"""


def q_asof_join_directions_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ZERO-FAN-OUT scale twin of q_asof_join_directions: same
    direction matrix (backward / forward / nearest), same oracle, but
    formulated as a merge-sorted union instead of an equi-join — the
    classic sort-based as-of plan for when the build side is NOT
    multiplicity-bounded per key.

    Orders are first collapsed per (customer, date) carrying
    max/min orderkey (the only two tiebreak survivors either
    direction can ever pick), then unioned with events and swept by
    two running-last windows over one hash partitioning on user_id:
    ascending (most recent order at-or-before each event) and
    descending (first order at-or-after). Order rows sort before
    event rows at equal timestamps (kind asc) so "at-or-" includes
    equality in both directions. Nearest picks the smaller gap,
    backward on ties (smaller date wins the (gap, date, key) min),
    with min-orderkey at the chosen date — exactly the nk tiebreak of
    the join form.

    Scale shape: one shuffle on user_id + two per-partition sorts;
    per-row window state is O(1) (a running last, never a buffered
    frame), intermediate size is |events| + |order dates| with NO
    events x orders blow-up — survives per-key order multiplicity of
    any depth, which the join form's fan-out (documented there) does
    not. Measured: scripts/probe_asof_range.py drives both core
    formulations over a synthetic hot-customer corpus."""
    ev = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    return asof_directions_union_form(ev, orders)


def asof_directions_union_form(ev: DataFrame, orders: DataFrame) -> DataFrame:
    """Core of q_asof_join_directions_union over caller-supplied frames
    — factored out so the hot-key scale probe exercises the EXACT
    production plan."""
    od = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "t_us"
            ),
        )
        .agg(
            F.max("o_orderkey").alias("max_ok"),
            F.min("o_orderkey").alias("min_ok"),
        )
        .select(
            "user_id",
            "t_us",
            F.lit(0).alias("kind"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("timestamp").alias("ts"),
            "max_ok",
            "min_ok",
        )
    )
    evu = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.lit(1).alias("kind"),
        "event_id",
        "ts",
        F.lit(None).cast("bigint").alias("max_ok"),
        F.lit(None).cast("bigint").alias("min_ok"),
    )
    u = od.unionByName(evu)
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_us").asc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_us").desc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_order = F.col("kind") == 0
    e = (
        u.withColumn(
            "last_od",
            F.last(F.when(is_order, F.col("t_us")), ignorenulls=True).over(
                w_back
            ),
        )
        .withColumn(
            "last_max_ok",
            F.last(F.when(is_order, F.col("max_ok")), ignorenulls=True).over(
                w_back
            ),
        )
        .withColumn(
            "last_min_ok",
            F.last(F.when(is_order, F.col("min_ok")), ignorenulls=True).over(
                w_back
            ),
        )
        .withColumn(
            "next_od",
            F.last(F.when(is_order, F.col("t_us")), ignorenulls=True).over(
                w_fwd
            ),
        )
        .withColumn(
            "next_min_ok",
            F.last(F.when(is_order, F.col("min_ok")), ignorenulls=True).over(
                w_fwd
            ),
        )
        .filter(
            (F.col("kind") == 1)
            & (F.col("last_od").isNotNull() | F.col("next_od").isNotNull())
        )
    )
    back_gap = F.col("t_us") - F.col("last_od")
    fwd_gap = F.col("next_od") - F.col("t_us")
    backward_wins = F.col("next_od").isNull() | (
        F.col("last_od").isNotNull() & (back_gap <= fwd_gap)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.col("last_max_ok").alias("last_orderkey"),
        F.col("next_min_ok").alias("next_orderkey"),
        F.when(backward_wins, F.col("last_min_ok"))
        .otherwise(F.col("next_min_ok"))
        .alias("nearest_orderkey"),
        F.least(back_gap, fwd_gap).cast("bigint").alias("nearest_gap_us"),
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: for each signup event, count the same user's
    events in the following hour (non-equi time predicate on top of the
    user equi-join). The direct range condition rides the user
    equi-join (SortMergeJoin, never a nested loop) and AQE handles it
    at this size; q_events_range_join_bucketed below is the 100 TB
    form (join on (user, hour_bucket)) with the same oracle,
    parity-tested in tests/test_asof_skew.py and hot-user
    scale-probed by scripts/probe_asof_range.py."""
    return range_join_direct_form(load_events(spark, sf_dir))


def range_join_direct_form(ev: DataFrame) -> DataFrame:
    """Core of q_events_range_join over a caller-supplied events frame
    — factored out so the hot-user scale probe exercises the EXACT
    production plan."""
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("s_user"))
        & (F.col("ts") > F.col("s_ts"))
        & (F.col("ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        signups.join(ev, cond, "left")
        .groupBy("signup_id", "s_user")
        .agg(F.count("event_id").alias("n_events_next_hour"))
        .select(
            "signup_id",
            F.col("s_user").alias("user_id"),
            "n_events_next_hour",
        )
    )


def q_events_range_join_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bucketized 100 TB form of q_events_range_join (same oracle):
    the lookahead window (1 h) equals the bucket width, so each signup's
    (s_ts, s_ts + 1h] window overlaps exactly TWO hour buckets —
    explode the signup side to those two bucket keys and join events
    on (user, bucket) EQUALITY, applying the residual time predicate
    inside a conditional count. The per-signup row expansion is the
    constant 2, and the join key now includes time, so no single user's
    full history ever co-locates into one join group: fan-out is
    bounded by events-per-user-per-hour, not events-per-user.

    Plan shape (pinned in tests/test_plans.py): a pure equi-join —
    SortMergeJoin / ShuffledHashJoin on (user, bucket), never
    BroadcastNestedLoopJoin or a cartesian product. The left join +
    conditional count keeps zero-activity signups at count 0, and the
    final groupBy(signup_id) collapses the two bucket probes."""
    return range_join_bucketed_form(load_events(spark, sf_dir))


def range_join_bucketed_form(ev: DataFrame) -> DataFrame:
    """Core of q_events_range_join_bucketed over a caller-supplied
    events frame — factored out so the hot-user scale probe exercises
    the EXACT production plan."""
    hour_us = 3_600_000_000
    bkt = (F.unix_micros(F.col("ts")) / hour_us).cast("bigint")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            bkt.alias("s_bkt"),
        )
        .withColumn(
            "bkt", F.explode(F.array(F.col("s_bkt"), F.col("s_bkt") + 1))
        )
    )
    probes = ev.select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("e_id"),
        bkt.alias("bkt"),
    )
    in_window = (F.col("e_ts") > F.col("s_ts")) & (
        F.col("e_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")
    )
    return (
        signups.join(
            probes,
            (F.col("s_user") == F.col("e_user"))
            & (signups["bkt"] == probes["bkt"]),
            "left",
        )
        .groupBy("signup_id", "s_user")
        .agg(
            F.count(F.when(in_window, F.col("e_id"))).alias(
                "n_events_next_hour"
            )
        )
        .select(
            "signup_id",
            F.col("s_user").alias("user_id"),
            "n_events_next_hour",
        )
    )


def q_events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `F.session_window` (30-min gap) — Spark's built-in merging
    session assignment, the streaming-capable formulation of
    q_events_sessionize's hand-rolled islands. Semantics pinned by the
    oracle: a session breaks when the inter-event gap is >= the window
    gap (session_window spans [first_ts, last_ts + gap)); the islands SQL
    states the same with lag + running sum, proving native == SQL
    islands. Single shuffle on user_id."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def q_events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour/day/month rollups
    where each coarser granularity is computed FROM the next finer one,
    never by rescanning the raw table — the TimescaleDB/materialized-
    rollup pattern. At 100 TB this is the difference between one raw
    scan (hourly) + two tiny aggregations, and three raw scans; the
    hourly aggregate is also what you'd persist and incrementally
    refresh (see production.incremental_user_totals for the refresh
    mechanics). Decimal partials make the re-aggregation exact; distinct
    counts are intentionally absent (not mergeable — at scale they'd be
    HLL sketches merged upward)."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_v"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("bucket_start")).alias("bucket_start")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_v").alias("sum_v"))
    monthly = daily.groupBy(
        F.date_trunc("month", F.col("bucket_start")).alias("bucket_start")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_v").alias("sum_v"))
    out_cols = [
        "granularity",
        "bucket_start",
        "n_events",
        F.col("sum_v").cast("double").alias("sum_value"),
    ]
    return (
        hourly.withColumn("granularity", F.lit("hour")).select(*out_cols)
        .unionByName(daily.withColumn("granularity", F.lit("day")).select(*out_cols))
        .unionByName(monthly.withColumn("granularity", F.lit("month")).select(*out_cols))
    )


def q_events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour rolling aggregate at event granularity —
    the time-interval RANGE frame (each row's window is [ts-1h, ts], not
    a row count): the feature-engineering shape behind rate limiting,
    burst detection, and 'activity in the last hour' model features.

    The frame is expressed on unix MICROS (a long) in both engines, so
    the interval arithmetic is exact integer comparison — no timestamp-
    vs-interval semantics to disagree on. Partitioned by user_id: the
    sort and frame scan run per-user within the shuffle partition, no
    global sort at any scale. Sum runs in decimal (order-proof), events
    restricted to user_id < 40 to keep the gate query small."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 40)
    mic = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(mic)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        mic.alias("ts_us"),
        F.count("*").over(w).alias("n_last_1h"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("sum_value_1h"),
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: signup -> click -> purchase, each stage
    anchored at the earliest qualifying event AFTER the previous stage
    (the product-analytics staple). Three chained conditional-min
    aggregations — each stage is one groupBy over the events already
    filtered by the previous anchor, so the whole funnel is three hash
    aggregates + two broadcast joins of per-user anchor timestamps
    (KBs): no window over the full stream, no state. Timestamps
    compared as unix micros (exact integers)."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("us").alias("t_signup"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("us") > F.col("t_signup"))
        .groupBy("user_id").agg(F.min("us").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .filter(F.col("us") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("us").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_signup",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("funnel_stage"),
        )
    )


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event types per user
    (the clickstream "what happens after X" matrix). One shuffle on
    user_id for the lead() window — partitioned, so it distributes; the
    final (type, next_type) aggregation is at most |types|² rows.
    Deterministic under ts ties via the event_id tiebreak."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


DEBOUNCE_GAP_US = 5 * 60 * 1_000_000  # 5 minutes


def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / rate-limit dedup: within each (user, event_type)
    stream, keep an event only if it is the first or arrives more than 5
    minutes after the previous KEPT... here, after the previous event —
    the lag() formulation (the previous-RAW-event gap), which is the
    windowed dedup Structured Streaming's dropDuplicatesWithinWatermark
    approximates. One partitioned window shuffle; integer microsecond
    arithmetic on both engines."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros(F.col("ts")) - F.lag(
        F.unix_micros(F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNull() | (F.col("gap_us") > DEBOUNCE_GAP_US))
        .select("event_id", "user_id", "event_type", "ts")
    )


PATH_TOP_K = 20


def q_session_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the 20 most common per-session event-type
    sequences ('signup>click>purchase'). Sessions are the 30-min-gap
    islands; the ORDERED per-session aggregation is array_sort over
    collected (ts, event_id, type) structs — lexicographic struct order
    == the window's total order, so the path string is deterministic.
    Shuffles: one on user_id (windows), one on the session groupBy, one
    tiny top-k. Paths are capped at the first 8 events so a pathological
    session can't blow up the row — and the cap is applied BEFORE the
    collect (row_number within the session, reusing the user window's
    sort since session_idx is monotone in it), so a bot session's
    million events never materialize as one aggregation-buffer array;
    slice-after-collect would bound only the output, not the buffer."""
    ev = load_events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    with_gap = ev.withColumn(
        "new_session",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w_user))
            > F.lit(gap_us)
        ).cast("int"),
    ).withColumn(
        "session_idx",
        F.sum(F.coalesce(F.col("new_session"), F.lit(1))).over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # event_type is the final tiebreak so the kept first-8 set is
    # deterministic even if (ts, event_id) were ever non-unique —
    # matching the struct(ts, event_id, event_type) ordering the
    # pre-cap array_sort used (ADVICE r8).
    head8 = with_gap.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_idx").orderBy(
                F.col("ts").asc(),
                F.col("event_id").asc(),
                F.col("event_type").asc(),
            )
        ),
    ).filter(F.col("rn") <= 8)
    paths = head8.groupBy("user_id", "session_idx").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda s: s.event_type,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
    )


ANOMALY_TRAIL_H = 24
ANOMALY_Z = 3


def q_events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomaly flags per event type: |z| > 3 against the
    TRAILING 24 hourly buckets (excluding the current one). Entirely
    integer arithmetic: with s = Σc, ss = Σc², n = trailing count, the
    test (c − s/n)² > z²·var rearranges to
    (n·c − s)²·(n−1) > z²·n·(n·ss − s²) — no division, no doubles, so
    both engines agree bit-for-bit even at variance ~0. Plan: hourly
    pre-aggregation (one shuffle), then a RANGE frame over integer hours
    PARTITIONED by event_type (distributed); rows lacking a 2-bucket
    history are unflaggable and reported with flag NULL."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rangeBetween(-ANOMALY_TRAIL_H, -1)
    )
    stats = hourly.select(
        "hour",
        "event_type",
        "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    )
    lhs = (
        (F.col("n") * F.col("c") - F.col("s"))
        * (F.col("n") * F.col("c") - F.col("s"))
        * (F.col("n") - 1)
    )
    rhs = (
        F.lit(ANOMALY_Z * ANOMALY_Z)
        * F.col("n")
        * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    )
    return stats.select(
        "hour",
        "event_type",
        "c",
        F.col("n").cast("int").alias("n_trailing"),
        F.when(F.col("n") >= 2, lhs > rhs).alias("is_anomaly"),
    )


CEP_WINDOW_US = 3_600_000_000  # 1 hour


def q_cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern (MATCH_RECOGNIZE-style): emit
    each signup followed by that user's FIRST purchase within 1 h, with
    NO intervening error event. Three filtered scans of one table,
    equi-joined on user with bounded time predicates: the candidate join
    fans out only within the 1 h window, the first-purchase pick is a
    per-signup ranking window, and the error veto is a left-anti join —
    all shapes that survive scale because state is bounded by the
    pattern's own time window (exactly the streaming CEP argument)."""
    ev = load_events(spark, sf_dir)
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("u"),
        F.unix_micros("ts").alias("s_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.unix_micros("ts").alias("p_us"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("eu"), F.unix_micros("ts").alias("e_us")
    )
    cand = s.join(
        p,
        (F.col("u") == F.col("pu"))
        & (F.col("p_us") > F.col("s_us"))
        & (F.col("p_us") <= F.col("s_us") + F.lit(CEP_WINDOW_US)),
    )
    w = Window.partitionBy("signup_id").orderBy(
        F.col("p_us").asc(), F.col("purchase_id").asc()
    )
    first = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    vetoed = first.join(
        e,
        (F.col("u") == F.col("eu"))
        & (F.col("e_us") > F.col("s_us"))
        & (F.col("e_us") < F.col("p_us")),
        "left_anti",
    )
    return vetoed.select(
        "signup_id",
        F.col("u").alias("user_id"),
        "purchase_id",
        (F.col("p_us") - F.col("s_us")).alias("latency_us"),
    )


MEDIAN_TRAIL_ROWS = 5


def q_events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of `value` over each user's trailing 5
    events (ROWS frame): collect the frame, sort it, take the
    lower-middle element — deterministic on both engines where a native
    windowed-median would be approximate or unavailable. Values ride as
    exact 2dp cents. The frame is O(5) per row, so the collected arrays
    are bounded — this is the general recipe for exact small-window
    order statistics at scale (NEVER collect unbounded frames)."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(MEDIAN_TRAIL_ROWS - 1), 0)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    frame = F.array_sort(F.collect_list(cents).over(w))
    n = F.size(frame)
    return ev.select(
        "event_id",
        "user_id",
        cents.alias("value_cents"),
        F.element_at(frame, ((n + 1) / 2).cast("int"))
        .alias("rolling_median_cents"),
    )


def q_events_running_distinct_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running EXACT distinct count per user (how many distinct event
    types seen so far) — the classic hard window op, exact here because
    the distinct domain is tiny: collect_set over an unbounded-preceding
    frame holds ≤ |event types| elements regardless of stream length, so
    state is bounded by the DOMAIN, not the row count (the condition to
    check before using this pattern at scale; unbounded domains route to
    HLL instead)."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.size(F.collect_set("event_type").over(w))
        .cast("int")
        .alias("n_distinct_types_so_far"),
    )


_US_PER_DAY = 86_400_000_000


def q_tz_conversion_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-conversion family: UTC event instants rendered as local
    wall-clock in DST-free zones (Asia/Tokyo +9, Asia/Kolkata +5:30 —
    fixed offsets, so the IANA-db vintage can't desync the engines).
    Integer outputs (local hour/minute + day shift) keep the comparison
    type-trivial. Map-only."""
    ev = load_events(spark, sf_dir)
    tokyo = F.from_utc_timestamp("ts", "Asia/Tokyo")
    kolkata = F.from_utc_timestamp("ts", "Asia/Kolkata")
    utc_day = F.expr(f"unix_micros(ts) div {_US_PER_DAY}")
    return ev.select(
        "event_id",
        F.hour(tokyo).cast("int").alias("tokyo_hour"),
        F.minute(kolkata).cast("int").alias("kolkata_minute"),
        (
            F.expr(
                "datediff(cast(from_utc_timestamp(ts, 'Asia/Tokyo') as date),"
                " date'1970-01-01')"
            )
            - utc_day
        )
        .cast("int")
        .alias("tokyo_day_shift"),
    )


_US_PER_HOUR_SP = 3_600_000_000


def q_events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: per (day-of-week, hour-of-day) slot,
    event volume and a revenue index vs the global mean — the
    forecasting/capacity-planning primitive. Day-of-week comes from pure
    epoch arithmetic ((epoch_day + 3) % 7, 0 = Monday) so no calendar
    library or timezone vintage can desync the engines; the index is a
    two-step exact integer division (per-slot µ-scale first, then
    normalize) mirrored verbatim in the oracle, overflow-safe to
    fixture scales far beyond sf1.

    Scale shape: one partial-agg shuffle onto at most 168 slots; the
    1-row global total broadcasts back."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros("ts")
    cents = F.round(F.col("value") * 100).cast("bigint")
    slots = (
        ev.select(us.alias("_us"), cents.alias("cents"))
        .select(
            F.expr(f"(_us div {_US_PER_DAY} + 3) % 7").cast("int").alias("dow"),
            F.expr(f"(_us div {_US_PER_HOUR_SP}) % 24").cast("int").alias("hod"),
            "cents",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("slot_cents"),
        )
    )
    totals = slots.agg(
        F.sum("n_events").alias("total_n"),
        F.sum("slot_cents").alias("total_cents"),
    )
    return (
        slots.crossJoin(F.broadcast(totals))
        .select(
            "dow",
            "hod",
            "n_events",
            "slot_cents",
            F.expr(
                "(slot_cents * 1000000 div n_events) * total_n"
                " div total_cents"
            ).cast("bigint").alias("revenue_index_ppm"),
        )
    )


def q_events_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running balance with a floor at zero — purchases credit,
    errors debit, the balance can never go negative (inventory/credit
    semantics). A clamped cumulative sum is NOT a window function (the
    clamp makes it a non-linear left fold), so it runs as an ordered
    array fold per user: sort_array over (ts, event_id, delta) structs
    gives the total order, aggregate() folds with greatest(0, acc+x).
    State per user is its event list — bounded by per-user activity, the
    same justification as the rolling-median frame. Exact integer cents
    throughout; the oracle replays the identical fold with
    list_reduce."""
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    delta = (
        F.when(F.col("event_type") == "purchase", cents)
        .when(F.col("event_type") == "error", -cents)
        .otherwise(F.lit(0))
    )
    rows = ev.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
            delta.alias("delta"),
        ).alias("r"),
    )
    arr = F.sort_array(F.collect_list("r"))
    bal = F.aggregate(
        F.transform(arr, lambda x: x["delta"]),
        F.lit(0).cast("bigint"),
        lambda acc, x: F.greatest(F.lit(0).cast("bigint"), acc + x),
    )
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        bal.alias("final_balance_cents"),
    )


def q_events_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type next-day revenue forecast by simple exponential
    smoothing with alpha = 1/2 — the forecasting primitive of the
    time-series lane. SES state is a non-linear left fold (s_t =
    alpha*x_t + (1-alpha)*s_{t-1}, seeded s_1 = x_1), NOT a window
    function, so like q_events_clamped_balance it runs as an ordered
    array fold: daily revenue cents per type (one groupBy shuffle,
    partial-aggregated map-side), then sort_array over (day, cents)
    structs and aggregate() with integer halving — (acc + x) div 2 keeps
    every intermediate exact (inputs are non-negative cents, so Spark's
    `div` and DuckDB's `//` agree), which is what makes the fold
    bit-replayable by the oracle's list_reduce. Fold state per group is
    the DAY-level series (bounded by calendar span, not event volume) —
    the same state-bound argument as the rolling-median frame.
    """
    ev = load_events(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("day_cents"))
    )
    arr = F.sort_array(
        F.collect_list(F.struct(F.col("day"), F.col("day_cents")))
    )
    series = F.transform(arr, lambda x: x["day_cents"])
    # integer halving as shiftright — exact for the non-negative cents
    ses = F.aggregate(
        F.slice(series, 2, F.size(series) - 1),
        F.element_at(series, 1),
        lambda acc, x: F.shiftright(acc + x, 1),
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("day_cents").alias("total_cents"),
        ses.alias("ses_forecast_cents"),
    )


def q_events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: S_t = max(0, S_{t-1}
    + (x_t − µ)) over the daily revenue series, alarming when the
    accumulated positive drift exceeds µ (one full mean day of excess) — the classic sequential
    upward-shift detector (Page 1954). Like the clamped balance, CUSUM
    is a NON-linear left fold (the max-reset), so no window frame
    expresses it; it runs as an ordered array fold per type that
    APPENDS each state (try_element_at(acc, -1) reads the previous one —
    NULL, not an error, on the empty initial accumulator), and
    the per-day states are exploded back to rows zipped with their
    days. µ is the per-type integer mean (total div n_days — truncated
    identically on both engines); every quantity stays in exact cents.
    Fold state per type is the day-level series — bounded by calendar
    span, the same argument as the SES fold. The oracle replays the
    recursion as a depth-indexed recursive CTE."""
    ev = load_events(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("day_cents"))
    )
    stats = daily.groupBy("event_type").agg(
        F.expr("sum(day_cents) div count(*)").alias("mean_cents")
    )
    arr = F.sort_array(
        F.collect_list(F.struct(F.col("day"), F.col("day_cents")))
    )
    grouped = (
        daily.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "mean_cents")
        .agg(arr.alias("arr"))
    )
    zero = F.lit(0).cast("bigint")
    cusums = F.aggregate(
        F.col("arr"),
        F.expr("CAST(array() AS array<bigint>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.greatest(
                    zero,
                    F.coalesce(F.try_element_at(acc, F.lit(-1)), zero)
                    + x["day_cents"]
                    - F.col("mean_cents"),
                )
            ),
        ),
    )
    rows = grouped.select(
        "event_type",
        "mean_cents",
        F.explode(
            F.arrays_zip(F.col("arr"), cusums.alias("cusum"))
        ).alias("z"),
    )
    return rows.select(
        "event_type",
        F.col("z.arr.day").alias("day"),
        F.col("z.arr.day_cents").alias("day_cents"),
        F.col("z.cusum").alias("cusum_cents"),
        (F.col("z.cusum") > F.col("mean_cents")).alias("is_alarm"),
    )


#: weekdays with epoch day in [e1, e2): W(e2) - W(e1), where
#: W(e) = 5*((e+3) div 7) + least((e+3) % 7, 5) counts weekdays below e
#: ((e+3) % 7 == 0 is Monday; epoch day 0 = Thursday). Pure integer
#: arithmetic — no calendar library, no timezone, identical text on
#: both engines.
_BUSDAY_W = "(5 * (({e} + 3) div 7) + least(({e} + 3) % 7, 5))"


def q_business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day order→ship latency per order priority: weekdays in
    [o_orderdate, l_shipdate) via the closed-form weekday counter
    (docstring at _BUSDAY_W) — the SLA metric calendars make slow and
    integer arithmetic makes free. The order-to-lineitem equi-join
    shuffles on orderkey (both sides large at 100 TB — the SMJ case);
    the rollup groups on the 5-value priority with map-side partials
    and AQE coalescing. Averages reported in exact truncated milli-days
    (sum·1000 div n)."""
    # epoch DAY via date arithmetic, never epoch micros: the fixture
    # timestamps are NTZ, and a micros path would route through the
    # session timezone — datediff on the DATE cast is tz-free on both
    # engines
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01')"
            " AS BIGINT)"
        ).alias("e_ship"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
            " AS BIGINT)"
        ).alias("e_ord"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        (
            F.expr(_BUSDAY_W.format(e="e_ship"))
            - F.expr(_BUSDAY_W.format(e="e_ord"))
        ).alias("busdays"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum("busdays").alias("sum_busdays"),
        F.expr("sum(busdays) * 1000 div count(*)").alias(
            "avg_busdays_milli"
        ),
    )


XCORR_MAX_LAG = 2
XCORR_A, XCORR_B = "purchase", "error"


def q_events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the purchase and error daily
    revenue series — the lead/lag dependence probe ("do errors follow
    purchase spikes k days later?"). For each lag k in [0, 2], pairs
    (x_t, y_{t+k}) over the COMPLETE day grid (min..max observed day,
    absent days as exact 0 — stated convention so the series is
    alignment-deterministic), reporting n and the covariance NUMERATOR
    n·Σxy − Σx·Σy as an exact integer. The float normalization
    (÷ n²·σxσy) is left to the consumer — like the KS test, the exact
    integer core is what the engine owes.

    Plan: two tiny per-day aggregates, a sequence()-exploded day grid
    (rows = calendar span), one self-join shifted by k per lag over
    that grid — all broadcast-sized after the first aggregation, so
    the 100 TB cost is the ONE scan producing daily totals."""
    ev = load_events(spark, sf_dir)
    daily = (
        ev.filter(F.col("event_type").isin(XCORR_A, XCORR_B))
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("day_cents"))
    )
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    xa = daily.filter(F.col("event_type") == XCORR_A).select(
        "day", F.col("day_cents").alias("x")
    )
    yb = daily.filter(F.col("event_type") == XCORR_B).select(
        "day", F.col("day_cents").alias("y")
    )
    filled = (
        grid.join(xa, "day", "left")
        .join(yb, "day", "left")
        .select(
            "day",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    lags = filled.crossJoin(
        F.broadcast(
            spark.range(XCORR_MAX_LAG + 1).select(
                F.col("id").cast("bigint").alias("lag")
            )
        )
    )
    shifted = lags.alias("l").join(
        filled.select(F.col("day").alias("yday"), F.col("y").alias("y_lag")),
        F.col("yday") == F.col("l.day") + F.col("lag"),
    )
    return (
        shifted.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y_lag"))
                - F.sum("x") * F.sum("y_lag")
            ).alias("cov_numerator"),
        )
    )


def q_events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands rewrite: within a user's DISTINCT active days,
    day − row_number(day order) is constant exactly along a consecutive
    run, so one window pass + one groupBy finds every island, and an
    argmax (min-struct on (−len, start)) picks the longest with the
    EARLIEST-start tiebreak stated. The engagement/retention metric
    (DAU streaks) in pure integer day arithmetic; both shuffles key on
    user_id and AQE-coalesce."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    days = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("grp"),
    )
    islands = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("start_day"),
    )
    best = islands.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.min(F.struct((-F.col("len")).alias("neg"), F.col("start_day")))
        .alias("b"),
    )
    return best.select(
        "user_id",
        "n_active_days",
        (-F.col("b.neg")).cast("bigint").alias("longest_streak"),
        F.col("b.start_day").alias("streak_start_day"),
    )


BOLL_WINDOW = 7  # trailing days
BOLL_K = 2  # band width in sigmas


def q_events_bollinger_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach detection on daily revenue WITHOUT square
    roots: x breaches the k-sigma band iff (n·x − S1)² > k²·(n·S2 −
    S1²), the squared-deviation inequality over the trailing window's
    integer power sums (S1 = Σx, S2 = Σx² in cents) — algebraically
    identical to |x − µ| > k·σ but every quantity stays an exact
    integer, so both engines agree bit-for-bit (the MAD/KS/xcorr
    exact-core philosophy applied to a rolling-volatility indicator).
    Magnitudes: day sums ≤ ~1e9 cents keep all products inside int64;
    a larger deployment lifts the squares into decimal(38,0).

    The trailing ROWS frame runs over the DAY-level series (calendar-
    bounded, like the SES/CUSUM state) — partitionless by nature of a
    single global series; per-type banding would partition by type."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    daily = (
        ev.select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("x"))
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(-(BOLL_WINDOW - 1), 0)
    )
    stats = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("s2"),
    )
    dev = F.col("n") * F.col("x") - F.col("s1")
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    breach = dev * dev > BOLL_K * BOLL_K * var_n2
    return stats.select(
        "day",
        F.col("x").alias("day_cents"),
        F.col("n").cast("int").alias("n_win"),
        (breach & (dev > 0)).alias("breach_up"),
        (breach & (dev < 0)).alias("breach_down"),
    )


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the metering/
    billing/market-data aggregate where each observation counts for as
    long as it was CURRENT, not once): weight = milliseconds until the
    user's next event (the final observation carries zero weight — the
    right-open convention, stated). Exact integer arithmetic end to
    end: cents × duration_ms sums stay far inside bigint because
    durations are per-user inter-event gaps, and the final `div` is
    integral — no decimal rounding anywhere to desync engines. One
    window pass partitioned by user (lead), one groupBy — two shuffles
    on the same key, AQE-coalesced; per-row state is a single lead."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    rows = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ((F.lead(us).over(w) - us) / 1000).cast("bigint").alias("_dur_raw"),
    ).select(
        "user_id",
        "cents",
        F.coalesce(F.col("_dur_raw"), F.lit(0)).alias("dur_ms"),
    )
    agg = rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("dur_ms").alias("total_dur_ms"),
        F.sum(F.col("cents") * F.col("dur_ms")).alias("_num"),
    )
    return agg.select(
        "user_id",
        "n_events",
        "total_dur_ms",
        F.when(
            F.col("total_dur_ms") > 0,
            F.expr("_num div total_dur_ms"),
        ).alias("twap_cents"),
    )


def q_events_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection (the SRE retry-storm screen): an error
    event is part of a burst when >= 2 errors from the same user land
    within a trailing 30-minute window (thresholds sized to the fixture
    error rate so the gate query has signal). Same exact-integer RANGE-frame
    machinery as q_events_rolling_1h, restricted to the error stream
    first — the pre-filter keeps the window state proportional to error
    volume, not total traffic (the difference between feasible and not
    at 100 TB/day)."""
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "error")
    mic = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(mic)
        .rangeBetween(-1_800_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            mic.alias("ts_us"),
            F.count(F.lit(1)).over(w).alias("errors_30m"),
        )
        .filter(F.col("errors_30m") >= 2)
    )


PATH_SIG_LEN = 8
PATH_MAX_LEV = 3


def q_event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile — the table that TUNES watermarks
    (withWatermark's delay should cover ~all real lateness; guessing it
    drops data or bloats state): treating event_id as the ARRIVAL
    order (the fixture's ingestion sequence), each event's lateness =
    running max event time so far − its own event time. Lateness in ms
    lands in power-of-two buckets (binary-length log2 — float-free,
    bucket −1 = perfectly in order) per event type; per-type windows
    keep the pass partitioned. Streaming pipelines run exactly this
    profile over a day of history before setting the watermark delay."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select(
        "event_type",
        ((F.max(us).over(w) - us) / 1000).cast("bigint").alias("late_ms"),
    )
    bucket = F.when(F.col("late_ms") <= 0, F.lit(-1)).otherwise(
        F.length(F.conv(F.col("late_ms"), 10, 2)) - 1
    )
    return late.select(
        "event_type", bucket.cast("int").alias("lateness_bucket")
    ).groupBy("event_type", "lateness_bucket").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def q_user_path_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-trajectory similarity (the REPOSE/trajectory-search
    shape at event granularity): each user's path signature = the
    initials of their first 8 events in time order; users in the same
    signup-week COHORT pair up when edit distance <= 3 — who behaves
    like whom, among contemporaries. The cohort block bounds the
    pair join exactly like the entity-resolution name block (never
    all-pairs); the signature build is one sort_array fold per user.
    levenshtein is a JVM builtin with an identical DuckDB twin, so the
    pair set is value-exact."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    rows = ev.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
            F.substring("event_type", 1, 1).alias("c"),
        ).alias("r"),
    )
    per_user = rows.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.slice(
                F.transform(
                    F.sort_array(F.collect_list("r")), lambda x: x["c"]
                ),
                1,
                PATH_SIG_LEN,
            ),
        ).alias("sig"),
        F.expr("min(r.us) div 604800000000").alias("cohort_week"),
    )
    a = per_user.toDF("ua", "sig_a", "wk")
    b = per_user.toDF("ub", "sig_b", "wkb")
    return (
        a.join(
            b,
            (F.col("wk") == F.col("wkb"))
            & (F.col("ua") < F.col("ub"))
            & (
                F.levenshtein("sig_a", "sig_b") <= PATH_MAX_LEV
            ),
        )
        .select(
            F.col("ua").alias("user_a"),
            F.col("ub").alias("user_b"),
            "sig_a",
            "sig_b",
            F.levenshtein("sig_a", "sig_b").cast("int").alias("lev"),
        )
    )


def q_conversion_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-first-purchase distribution: minutes from each user's
    FIRST event to their FIRST purchase, bucketed into a power-of-two
    histogram (<1 min, <2, <4, ... via the bit-length trick: bucket =
    floor(log2(minutes+1)) computed as length-of-binary-string — no
    float log). Users who never purchase land in bucket −1 (the
    never-converted cohort is the product question, not a dropped row).
    Two tiny per-user aggregates, one histogram groupBy."""
    ev = load_events(spark, sf_dir)
    first_ev = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us")
    )
    first_p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_p_us"))
    )
    lat = first_ev.join(first_p, "user_id", "left").select(
        "user_id",
        F.expr("(first_p_us - first_us) div 60000000").alias("latency_min"),
    )
    # floor(log2(m+1)) without floats: length of m+1 in binary, minus 1
    bucket = F.when(F.col("latency_min").isNull(), F.lit(-1)).otherwise(
        F.length(F.conv(F.col("latency_min") + 1, 10, 2)) - 1
    )
    return lat.select(bucket.cast("int").alias("latency_bucket")).groupBy(
        "latency_bucket"
    ).agg(F.count(F.lit(1)).alias("n_users"))


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — each purchase's cents split
    EQUALLY across all of the user's clicks in the prior 24 h, with the
    integer remainder going to the EARLIEST touch (cents div n to every
    click, plus cents mod n to rank 1): the stated largest-remainder
    rule makes the split exact — per purchase the credited cents sum to
    the purchase cents by construction, no floating residue to leak.
    Purchases with no qualifying click credit 'organic' whole. Output:
    credited cents per click hour (plus the organic bucket) — the
    comparable rollup to q_attribution_last_touch, so the two models'
    disagreement is directly queryable. Same bounded-lookback join
    shape; one extra count window per purchase."""
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("u"),
        F.unix_micros("ts").alias("p_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("c_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    day_us = 86_400_000_000
    joined = purchases.join(
        clicks,
        (purchases["u"] == clicks["u"])
        & (clicks["c_us"] < purchases["p_us"])
        & (clicks["c_us"] >= purchases["p_us"] - day_us),
        "left",
    )
    wp = Window.partitionBy("p_id")
    wr = wp.orderBy("c_us", "c_id")
    per_touch = joined.select(
        "p_id",
        "cents",
        "c_us",
        F.count("c_id").over(wp).alias("n_touch"),
        F.row_number().over(wr).alias("rn"),
    )
    credit = F.when(F.col("n_touch") == 0, F.col("cents")).otherwise(
        F.expr("cents div n_touch")
        + F.when(
            F.col("rn") == 1, F.expr("cents % n_touch")
        ).otherwise(F.lit(0))
    )
    hour = F.when(F.col("c_us").isNull(), F.lit(-1)).otherwise(
        F.expr("c_us div 3600000000")
    )
    return (
        per_touch.select(hour.alias("click_hour"), credit.alias("credit"))
        .groupBy("click_hour")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit").alias("credited_cents"),
        )
    )


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits its value
    to the same user's most recent PRIOR click (within 24 h), rolled up
    to the click hour — the marketing-attribution join every clickstream
    warehouse runs. As-of machinery (equi-join on user + ranking window
    with a deterministic tiebreak) plus a bounded lookback so the probe
    fan-out stays windowed at scale; purchases with no qualifying click
    credit the 'organic' bucket. Exact integer cents."""
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("u"),
        F.unix_micros("ts").alias("p_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("c_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    day_us = 86_400_000_000
    joined = purchases.join(
        clicks,
        (purchases["u"] == clicks["u"])
        & (clicks["c_us"] < purchases["p_us"])
        & (clicks["c_us"] >= purchases["p_us"] - day_us),
        "left",
    )
    w = Window.partitionBy("p_id").orderBy(
        F.col("c_us").desc_nulls_last(), F.col("c_id").desc_nulls_last()
    )
    attributed = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_id",
            "cents",
            F.when(
                F.col("c_us").isNull(), F.lit(-1)
            ).otherwise(F.expr(f"c_us div {3_600_000_000}")).alias(
                "click_hour"
            ),
        )
    )
    return attributed.groupBy("click_hour").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("attributed_cents"),
    )


def q_events_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling (the time-series-DB `interpolate`
    next to gap_fill's forward-fill): per-user hourly grid where every
    MISSING hour gets the straight line between the surrounding observed
    hours — v = v_prev + (v_next − v_prev)·(h − h_prev)/(h_next − h_prev)
    — and boundary hours outside the observed hull stay NULL (honest:
    extrapolation is a modeling choice, not a resample). Values are
    micro-quantized means per observed hour.

    Exactness: observed hourly means are micro-quantized BIGINTs (one
    rounded division of exact sums per observed hour); the interpolation
    is a single double expression over exact integers, rounded — an
    integer `div` here was rejected because Spark truncates toward zero
    while DuckDB floors, and negative deltas would diverge.

    Scale shape: identical to events_gap_fill — dense grid via
    sequence+explode (map-side, span-bounded), four ignorenulls windows
    partitioned per user. Nothing global."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = (
        ev.select("user_id", hour.alias("h"), "value")
        .groupBy("user_id", "h")
        .agg(
            F.round(
                F.sum(F.col("value").cast("double"))
                / F.count(F.lit(1)).cast("double")
                * 1_000_000
            )
            .cast("bigint")
            .alias("v_mu")
        )
    )
    span = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    filled = grid.join(hourly, ["user_id", "h"], "left").withColumn(
        "h_obs", F.when(F.col("v_mu").isNotNull(), F.col("h"))
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("v_mu", ignorenulls=True).over(wb)
    prev_h = F.last("h_obs", ignorenulls=True).over(wb)
    next_v = F.first("v_mu", ignorenulls=True).over(wf)
    next_h = F.first("h_obs", ignorenulls=True).over(wf)
    interp = F.round(
        prev_v.cast("double")
        + (next_v - prev_v).cast("double")
        * (F.col("h") - prev_h).cast("double")
        / (next_h - prev_h).cast("double")
    ).cast("bigint")
    return filled.select(
        "user_id",
        "h",
        F.col("v_mu").isNotNull().alias("observed"),
        F.when(F.col("v_mu").isNotNull(), F.col("v_mu"))
        .when(prev_v.isNotNull() & next_v.isNotNull(), interp)
        .alias("value_interp_mu"),
    )


_INTERP_ORACLE = """
WITH hourly AS (
  SELECT user_id,
    CAST(floor(epoch_us(ts) / 1000000.0 / 3600) AS BIGINT) AS h,
    CAST(round(sum(CAST(value AS DOUBLE)) / CAST(count(*) AS DOUBLE)
               * 1000000) AS BIGINT) AS v_mu
  FROM events WHERE user_id < 20
  GROUP BY user_id, CAST(floor(epoch_us(ts) / 1000000.0 / 3600) AS BIGINT)
), span AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM span
), filled AS (
  SELECT g.user_id, g.h, hy.v_mu,
    CASE WHEN hy.v_mu IS NOT NULL THEN g.h END AS h_obs
  FROM grid g LEFT JOIN hourly hy
    ON hy.user_id = g.user_id AND hy.h = g.h
), w AS (
  SELECT user_id, h, v_mu,
    last_value(v_mu IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(h_obs IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
    first_value(v_mu IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(h_obs IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM filled
)
SELECT user_id, h, v_mu IS NOT NULL AS observed,
  CASE WHEN v_mu IS NOT NULL THEN v_mu
       WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
         CAST(round(CAST(prev_v AS DOUBLE)
           + CAST(next_v - prev_v AS DOUBLE)
             * CAST(h - prev_h AS DOUBLE)
             / CAST(next_h - prev_h AS DOUBLE)) AS BIGINT)
  END AS value_interp_mu
FROM w
"""


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of hourly event volume: the MEDIAN of all
    pairwise slopes (c_j − c_i)/(h_j − h_i) — up to 29% contamination
    (outage hours, bot bursts) cannot move it, unlike the OLS slope the
    grouped_linear_regression operator fits. Output: lower-median slope
    in micro-events/hour with the pair census.

    Exactness: each pairwise slope is one double division of exact
    integer counts quantized to micro; the median is selected BY
    POSITION (row_number over a deterministic total order — slope, i,
    j), not by any engine's interpolating median.

    Scale shape: events collapse map-side to |hours| rows; the pairwise
    join is quadratic in the TIME DOMAIN (|hours|² — bounded by the
    observation window, never by |events|; ~260k pairs per month-year),
    and the selection window orders that bounded pair set."""
    ev = load_events(spark, sf_dir)
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = (
        ev.select(hour.alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # two join sides — pin or the corpus scans twice
    )
    a = hourly.select(F.col("h").alias("hi"), F.col("c").alias("ci"))
    b = hourly.select(F.col("h").alias("hj"), F.col("c").alias("cj"))
    slopes = a.join(b, F.col("hi") < F.col("hj")).select(
        "hi",
        "hj",
        F.round(
            (F.col("cj") - F.col("ci")).cast("double")
            * 1_000_000.0
            / (F.col("hj") - F.col("hi")).cast("double")
        )
        .cast("bigint")
        .alias("s_mu"),
    )
    w = Window.orderBy("s_mu", "hi", "hj")
    ranked = slopes.withColumn("rn", F.row_number().over(w))
    n = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("s_mu").alias("theil_sen_slope_mu_per_hour"),
        )
    )


_THEIL_SEN_ORACLE = """
WITH hourly AS (
  SELECT CAST(floor(epoch_us(ts) / 1000000.0 / 3600) AS BIGINT) AS h,
    count(*) AS c
  FROM events GROUP BY 1
), slopes AS (
  SELECT a.h AS hi, b.h AS hj,
    CAST(round(CAST(b.c - a.c AS DOUBLE) * 1000000.0
               / CAST(b.h - a.h AS DOUBLE)) AS BIGINT) AS s_mu
  FROM hourly a JOIN hourly b ON a.h < b.h
), ranked AS (
  SELECT s_mu, row_number() OVER (ORDER BY s_mu, hi, hj) AS rn,
    count(*) OVER () AS n_pairs
  FROM slopes
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
  s_mu AS theil_sen_slope_mu_per_hour
FROM ranked WHERE rn = (n_pairs + 1) // 2
"""


def q_ses_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the SES forecaster with MASE
    (Hyndman & Koehler 2006) — the scale-free forecast-accuracy metric:
    for every day t ≥ 2, forecast x̂_t from the SES state over days
    1..t−1 and score Σ|x_t − x̂_t| / Σ|x_t − x_{t−1}|. MASE < 1 beats
    the naive carry-forward; a forecaster shipped without this number
    is a guess. Completes the forecasting lane: events_ses_forecast
    produces the forecast, this query proves (or disproves) it earns
    its keep per event type.

    Exactness: daily revenue is exact cents; the SES prefix state uses
    the same exact integer halving fold as events_ses_forecast (seeded
    s₁ = x₁, (acc+x) div 2 — non-negative so Spark `div` and DuckDB
    `//` agree); numerator and denominator are exact integer sums and
    MASE is one integer ppm division.

    Scale shape: one groupBy shuffle to the per-type DAY series
    (bounded by calendar span); the rolling-origin evaluation is an
    in-array higher-order expression (O(days²) lambda evals per type —
    days ≤ 366, so ≤ ~134k integer ops per group, map-side)."""
    ev = load_events(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("day_cents"))
    )
    grouped = daily.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, day_cents))),"
            " x -> x.day_cents)"
        ).alias("s")
    )
    num = F.expr(
        "aggregate(transform(sequence(2, size(s)), t ->"
        " abs(element_at(s, t) - aggregate(slice(s, 2, t - 2),"
        " element_at(s, 1), (acc, x) -> (acc + x) div 2))),"
        " 0L, (a, x) -> a + x)"
    )
    den = F.expr(
        "aggregate(transform(sequence(2, size(s)), t ->"
        " abs(element_at(s, t) - element_at(s, t - 1))),"
        " 0L, (a, x) -> a + x)"
    )
    return (
        grouped.select(
            "event_type",
            F.size("s").cast("bigint").alias("n_days"),
            num.alias("sum_abs_err"),
            den.alias("sum_abs_naive_err"),
        )
        .filter(F.col("n_days") >= 3)
        .select(
            "event_type",
            "n_days",
            "sum_abs_err",
            "sum_abs_naive_err",
            F.expr(
                "sum_abs_err * 1000000L div sum_abs_naive_err"
            ).alias("mase_ppm"),
        )
    )


_MASE_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    sum(CAST(round(value * 100) AS BIGINT)) AS day_cents
  FROM events GROUP BY 1, 2
), series AS (
  SELECT event_type,
    list_transform(
      list_sort(list(struct_pack(day := day, c := day_cents))),
      x -> x.c) AS s
  FROM daily GROUP BY event_type
), scored AS (
  SELECT event_type, len(s) AS n_days,
    list_sum(list_transform(generate_series(2, len(s)), t ->
      abs(s[t] - list_reduce(s[1:t-1],
                             (acc, x) -> (acc + x) // 2))))
      AS sum_abs_err,
    list_sum(list_transform(generate_series(2, len(s)), t ->
      abs(s[t] - s[t-1]))) AS sum_abs_naive_err
  FROM series
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
  CAST(sum_abs_err AS BIGINT) AS sum_abs_err,
  CAST(sum_abs_naive_err AS BIGINT) AS sum_abs_naive_err,
  CAST(sum_abs_err * 1000000 // sum_abs_naive_err AS BIGINT)
    AS mase_ppm
FROM scored WHERE n_days >= 3
"""


def q_interarrival_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion of per-user inter-event times, by event type:
    CV² = Var(gap)/Mean(gap)² — the Poisson audit (CV² ≈ 1 ⇒ memoryless
    arrivals; ≫ 1 ⇒ bursty/self-exciting, the session-shaped traffic
    every rate-limiter and capacity model needs to know about; ≪ 1 ⇒
    scheduled/bot-like regularity, an abuse signal). Pairs with the
    Kaplan–Meier lane: KM describes WHEN users stop, this describes the
    texture of activity while they're alive.

    Exactness: gaps are exact integer seconds (lag over the per-user
    event order); Σgap and Σgap² are exact BIGINTs; CV² is one rounded
    ppm division of the cleared-denominator form
    (n·Σg² − (Σg)²)·1e6 / (Σg)².

    Scale shape: one lag window partitioned per user (the sessionize
    shape), then a map-side-combined per-type aggregate."""
    ev = load_events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            (
                F.unix_timestamp("ts")
                - F.lag(F.unix_timestamp("ts")).over(wu)
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_s").cast("bigint").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias(
            "sgg"
        ),
    )
    return agg.select(
        "event_type",
        "n_gaps",
        F.expr("sg div n_gaps").alias("mean_gap_s"),
        F.round(
            (
                F.col("n_gaps") * F.col("sgg") - F.col("sg") * F.col("sg")
            ).cast("double")
            * 1_000_000.0
            / (F.col("sg") * F.col("sg")).cast("double")
        )
        .cast("bigint")
        .alias("cv2_ppm"),
    )


_DISPERSION_ORACLE = """
WITH gaps AS (
  SELECT event_type,
    epoch_us(ts) // 1000000
      - lag(epoch_us(ts) // 1000000)
        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
), g AS (SELECT event_type, gap_s FROM gaps WHERE gap_s IS NOT NULL),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
    CAST(sum(gap_s) AS BIGINT) AS sg,
    CAST(sum(gap_s * gap_s) AS BIGINT) AS sgg
  FROM g GROUP BY event_type
)
SELECT event_type, n_gaps,
  CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
  CAST(round(CAST(n_gaps * sgg - sg * sg AS DOUBLE) * 1000000.0
             / CAST(sg * sg AS DOUBLE)) AS BIGINT) AS cv2_ppm
FROM agg
"""


#: Holt's linear-trend smoothing: α = 2/10, β = 1/10, state in exact
#: micro-units, every step's division written as the truncation-
#: identity (v − v%10)/10 — integer-exact in BOTH engines (the quotient
#: is < 2^53, so even DuckDB's float division is exact; % is C-style
#: truncating remainder in both).
#: The ORACLE runs the recurrence as a recursive CTE over a
#: MATERIALIZED 30-row daily spine (DuckDB's default CTE inlining would
#: re-run the events aggregate per level, the r4 batch-15 hazard).
#: Spark replays the IDENTICAL arithmetic as an ordered array fold
#: (r13, guide §1.2 "fix the distributed algorithm first"): Spark
#: re-plans a recursive CTE per UnionLoop level — even with the spine
#: checkpoint-materialized (the r12 shape) the ~30-level walk measured
#: ~4.5 s of per-level re-planning for a 30-row result, against a
#: ~0.6 s single-plan fold (the q_events_cusum_changepoints
#: state-append pattern). Both engines' step expressions come from the
#: one template below, so they execute the same integer arithmetic —
#: only the iteration mechanism differs (plan recursion vs array fold).
_HOLT_MU = "1000000"


def _holt_div10(v: str, brk: str = " ", tail: str = " ") -> str:
    """(v − v%10)/10 as BIGINT: trunc-toward-zero division by 10 (the
    dividend is an exact multiple of 10). ``brk`` and ``tail`` are the
    whitespace before the subtraction and before ``AS BIGINT``."""
    return f"CAST(({v}{brk}- (({v}) % 10)) / 10{tail}AS BIGINT)"


def _holt_level(x: str, l: str, b: str, brk: str = " ", tail: str = " ") -> str:
    """l' = (2·x·10⁶ + 8·(l+b)) ÷ 10 over SQL operands: day count ``x``,
    previous level ``l`` and trend ``b``."""
    return _holt_div10(f"2 * {x} * {_HOLT_MU} + 8 * ({l} + {b})", brk, tail)


def _holt_trend(l_new: str, l: str, b: str, brk: str = " ") -> str:
    """b' = (l' − l + 9·b) ÷ 10 over SQL operands."""
    return _holt_div10(f"{l_new} - {l} + 9 * {b}", brk)


# the oracle walk names l' and the previous state as columns, and breaks
# the two long expressions over lines
_WALK_LEVEL = _holt_level(
    "s.x", "w.l_mu", "w.b_mu", brk="\n" + " " * 12, tail="\n" + " " * 11
)
_WALK_TREND = _holt_trend("l_new", "l_prev", "b_prev", brk="\n" + " " * 10)
_HOLT_WALK_SQL = f"""
walk(rn, d, x, l_mu, b_mu) AS (
  SELECT rn, d, x, x * {_HOLT_MU}, CAST(0 AS BIGINT) FROM {{spine}}
  WHERE rn = 1
  UNION ALL
  SELECT rn, d, x, l_new,
    {_WALK_TREND}
  FROM (
    SELECT s.rn, s.d, s.x, w.l_mu AS l_prev, w.b_mu AS b_prev,
      {_WALK_LEVEL} AS l_new
    FROM walk w JOIN {{spine}} s ON s.rn = w.rn + 1
  ) step
)
SELECT CAST(d AS DATE) AS day, x AS n_events, l_mu AS level_mu,
  b_mu AS trend_mu, l_mu + b_mu AS forecast_next_mu
FROM walk
"""

_HOLT_LINEAR_ORACLE = (
    """
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), spine AS MATERIALIZED (
  SELECT d, x, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
  FROM daily
),
"""
    + _HOLT_WALK_SQL.format(spine="spine")
)

#: the same step as an array fold: the state is the last (l, b) the
#: fold appended, and l' is inlined into b'
_HOLT_L_PREV = "element_at(acc, -1).l"
_HOLT_B_PREV = "element_at(acc, -1).b"
_HOLT_L_NEW = _holt_level("e.x", _HOLT_L_PREV, _HOLT_B_PREV)
_HOLT_FOLD = f"""aggregate(
  slice(arr, 2, size(arr) - 1),
  array(named_struct('l', element_at(arr, 1).x * {_HOLT_MU},
                     'b', CAST(0 AS BIGINT))),
  (acc, e) -> concat(acc, array(
    named_struct('l', {_HOLT_L_NEW},
                 'b', {_holt_trend(_HOLT_L_NEW, _HOLT_L_PREV, _HOLT_B_PREV)})))
)"""


def q_events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing of the daily event
    count (level + trend state, the step beyond events_ses_forecast's
    level-only SES): state as two exact micro-unit integers per day,
    forecast = level + trend. The oracle runs the recurrence as a
    recursive CTE; Spark replays the identical integer arithmetic as
    an ordered array fold that APPENDS each (level, trend) state (the
    q_events_cusum_changepoints pattern), exploded back to one row per
    day zipped with its (day, count) — r13: the recursive-CTE plan
    re-planned ~30 UnionLoop levels per run (~4.5 s for a 30-row walk,
    measured to be re-planning cost, not exchange cost — r12 A/B);
    the fold is one plan, one bounded single-row aggregate. Fold state
    is the day-level series — bounded by calendar span, not event
    volume (the SES/CUSUM state-bound argument)."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    # a global aggregate yields one row even over no events; an empty
    # series has no first state to fold from (the oracle's walk returns
    # no rows), so it is dropped before the fold
    g = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("arr")
    ).where(F.size("arr") > 0)
    rows = g.select(
        F.explode(
            F.arrays_zip(F.col("arr"), F.expr(_HOLT_FOLD).alias("st"))
        ).alias("z")
    )
    return rows.select(
        F.col("z.arr.d").cast("date").alias("day"),
        F.col("z.arr.x").alias("n_events"),
        F.col("z.st.l").alias("level_mu"),
        F.col("z.st.b").alias("trend_mu"),
        (F.col("z.st.l") + F.col("z.st.b")).alias("forecast_next_mu"),
    )


QUERIES = {
    "events_holt_linear": q_events_holt_linear,
    "interarrival_dispersion": q_interarrival_dispersion,
    "ses_backtest_mase": q_ses_backtest_mase,
    "events_linear_interpolate": q_events_linear_interpolate,
    "theil_sen_trend": q_theil_sen_trend,
    "attribution_last_touch": q_attribution_last_touch,
    "events_error_bursts": q_events_error_bursts,
    "events_seasonality_profile": q_events_seasonality_profile,
    "events_clamped_balance": q_events_clamped_balance,
    "events_ses_forecast": q_events_ses_forecast,
    "events_twap": q_events_twap,
    "events_cusum_changepoints": q_events_cusum_changepoints,
    "business_days_to_ship": q_business_days_to_ship,
    "events_cross_correlation": q_events_cross_correlation,
    "events_longest_streak": q_events_longest_streak,
    "events_bollinger_breach": q_events_bollinger_breach,
    "attribution_linear": q_attribution_linear,
    "conversion_latency_histogram": q_conversion_latency_histogram,
    "user_path_similarity": q_user_path_similarity,
    "event_lateness_profile": q_event_lateness_profile,
    "tz_conversion_funcs": q_tz_conversion_funcs,
    "events_running_distinct_types": q_events_running_distinct_types,
    "events_rolling_median": q_events_rolling_median,
    "cep_pattern_match": q_cep_pattern_match,
    "events_hourly_anomaly": q_events_hourly_anomaly,
    "session_path_analysis": q_session_path_analysis,
    "events_debounce": q_events_debounce,
    "event_transition_matrix": q_event_transition_matrix,
    "events_hypertable_rollup": q_events_hypertable_rollup,
    "events_rolling_1h": q_events_rolling_1h,
    "events_funnel": q_events_funnel,
    "events_tumbling_window": q_events_tumbling_window,
    "events_session_window_native": q_events_session_window_native,
    "events_sliding_window": q_events_sliding_window,
    "events_sessionize": q_events_sessionize,
    "asof_join_events_orders": q_asof_join_events_orders,
    "asof_join_directions": q_asof_join_directions,
    "asof_join_directions_union": q_asof_join_directions_union,
    "events_range_join": q_events_range_join,
    "events_range_join_bucketed": q_events_range_join_bucketed,
}

ORACLES = {
    "asof_join_directions": _ASOF_DIRECTIONS_ORACLE,
    # the zero-fan-out union formulation answers the SAME question —
    # one oracle, two physical plans (see q_asof_join_directions_union)
    "asof_join_directions_union": _ASOF_DIRECTIONS_ORACLE,
    "events_holt_linear": _HOLT_LINEAR_ORACLE,
    "interarrival_dispersion": _DISPERSION_ORACLE,
    "ses_backtest_mase": _MASE_ORACLE,
    "events_linear_interpolate": _INTERP_ORACLE,
    "theil_sen_trend": _THEIL_SEN_ORACLE,
    # list_reduce seeds from the first element, matching the Spark
    # fold's element_at(series, 1) init; // 2 == shiftright 1 for the
    # non-negative cents
    # the nonlinear fold replayed as a depth-indexed recursion; div/
    # // truncation identical (all sums non-negative)
    "events_cusum_changepoints": """
WITH RECURSIVE daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS day_cents
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(sum(day_cents) // count(*) AS BIGINT) AS mean_cents
  FROM daily GROUP BY 1
), o AS (
  SELECT d.event_type, d.day, d.day_cents, m.mean_cents,
    row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
  FROM daily d JOIN m USING (event_type)
), walk(event_type, day, day_cents, mean_cents, rn, cusum) AS (
  SELECT event_type, day, day_cents, mean_cents, rn,
    greatest(CAST(0 AS BIGINT), day_cents - mean_cents)
  FROM o WHERE rn = 1
  UNION ALL
  SELECT t.event_type, t.day, t.day_cents, t.mean_cents, t.rn,
    greatest(CAST(0 AS BIGINT), w.cusum + t.day_cents - t.mean_cents)
  FROM walk w JOIN o t
    ON t.event_type = w.event_type AND t.rn = w.rn + 1
)
SELECT event_type, day, day_cents,
  CAST(cusum AS BIGINT) AS cusum_cents,
  cusum > mean_cents AS is_alarm
FROM walk
""",
    "events_ses_forecast": """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS day_cents
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, count(*) AS n_days,
         CAST(sum(day_cents) AS BIGINT) AS total_cents,
         list(day_cents ORDER BY day) AS l
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, total_cents,
       CAST(list_reduce(l, (a, x) -> (a + x) // 2) AS BIGINT)
         AS ses_forecast_cents
FROM s
""",
    # cents and gaps are non-negative, so // (floor) == Spark div
    # (truncation) everywhere; last event carries zero weight by the
    # right-open convention on both sides
    # n_touch = 0 only on the NULL left-join row (count(c_id) skips
    # nulls); cents and counts non-negative so div/% agree across
    # engines
    "event_lateness_profile": """
WITH late AS (
  SELECT event_type,
    (max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
     - epoch_us(ts)) // 1000 AS late_ms
  FROM events
)
SELECT event_type,
  CAST(CASE WHEN late_ms <= 0 THEN -1
       ELSE length(bin(late_ms)) - 1 END AS INTEGER) AS lateness_bucket,
  count(*) AS n_events
FROM late GROUP BY 1, 2
""",
    "user_path_similarity": f"""
WITH r AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    substr(event_type, 1, 1) AS c
  FROM events
), per_user AS (
  SELECT user_id,
    array_to_string(list_slice(
      list_transform(
        list_sort(list(ROW(us, event_id, c))), x -> x[3]),
      1, {PATH_SIG_LEN}), '') AS sig,
    min(us) // 604800000000 AS cohort_week
  FROM r GROUP BY user_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
  a.sig AS sig_a, b.sig AS sig_b,
  CAST(levenshtein(a.sig, b.sig) AS INTEGER) AS lev
FROM per_user a JOIN per_user b
  ON a.cohort_week = b.cohort_week AND a.user_id < b.user_id
 AND levenshtein(a.sig, b.sig) <= {PATH_MAX_LEV}
""",
    # bucket = floor(log2(m+1)) via binary-string length on both sides
    "conversion_latency_histogram": """
WITH fe AS (
  SELECT user_id, min(epoch_us(ts)) AS first_us FROM events GROUP BY 1
), fp AS (
  SELECT user_id, min(epoch_us(ts)) AS first_p_us
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), lat AS (
  SELECT fe.user_id,
    (fp.first_p_us - fe.first_us) // 60000000 AS latency_min
  FROM fe LEFT JOIN fp USING (user_id)
)
SELECT CAST(CASE WHEN latency_min IS NULL THEN -1
            ELSE length(bin(latency_min + 1)) - 1 END AS INTEGER)
  AS latency_bucket,
  count(*) AS n_users
FROM lat GROUP BY 1
""",
    "attribution_linear": """
WITH p AS (
  SELECT event_id AS p_id, user_id AS u,
    CAST(epoch_us(ts) AS BIGINT) AS p_us,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id AS u, event_id AS c_id,
    CAST(epoch_us(ts) AS BIGINT) AS c_us
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT p.p_id, p.cents, c.c_us, c.c_id
  FROM p LEFT JOIN c
    ON p.u = c.u AND c.c_us < p.p_us
   AND c.c_us >= p.p_us - 86400000000
), t AS (
  SELECT p_id, cents, c_us,
    count(c_id) OVER (PARTITION BY p_id) AS n_touch,
    row_number() OVER (PARTITION BY p_id ORDER BY c_us, c_id) AS rn
  FROM j
), credited AS (
  SELECT
    CASE WHEN c_us IS NULL THEN -1 ELSE c_us // 3600000000 END
      AS click_hour,
    CASE WHEN n_touch = 0 THEN cents
         ELSE cents // n_touch
              + CASE WHEN rn = 1 THEN cents % n_touch ELSE 0 END
    END AS credit
  FROM t
)
SELECT click_hour, count(*) AS n_touches,
  CAST(sum(credit) AS BIGINT) AS credited_cents
FROM credited GROUP BY 1
""",
    "events_bollinger_breach": f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
), stats AS (
  SELECT day, x,
    count(*) OVER w AS n,
    CAST(sum(x) OVER w AS BIGINT) AS s1,
    CAST(sum(x * x) OVER w AS BIGINT) AS s2
  FROM daily
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {BOLL_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT day, x AS day_cents, CAST(n AS INTEGER) AS n_win,
  (n * x - s1) * (n * x - s1) > {BOLL_K * BOLL_K} * (n * s2 - s1 * s1)
    AND n * x - s1 > 0 AS breach_up,
  (n * x - s1) * (n * x - s1) > {BOLL_K * BOLL_K} * (n * s2 - s1 * s1)
    AND n * x - s1 < 0 AS breach_down
FROM stats
""",
    "events_longest_streak": """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), isl AS (
  SELECT user_id, day,
    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
), islands AS (
  SELECT user_id, grp, count(*) AS len, min(day) AS start_day
  FROM isl GROUP BY 1, 2
), ranked AS (
  SELECT user_id, len, start_day,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY len DESC, start_day) AS rn,
    sum(len) OVER (PARTITION BY user_id) AS tot
  FROM islands
)
SELECT user_id, CAST(tot AS BIGINT) AS n_active_days,
  CAST(len AS BIGINT) AS longest_streak,
  CAST(start_day AS BIGINT) AS streak_start_day
FROM ranked WHERE rn = 1
""",
    "events_cross_correlation": f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS day_cents
  FROM events WHERE event_type IN ('{XCORR_A}', '{XCORR_B}')
  GROUP BY 1, 2
), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
grid AS (
  SELECT unnest(generate_series(d0, d1)) AS day FROM b
), filled AS (
  SELECT g.day,
    coalesce(x.day_cents, 0) AS x,
    coalesce(y.day_cents, 0) AS y
  FROM grid g
  LEFT JOIN daily x ON x.day = g.day AND x.event_type = '{XCORR_A}'
  LEFT JOIN daily y ON y.day = g.day AND y.event_type = '{XCORR_B}'
), lags AS (
  SELECT unnest(generate_series(0, {XCORR_MAX_LAG})) AS lag
)
SELECT l.lag, count(*) AS n,
  CAST(count(*) * sum(f.x * s.y) - sum(f.x) * sum(s.y) AS BIGINT)
    AS cov_numerator
FROM lags l
JOIN filled f ON TRUE
JOIN filled s ON s.day = f.day + l.lag
GROUP BY l.lag
""",
    "business_days_to_ship": """
WITH d AS (
  SELECT o.o_orderpriority,
    CAST(datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
      AS BIGINT) AS e_ship,
    CAST(datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
      AS BIGINT) AS e_ord
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), j AS (
  SELECT o_orderpriority,
    (5 * ((e_ship + 3) // 7) + least((e_ship + 3) % 7, 5))
    - (5 * ((e_ord + 3) // 7) + least((e_ord + 3) % 7, 5)) AS busdays
  FROM d
)
SELECT o_orderpriority, count(*) AS n_lineitems,
  CAST(sum(busdays) AS BIGINT) AS sum_busdays,
  CAST(sum(busdays) * 1000 // count(*) AS BIGINT) AS avg_busdays_milli
FROM j GROUP BY 1
""",
    "events_twap": """
WITH r AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
    coalesce((lead(epoch_us(ts)) OVER (PARTITION BY user_id
        ORDER BY epoch_us(ts), event_id) - epoch_us(ts)) // 1000,
      0) AS dur_ms
  FROM events
), a AS (
  SELECT user_id, count(*) AS n_events,
    CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
    sum(cents * dur_ms) AS num
  FROM r GROUP BY 1
)
SELECT user_id, n_events, total_dur_ms,
  CASE WHEN total_dur_ms > 0
       THEN CAST(num // total_dur_ms AS BIGINT) END AS twap_cents
FROM a
""",
    "attribution_last_touch": """
WITH p AS (
  SELECT event_id AS p_id, user_id AS u,
    CAST(epoch_us(ts) AS BIGINT) AS p_us,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id AS u, event_id AS c_id,
    CAST(epoch_us(ts) AS BIGINT) AS c_us
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT p.p_id, p.cents, c.c_us, c.c_id
  FROM p LEFT JOIN c ON p.u = c.u
    AND c.c_us < p.p_us AND c.c_us >= p.p_us - 86400000000
), best AS (
  SELECT p_id, cents,
    CASE WHEN c_us IS NULL THEN -1 ELSE c_us // 3600000000 END
      AS click_hour,
    row_number() OVER (PARTITION BY p_id
      ORDER BY c_us DESC NULLS LAST, c_id DESC NULLS LAST) AS rn
  FROM j
)
SELECT click_hour, count(*) AS n_purchases,
  CAST(sum(cents) AS BIGINT) AS attributed_cents
FROM best WHERE rn = 1 GROUP BY click_hour
""",
    "events_error_bursts": """
WITH e AS (
  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
  FROM events WHERE event_type = 'error'
), c AS (
  SELECT event_id, user_id, ts_us,
    CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_us
      RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS BIGINT)
      AS errors_30m
  FROM e
)
SELECT event_id, user_id, ts_us, errors_30m FROM c WHERE errors_30m >= 2
""",
    "events_seasonality_profile": f"""
WITH slots AS (
  SELECT CAST((epoch_us(ts) // {_US_PER_DAY} + 3) % 7 AS INTEGER) AS dow,
    CAST((epoch_us(ts) // {_US_PER_HOUR_SP}) % 24 AS INTEGER) AS hod,
    count(*) AS n_events,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS slot_cents
  FROM events GROUP BY 1, 2
), totals AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total_n,
    CAST(sum(slot_cents) AS BIGINT) AS total_cents
  FROM slots
)
SELECT dow, hod, n_events, slot_cents,
  CAST((slot_cents * 1000000 // n_events) * total_n // total_cents
       AS BIGINT) AS revenue_index_ppm
FROM slots, totals
""",
    "events_clamped_balance": """
WITH r AS (
  SELECT user_id,
    {'us': epoch_us(ts), 'eid': event_id,
     'delta': CASE event_type
        WHEN 'purchase' THEN CAST(round(value * 100) AS BIGINT)
        WHEN 'error' THEN -CAST(round(value * 100) AS BIGINT)
        ELSE 0 END} AS s
  FROM events
), g AS (
  SELECT user_id, count(*) AS n_events,
    list_transform(list_sort(list(s)), x -> x.delta) AS deltas
  FROM r GROUP BY user_id
)
SELECT user_id, n_events,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), deltas),
    (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)) AS BIGINT)
    AS final_balance_cents
FROM g
""",
    "tz_conversion_funcs": f"""
SELECT event_id,
  CAST(extract(hour FROM timezone('Asia/Tokyo', ts::TIMESTAMPTZ))
       AS INTEGER) AS tokyo_hour,
  CAST(extract(minute FROM timezone('Asia/Kolkata', ts::TIMESTAMPTZ))
       AS INTEGER) AS kolkata_minute,
  CAST(epoch_us(CAST(timezone('Asia/Tokyo', ts::TIMESTAMPTZ) AS DATE)
                ::TIMESTAMP) // {_US_PER_DAY}
       - epoch_us(ts) // {_US_PER_DAY} AS INTEGER) AS tokyo_day_shift
FROM events
""",
    "events_running_distinct_types": """
SELECT event_id, user_id, event_type,
  CAST(len(list_distinct(list(event_type) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS UNBOUNDED PRECEDING))) AS INTEGER) AS n_distinct_types_so_far
FROM events
""",
    "events_rolling_median": f"""
SELECT event_id, user_id, value_cents,
  frame[CAST((len(frame) + 1) // 2 AS INTEGER)] AS rolling_median_cents
FROM (
  SELECT event_id, user_id,
    CAST(round(value * 100) AS BIGINT) AS value_cents,
    list_sort(list(CAST(round(value * 100) AS BIGINT)) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN {MEDIAN_TRAIL_ROWS - 1} PRECEDING AND CURRENT ROW
    )) AS frame
  FROM events
)
""",
    "cep_pattern_match": f"""
WITH s AS (
  SELECT event_id AS signup_id, user_id AS u, epoch_us(ts) AS s_us
  FROM events WHERE event_type = 'signup'
), p AS (
  SELECT event_id AS purchase_id, user_id AS pu, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
), first_p AS (
  SELECT * FROM (
    SELECT s.signup_id, s.u, s.s_us, p.purchase_id, p.p_us,
      row_number() OVER (PARTITION BY s.signup_id
                         ORDER BY p.p_us ASC, p.purchase_id ASC) AS rn
    FROM s JOIN p ON s.u = p.pu
      AND p.p_us > s.s_us AND p.p_us <= s.s_us + {CEP_WINDOW_US}
  ) WHERE rn = 1
)
SELECT signup_id, u AS user_id, purchase_id, p_us - s_us AS latency_us
FROM first_p f
WHERE NOT EXISTS (
  SELECT 1 FROM events e
  WHERE e.event_type = 'error' AND e.user_id = f.u
    AND epoch_us(e.ts) > f.s_us AND epoch_us(e.ts) < f.p_us
)
""",
    "events_hourly_anomaly": f"""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hour, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT hour, event_type, c,
    count(c) OVER w AS n, sum(c) OVER w AS s, sum(c*c) OVER w AS ss
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               RANGE BETWEEN {ANOMALY_TRAIL_H} PRECEDING AND 1 PRECEDING)
)
SELECT hour, event_type, c, CAST(n AS INTEGER) AS n_trailing,
  CASE WHEN n >= 2
       THEN (n*c - s)*(n*c - s)*(n-1) > {ANOMALY_Z * ANOMALY_Z}*n*(n*ss - s*s)
       ELSE NULL END AS is_anomaly
FROM stats
""",
    "session_path_analysis": f"""
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
              > {SESSION_GAP_MIN} * 60 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id, ts, event_id, event_type,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
), paths AS (
  SELECT user_id, session_idx,
    array_to_string(
      (list(event_type ORDER BY ts ASC, event_id ASC))[1:8], '>') AS path
  FROM s GROUP BY user_id, session_idx
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOP_K}
""",
    "events_debounce": f"""
SELECT event_id, user_id, event_type, ts FROM (
  SELECT event_id, user_id, event_type, ts,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC
    ) AS gap_us
  FROM events
) WHERE gap_us IS NULL OR gap_us > {DEBOUNCE_GAP_US}
""",
    "event_transition_matrix": """
WITH s AS (
  SELECT event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
)
SELECT event_type, next_type, count(*) AS n_transitions
FROM s WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
    "events_funnel": """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t_signup
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
  1 + CAST(s2.t_click IS NOT NULL AS INTEGER)
    + CAST(s3.t_purchase IS NOT NULL AS INTEGER) AS funnel_stage
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
""",
    "events_rolling_1h": """
SELECT event_id, user_id,
  epoch_us(ts) AS ts_us,
  count(*) OVER w AS n_last_1h,
  CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_value_1h
FROM events
WHERE user_id < 40
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    "events_hypertable_rollup": """
WITH h AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
    count(*) AS n_events,
    sum(CAST(value AS DECIMAL(12,2))) AS sum_v
  FROM events GROUP BY 1
), d AS (
  SELECT CAST(date_trunc('day', bucket_start) AS TIMESTAMP) AS bucket_start,
    CAST(sum(n_events) AS BIGINT) AS n_events, sum(sum_v) AS sum_v
  FROM h GROUP BY 1
), m AS (
  SELECT CAST(date_trunc('month', bucket_start) AS TIMESTAMP) AS bucket_start,
    CAST(sum(n_events) AS BIGINT) AS n_events, sum(sum_v) AS sum_v
  FROM d GROUP BY 1
)
SELECT 'hour' AS granularity, bucket_start,
  CAST(n_events AS BIGINT) AS n_events, CAST(sum_v AS DOUBLE) AS sum_value FROM h
UNION ALL
SELECT 'day', bucket_start, n_events, CAST(sum_v AS DOUBLE) FROM d
UNION ALL
SELECT 'month', bucket_start, n_events, CAST(sum_v AS DOUBLE) FROM m
""",
    "events_session_window_native": """
WITH g AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL THEN 1
         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id, ts, value,
    sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
)
SELECT user_id,
  min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, session_idx
""",
    "events_tumbling_window": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
""",
    "events_sliding_window": """
WITH doubled AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, event_type, value FROM events
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM doubled
GROUP BY 1, 2
""",
    "events_sessionize": """
WITH g AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL THEN 1
         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id, ts, value,
    sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  count(*) AS n_events,
  min(ts) AS session_start,
  max(ts) AS session_end,
  (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_sec,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, session_idx
""",
    "asof_join_events_orders": """
WITH j AS (
  SELECT e.event_id, e.user_id, e.ts,
    o.o_orderkey, o.o_orderdate, o.o_totalprice,
    row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id, ts,
  o_orderkey AS last_orderkey,
  o_orderdate AS last_orderdate,
  o_totalprice AS last_totalprice
FROM j WHERE rn = 1
""",
    "events_range_join": _RANGE_JOIN_ORACLE,
    # the bucketized (user, hour_bucket) equi-join form answers the
    # SAME question — one oracle, two physical plans
    "events_range_join_bucketed": _RANGE_JOIN_ORACLE,
}
