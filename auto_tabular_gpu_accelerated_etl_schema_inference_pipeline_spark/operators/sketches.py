"""Deterministic sketch structures built as plain aggregations — the
engine-portable complement to Spark's built-in sketches
(approx_count_distinct / percentile_approx / approx_top_k, which are
rows-only at the gate because their HLL/KLL internals are
Spark-specific). A count-min sketch built from md5-derived hashes is
bit-reproducible on ANY engine, so the sketch itself — not just its
estimates — is oracle-verifiable.

Scale design: the build is ONE groupBy over (depth, bucket) — d·w
counters total (4×64 here), mergeable across partitions/days by simple
addition (the CMS linearity property a 100 TB rollup pipeline exploits:
sketch(day1+day2) = sketch(day1) + sketch(day2)). The estimate pass
broadcasts the tiny counter table; queries never rescan raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_events

CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_PROBE_K = 10


def _bucket_expr(depth_col: str, key_col: str) -> str:
    """Engine-portable hash bucket: md5 of 'depth:key', first 8 hex
    chars as an int, mod width. Identical in DuckDB via the same string
    construction."""
    return (
        f"cast(conv(substring(md5(concat(cast({depth_col} as string), ':', "
        f"cast({key_col} as string))), 1, 8), 16, 10) as bigint) % {CMS_WIDTH}"
    )


def q_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over events.user_id, probed at the exact top-10
    users: per key the true count and the CMS estimate (min over the 4
    hashed counters — always >= true, the CMS guarantee, pinned by a
    property test). Both the counters and the probes are deterministic,
    so the whole structure is value-verified cross-engine."""
    ev = load_events(spark, sf_dir)
    keyed = ev.select(F.col("user_id").cast("string").alias("k"))
    depths = keyed.select(
        "k", F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("d")
    )
    counters = depths.groupBy(
        "d", F.expr(_bucket_expr("d", "k")).alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))

    top = (
        keyed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("k").asc())
        .limit(CMS_PROBE_K)
    )
    probes = top.select(
        "k",
        "true_n",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("d"),
    ).withColumn("b", F.expr(_bucket_expr("d", "k")))
    return (
        probes.join(F.broadcast(counters), ["d", "b"])
        .groupBy("k", "true_n")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            F.col("k").cast("bigint").alias("user_id"),
            "true_n",
            "cms_estimate",
        )
    )


_CMS_BUCKET_SQL = (
    "(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || k), 1, 8))::BIGINT) "
    f"% {CMS_WIDTH}"
)

_CMS_ORACLE = f"""
WITH keyed AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events
), depths AS (
  SELECT k, unnest(generate_series(0, {CMS_DEPTH - 1})) AS d FROM keyed
), counters AS (
  SELECT d, {_CMS_BUCKET_SQL} AS b, count(*) AS cnt
  FROM depths GROUP BY 1, 2
), top AS (
  SELECT k, count(*) AS true_n FROM keyed GROUP BY k
  ORDER BY true_n DESC, k ASC LIMIT {CMS_PROBE_K}
), probes AS (
  SELECT k, true_n, unnest(generate_series(0, {CMS_DEPTH - 1})) AS d
  FROM top
)
SELECT CAST(p.k AS BIGINT) AS user_id, p.true_n,
  min(c.cnt) AS cms_estimate
FROM (SELECT k, true_n, d, {_CMS_BUCKET_SQL} AS b FROM probes) p
JOIN counters c ON p.d = c.d AND p.b = c.b
GROUP BY p.k, p.true_n
"""


#: portable HLL: 2^HLL_P registers; hash = first 8 md5 hex chars
#: (32 bits) split into bucket (low HLL_P bits) and a 24-bit word
HLL_P = 8
HLL_M = 1 << HLL_P
#: alpha_m for m = 256 (Flajolet et al. 2007, m >= 128 case), and the
#: precomputed alpha*m^2 shipped to BOTH engines as one double literal
#: (a DECIMAL-parsed alpha overflows DuckDB's literal multiplication)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / 256.0)
HLL_ALPHA_M2 = HLL_ALPHA * HLL_M * HLL_M


def q_hll_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built from PORTABLE md5-derived hashes — the
    value-verified twin of approx_count_distinct (whose Spark-native
    HLL internals no other engine replays, keeping it rows-only at the
    gate): 256 registers, register = max leading-zero rank of the
    24-bit hash word per bucket, estimate = the Flajolet bias-corrected
    harmonic mean with the small-range linear-counting correction.
    Every register is an exact integer on both engines (rank from the
    BINARY-STRING length of the hash word — no float log2 near powers
    of two); the estimate is one closed-form double expression over the
    256 exact registers. Output: exact distinct, the HLL estimate, and
    the signed error — the accuracy contract (±~6.5% at m=256) made
    inspectable.

    Scale shape: ONE groupBy(bucket) max-aggregate (256 rows out,
    mergeable by register-wise max — the HLL union property a rollup
    pipeline exploits); the estimate folds the 256-row table in-array.
    The exact count alongside is the audit column, not the production
    path."""
    ev = load_events(spark, sf_dir)
    h = F.expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 8),"
        " 16, 10) as bigint)"
    )
    regs = (
        ev.select(
            (h % HLL_M).alias("bucket"),
            F.expr(
                f"cast(conv(substring(md5(cast(event_id as string)),"
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
    # fold the <=256-row register table into the estimate: missing
    # buckets count as rho = 0 (2^-0 = 1 each, and as zero registers)
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r").cast("double"))).alias(
            "z_present"
        ),
        F.count(F.lit(1)).alias("m_present"),
        F.sum((F.col("r") == 0).cast("bigint")).alias("zeros_present"),
    )
    z = F.col("z_present") + (F.lit(HLL_M) - F.col("m_present"))
    zeros = F.col("zeros_present") + (
        F.lit(HLL_M) - F.col("m_present")
    )
    raw = F.lit(HLL_ALPHA_M2) / z
    est = F.when(
        (raw <= 2.5 * HLL_M) & (zeros > 0),
        F.lit(float(HLL_M))
        * F.log(F.lit(float(HLL_M)) / zeros.cast("double")),
    ).otherwise(raw)
    exact = ev.agg(
        F.countDistinct("event_id").cast("bigint").alias("n_exact")
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


_HLL_ORACLE = f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
    AS hv
  FROM events
), regs AS (
  SELECT hv % {HLL_M} AS bucket,
    max(CASE WHEN hv // {HLL_M} = 0 THEN 25
             ELSE 25 - length(bin(hv // {HLL_M})) END) AS r
  FROM h GROUP BY hv % {HLL_M}
), agg AS (
  SELECT sum(pow(2.0, -CAST(r AS DOUBLE))) AS z_present,
    count(*) AS m_present,
    sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros_present
  FROM regs
), est AS (
  SELECT
    CASE WHEN {HLL_ALPHA_M2!r} / (z_present + ({HLL_M} - m_present))
              <= 2.5 * {HLL_M}
          AND zeros_present + ({HLL_M} - m_present) > 0
         THEN {HLL_M}.0 * ln({HLL_M}.0
              / CAST(zeros_present + ({HLL_M} - m_present) AS DOUBLE))
         ELSE {HLL_ALPHA_M2!r} / (z_present + ({HLL_M} - m_present))
    END AS e
  FROM agg
), ex AS (
  SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact FROM events
)
SELECT ex.n_exact,
  CAST(round(est.e * 1000) AS BIGINT) AS hll_estimate_milli,
  CAST(round((est.e - CAST(ex.n_exact AS DOUBLE))
             / CAST(ex.n_exact AS DOUBLE) * 1000000.0) AS BIGINT)
    AS err_ppm
FROM ex CROSS JOIN est
"""


def q_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY made first-class — the property that makes
    sketches the 100 TB distinct-count answer: DAILY register tables
    (256 rows/day, not raw events) are unioned into WEEKLY sketches by
    register-wise max, so a rollup pipeline stores tiny per-partition
    sketches and answers any coarser window WITHOUT rescanning raw
    data. Weekly distinct users estimated from merged daily registers,
    with the exact count and signed error as audit columns.

    Exactness: max-merge of exact integer registers is associative —
    merged weekly registers are bit-identical to registers computed
    from the raw week, so the oracle replays the same two-level
    pipeline and every value matches (same portable md5 construction
    as hll_portable_distinct).

    Scale shape: one groupBy(day, bucket) over events (the only pass
    that touches raw rows, map-side combinable), then all further
    aggregation is over |days|×256 register rows — at 100 TB the merge
    stage processes kilobytes per partition regardless of event
    volume. The exact countDistinct alongside is the fixture-scale
    audit, not the production path."""
    ev = load_events(spark, sf_dir)
    h = F.expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 8),"
        " 16, 10) as bigint)"
    )
    base = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        (h % HLL_M).alias("bucket"),
        F.expr(
            f"cast(conv(substring(md5(cast(user_id as string)), 1, 8),"
            f" 16, 10) as bigint) div {HLL_M}"
        ).alias("w"),
    ).withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(25)).otherwise(
            F.lit(25) - F.length(F.conv(F.col("w"), 10, 2))
        ),
    )
    daily = base.groupBy("day", "bucket").agg(F.max("rho").alias("r"))
    week = F.expr("(unix_timestamp(day) div 86400) div 7")
    merged = (
        daily.select(week.alias("week"), "bucket", "r")
        .groupBy("week", "bucket")
        .agg(F.max("r").alias("r"))  # register-wise HLL union
    )
    agg = merged.groupBy("week").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r").cast("double"))).alias(
            "z_present"
        ),
        F.count(F.lit(1)).alias("m_present"),
        F.sum((F.col("r") == 0).cast("bigint")).alias("zeros_present"),
    )
    z = F.col("z_present") + (F.lit(HLL_M) - F.col("m_present"))
    zeros = F.col("zeros_present") + (F.lit(HLL_M) - F.col("m_present"))
    raw = F.lit(HLL_ALPHA_M2) / z
    est = F.when(
        (raw <= 2.5 * HLL_M) & (zeros > 0),
        F.lit(float(HLL_M))
        * F.log(F.lit(float(HLL_M)) / zeros.cast("double")),
    ).otherwise(raw)
    exact = (
        ev.select(
            F.expr(
                "(unix_timestamp(date_trunc('day', ts)) div 86400) div 7"
            ).alias("week"),
            "user_id",
        )
        .groupBy("week")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return exact.join(agg, "week").select(
        F.col("week").cast("bigint").alias("week"),
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


_HLL_ROLLUP_ORACLE = f"""
WITH h AS (
  SELECT date_trunc('day', ts) AS day,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
  FROM events
), daily AS (
  SELECT day, hv % {HLL_M} AS bucket,
    max(CASE WHEN hv // {HLL_M} = 0 THEN 25
             ELSE 25 - length(bin(hv // {HLL_M})) END) AS r
  FROM h GROUP BY 1, 2
), merged AS (
  SELECT (epoch_us(day) // 86400000000) // 7 AS week, bucket,
    max(r) AS r
  FROM daily GROUP BY 1, 2
), agg AS (
  SELECT week,
    sum(pow(2.0, -CAST(r AS DOUBLE))) AS z_present,
    count(*) AS m_present,
    sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros_present
  FROM merged GROUP BY week
), est AS (
  SELECT week,
    CASE WHEN {HLL_ALPHA_M2!r} / (z_present + ({HLL_M} - m_present))
              <= 2.5 * {HLL_M}
          AND zeros_present + ({HLL_M} - m_present) > 0
         THEN {HLL_M}.0 * ln({HLL_M}.0
              / CAST(zeros_present + ({HLL_M} - m_present) AS DOUBLE))
         ELSE {HLL_ALPHA_M2!r} / (z_present + ({HLL_M} - m_present))
    END AS e
  FROM agg
), ex AS (
  SELECT (epoch_us(date_trunc('day', ts)) // 86400000000) // 7 AS week,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT CAST(ex.week AS BIGINT) AS week, ex.n_exact,
  CAST(round(est.e * 1000) AS BIGINT) AS hll_estimate_milli,
  CAST(round((est.e - CAST(ex.n_exact AS DOUBLE))
             / CAST(ex.n_exact AS DOUBLE) * 1000000.0) AS BIGINT)
    AS err_ppm
FROM ex JOIN est ON ex.week = est.week
"""


QUERIES = {
    "count_min_sketch": q_count_min_sketch,
    "hll_portable_distinct": q_hll_portable_distinct,
    "hll_rollup_merge": q_hll_rollup_merge,
}
ORACLES = {
    "count_min_sketch": _CMS_ORACLE,
    "hll_portable_distinct": _HLL_ORACLE,
    "hll_rollup_merge": _HLL_ROLLUP_ORACLE,
}
