"""Statistical evaluation operators, round 4 batch 3: Kaplan–Meier
retention (survival analysis over the events stream) and Cohen's kappa
inter-rater agreement (label-quality audit for LLM annotation pipelines).

Exactness discipline (the llm_prep pattern): every count is
exact BIGINT; the single transcendental per operator (one ``ln`` per
life-table row in KM) is quantized to micro-nats BEFORE any cross-row
arithmetic, so prefix sums and the final ``exp`` see identical inputs on
both engines. Kappa needs no floats at all until the last division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table

#: a user whose LAST event is more than this many hours before the end
#: of the observation window is treated as churned (event observed);
#: later activity would have shown up inside the window otherwise. Hours
#: (not days) because the fixture's event stream is dense: the median
#: user's last-event gap is ~7 h, p90 ~24 h — a day-granular cut would
#: declare zero churn and the KM curve would be a vacuous flat line.
KM_CHURN_GAP_HOURS = 12

#: Cohen's-kappa raters: two deterministic document-quality screens that
#: correlate but disagree on boundary docs — rater A passes docs with at
#: least this many characters, rater B docs with at least KAPPA_MIN_TOKENS
#: whitespace tokens. (In production these are two model annotators or a
#: model vs. human pass; the agreement math is identical.)
KAPPA_MIN_CHARS = 200
KAPPA_MIN_TOKENS = 40


def q_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of user lifetime (whole hours from
    first to last activity), with right-censoring: users still active
    near the end of the observation window (last event within
    KM_CHURN_GAP_HOURS of the global max timestamp) are censored — their
    true lifetime exceeds what we observed, and dropping them (the naive
    average) biases retention DOWN. Output is the classic life table:
    one row per distinct observed lifetime t with the at-risk count,
    churn events, censorings, and the KM survival estimate
    S(t) = Π_{u ≤ t} (1 − d_u / n_u) in ppm.

    Exactness: hour diffs are floor divisions of truncated epoch
    SECONDS (Spark unix_timestamp and DuckDB epoch_us//1e6 truncate
    identically — the datediff/date_diff builtins were rejected because
    the engines disagree on boundary-crossing vs elapsed semantics);
    per-row ln(1 − d/n) is quantized to micro-nats (round·6 → BIGINT),
    the running product becomes an exact integer prefix sum, and
    S(t) = exp(sum/1e6) — one exp over an identical double on both
    engines, rounded to ppm.

    Scale shape: ONE corpus scan collapses events to |users| rows
    (min/max epoch-seconds per user — map-side partial agg); the
    observation-window max comes off that bounded per-user table via a
    partitionless window (|users| rows, not |events|); the life table is
    |distinct lifetimes| rows (bounded by the window length in hours),
    so its ordered windows are trivially small. Nothing row-scale ever
    sorts globally."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.unix_timestamp("ts")).alias("first_s"),
        F.max(F.unix_timestamp("ts")).alias("last_s"),
    )
    wall = Window.partitionBy()
    gap_s = KM_CHURN_GAP_HOURS * 3600
    pu = per_user.withColumn("wmax", F.max("last_s").over(wall)).select(
        F.when(
            F.col("wmax") - F.col("last_s") > gap_s, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("churned"),
        F.when(
            F.col("wmax") - F.col("last_s") > gap_s,
            F.expr("(last_s - first_s) div 3600"),
        )
        .otherwise(F.expr("(wmax - first_s) div 3600"))
        .cast("bigint")
        .alias("t"),
    )
    life = pu.groupBy("t").agg(
        F.sum("churned").cast("bigint").alias("d"),
        F.sum(1 - F.col("churned")).cast("bigint").alias("c"),
    )
    # at-risk = everyone with lifetime >= t: reverse cumulative sum over
    # the |distinct lifetimes|-row life table
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    lt = life.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_desc)
    )
    # ln(1 - d/n) quantized to micro-nats; exact prefix sum; one exp.
    # If every at-risk user churns at some t (n_risk == d), survival is
    # exactly 0 from there on: a -1e15 micro-nat sentinel (exp of which
    # underflows to 0.0 identically on both engines) replaces ln(0),
    # which the engines render differently (-inf vs error).
    ln_term = F.when(
        F.col("n_risk") > F.col("d"),
        F.round(
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk").cast("double")
                ),
                6,
            )
            * 1_000_000
        ).cast("bigint"),
    ).otherwise(F.lit(-1_000_000_000_000_000))
    return (
        lt.withColumn(
            "ln_mu", F.when(F.col("d") > 0, ln_term).otherwise(F.lit(0))
        )
        .withColumn("ln_cum", F.sum("ln_mu").over(w_asc))
        .select(
            "t",
            "n_risk",
            "d",
            "c",
            F.round(
                F.exp(F.col("ln_cum").cast("double") / 1_000_000.0)
                * 1_000_000
            )
            .cast("bigint")
            .alias("survival_ppm"),
        )
    )


_KM_ORACLE = f"""
WITH pu AS (
  SELECT user_id,
    min(epoch_us(ts) // 1000000) AS first_s,
    max(epoch_us(ts) // 1000000) AS last_s
  FROM events GROUP BY user_id
), flag AS (
  SELECT
    CASE WHEN (SELECT max(last_s) FROM pu) - last_s
              > {KM_CHURN_GAP_HOURS} * 3600 THEN 1 ELSE 0 END AS churned,
    CASE WHEN (SELECT max(last_s) FROM pu) - last_s
              > {KM_CHURN_GAP_HOURS} * 3600
         THEN (last_s - first_s) // 3600
         ELSE ((SELECT max(last_s) FROM pu) - first_s) // 3600
    END AS t
  FROM pu
), life AS (
  SELECT CAST(t AS BIGINT) AS t,
    CAST(sum(churned) AS BIGINT) AS d,
    CAST(sum(1 - churned) AS BIGINT) AS c
  FROM flag GROUP BY t
), lt AS (
  SELECT t, d, c,
    sum(d + c) OVER (ORDER BY t DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS n_risk
  FROM life
), ln_t AS (
  SELECT t, n_risk, d, c,
    CASE WHEN d > 0 AND n_risk > d THEN CAST(round(round(
      ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 6)
      * 1000000) AS BIGINT)
    WHEN d > 0 THEN CAST(-1000000000000000 AS BIGINT)
    ELSE 0 END AS ln_mu
  FROM lt
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
  CAST(round(exp(CAST(sum(ln_mu) OVER (ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / 1000000.0) * 1000000) AS BIGINT) AS survival_ppm
FROM ln_t
"""


def q_cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document-quality raters —
    the agreement statistic every annotation pipeline reports before
    trusting labels (kappa corrects raw agreement for the agreement two
    raters would reach by chance given their marginal rates; 0 = chance,
    1 = perfect). Raters: A = len(text) ≥ KAPPA_MIN_CHARS, B = token
    count ≥ KAPPA_MIN_TOKENS.

    Exactness: kappa = (p_o − p_e) / (1 − p_e) clears denominators to
    pure integers — kappa_ppm = (N·agree − S) · 1e6 / (N² − S) with
    S = Σ_k rowmarg_k · colmarg_k; computed as one double division of
    exact BIGINTs, rounded (kappa can be negative, so round — not
    truncating div — keeps both engines identical).

    Scale shape: map-only flags, one map-side-combinable aggregate to a
    single row. Text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    a = (F.length("text") >= KAPPA_MIN_CHARS).cast("bigint")
    b = (
        F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
        >= KAPPA_MIN_TOKENS
    ).cast("bigint")
    agg = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("pos_a"),
        F.sum("b").cast("bigint").alias("pos_b"),
        F.sum((F.col("a") == F.col("b")).cast("bigint"))
        .cast("bigint")
        .alias("agree"),
    )
    s = F.col("pos_a") * F.col("pos_b") + (F.col("n") - F.col("pos_a")) * (
        F.col("n") - F.col("pos_b")
    )
    return agg.select(
        "n",
        "pos_a",
        "pos_b",
        "agree",
        # degenerate-marginal guard: if both raters emit a single class,
        # p_e = 1 and n² = S — kappa is undefined; NULL on both engines
        # (Spark's non-ANSI 0/0→NaN→bigint would silently yield 0 while
        # DuckDB's CAST(round(NaN)) errors — the funnel z_milli treatment)
        F.when(
            F.col("n") * F.col("n") != s,
            F.round(
                (F.col("n") * F.col("agree") - s).cast("double")
                * 1_000_000.0
                / (F.col("n") * F.col("n") - s).cast("double")
            ).cast("bigint"),
        ).alias("kappa_ppm"),
    )


_KAPPA_ORACLE = f"""
WITH flags AS (
  SELECT
    CASE WHEN length(text) >= {KAPPA_MIN_CHARS} THEN 1 ELSE 0 END AS a,
    CASE WHEN len(string_split(lower(trim(text)), ' '))
              >= {KAPPA_MIN_TOKENS} THEN 1 ELSE 0 END AS b
  FROM documents
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(a) AS BIGINT) AS pos_a,
    CAST(sum(b) AS BIGINT) AS pos_b,
    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM flags
)
SELECT n, pos_a, pos_b, agree,
  CASE WHEN n * n != pos_a * pos_b + (n - pos_a) * (n - pos_b) THEN
    CAST(round(
      CAST(n * agree - (pos_a * pos_b + (n - pos_a) * (n - pos_b))
           AS DOUBLE) * 1000000.0
      / CAST(n * n - (pos_a * pos_b + (n - pos_a) * (n - pos_b))
             AS DOUBLE)
    ) AS BIGINT)
  END AS kappa_ppm
FROM agg
"""


#: SPRT hypotheses on the purchase-conversion rate, and the Wald
#: boundary ln((1−β)/α) at α = β = 0.05, in micro-nats
SPRT_P0 = 0.15
SPRT_P1 = 0.20
SPRT_BOUND_MICRO = 2_944_439  # round(ln(19) · 1e6)


def q_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the purchase
    conversion rate — the always-valid alternative to fixed-horizon A/B
    readouts: accumulate the log-likelihood ratio event by event and
    STOP the moment it exits (ln β/(1−α), ln (1−β)/α); expected sample
    size is far below the fixed-n test at the same error rates. H0:
    p = SPRT_P0 vs H1: p = SPRT_P1; output is the decision, when it
    fired, and the terminal LLR.

    Exactness: the two per-observation LLR increments are CONSTANTS —
    ln(p1/p0) and ln((1−p1)/(1−p0)) quantized once to micro-nats — so
    the cumulative LLR is an exact integer sum and the boundary
    crossing is an exact integer comparison on both engines.

    Scale shape: events collapse to HOURLY (x, n) increments in one
    map-side-combined pass (decision granularity is hourly — the
    sequential scan then runs over |hours| rows, never |events|); the
    ordered cumsum window is over that bounded hour spine; the final
    report is one row."""
    import math

    ev = load_table(spark, sf_dir, "events")
    c1 = round(math.log(SPRT_P1 / SPRT_P0), 6)
    c0 = round(math.log((1 - SPRT_P1) / (1 - SPRT_P0)), 6)
    c1_mu, c0_mu = int(round(c1 * 1e6)), int(round(c0 * 1e6))
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("bigint")
        ).alias("x"),
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cum = hourly.withColumn(
        "llr",
        F.sum(
            F.col("x") * F.lit(c1_mu)
            + (F.col("n") - F.col("x")) * F.lit(c0_mu)
        ).over(w),
    )
    agg = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.min(
            F.when(F.col("llr") >= SPRT_BOUND_MICRO, F.col("h"))
        ).alias("first_up"),
        F.min(
            F.when(F.col("llr") <= -SPRT_BOUND_MICRO, F.col("h"))
        ).alias("first_dn"),
        F.max_by("llr", "h").cast("bigint").alias("llr_final_micro"),
    )
    decision = (
        F.when(
            F.col("first_up").isNotNull()
            & (
                F.col("first_dn").isNull()
                | (F.col("first_up") <= F.col("first_dn"))
            ),
            F.lit("accept_h1"),
        )
        .when(F.col("first_dn").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    return agg.select(
        "n_hours",
        decision.alias("decision"),
        # the hour the DECISION fired: h1 fires iff first_up <= first_dn,
        # h0 iff first_dn < first_up, so least() (null-ignoring on both
        # engines) is always the firing boundary's hour — coalesce would
        # misreport the later up-crossing when h0 fired first
        F.least(F.col("first_up"), F.col("first_dn")).alias(
            "decision_hour"
        ),
        "llr_final_micro",
    )


def _sprt_oracle() -> str:
    import math

    c1_mu = int(round(round(math.log(SPRT_P1 / SPRT_P0), 6) * 1e6))
    c0_mu = int(
        round(round(math.log((1 - SPRT_P1) / (1 - SPRT_P0)), 6) * 1e6)
    )
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
), cum AS (
  SELECT h,
    sum(x * {c1_mu} + (n - x) * {c0_mu})
      OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS llr
  FROM hourly
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hours,
    min(CASE WHEN llr >= {SPRT_BOUND_MICRO} THEN h END) AS first_up,
    min(CASE WHEN llr <= -{SPRT_BOUND_MICRO} THEN h END) AS first_dn,
    CAST(arg_max(llr, h) AS BIGINT) AS llr_final_micro
  FROM cum
)
SELECT n_hours,
  CASE WHEN first_up IS NOT NULL
            AND (first_dn IS NULL OR first_up <= first_dn)
       THEN 'accept_h1'
       WHEN first_dn IS NOT NULL THEN 'accept_h0'
       ELSE 'continue' END AS decision,
  least(first_up, first_dn) AS decision_hour,
  llr_final_micro
FROM agg
"""


#: Poisson bootstrap: number of resamples, and the Poisson(1) inverse
#: CDF cutoffs (cumulative, 6dp — shared constants on both engines)
BOOT_B = 100
_POIS_CDF = (0.367879, 0.735759, 0.919699, 0.981012,
             0.996340, 0.999406, 0.999917)


def _pois_w(u_expr: str) -> str:
    """SQL CASE mapping a uniform to a Poisson(1) weight by inverse CDF
    (identical string rendered into both engines' queries)."""
    clauses = " ".join(
        f"WHEN {u_expr} < {c} THEN {i}"
        for i, c in enumerate(_POIS_CDF)
    )
    return f"CASE {clauses} ELSE 7 END"


def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean document length with a 90% POISSON-bootstrap
    confidence interval — the bootstrap that actually runs at scale
    (Poisson(1) resample weights need no global resample index, so each
    row independently decides its multiplicity in each of BOOT_B
    replicas; the classic big-data bootstrap, e.g. Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012).
    Reading a mean without its CI is how corpus dashboards lie — small
    sources get intervals, not false precision.

    Determinism: the uniform for (doc, replica) is an md5-derived
    32-bit value; the Poisson inverse-CDF cutoffs are shared 6dp
    constants; each replica's mean is ONE rounded division of exact
    integer sums; CI endpoints are selected BY POSITION (5th and 96th
    of 100 ordered replica means).

    Scale shape: one map-side explode to BOOT_B replica tags per row
    (no data duplication beyond the narrow (source, b, w·len, w)
    projection), one (source, replica) partial agg, then per-source
    windows over exactly BOOT_B rows."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source", "doc_id", F.col("n_chars").cast("bigint").alias("len")
    ).select(
        "*",
        F.explode(
            F.sequence(F.lit(1), F.lit(BOOT_B))
        ).alias("b"),
    )
    u = (
        "(cast(conv(substring(md5(concat(cast(doc_id as string), ':',"
        " cast(b as string))), 1, 8), 16, 10) as bigint) + 0.5)"
        " / 4294967296.0"
    )
    w = F.expr(_pois_w(u))
    rep = (
        tagged.withColumn("w", w)
        .groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("len")).alias("sw_len"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "source",
            "b",
            F.round(
                F.col("sw_len").cast("double")
                * 1_000_000.0
                / F.col("sw").cast("double")
            )
            .cast("bigint")
            .alias("mean_mu"),
        )
    )
    wr = Window.partitionBy("source").orderBy("mean_mu", "b")
    ranked = rep.withColumn("rn", F.row_number().over(wr))
    ci = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.max(F.when(F.col("rn") == 5, F.col("mean_mu"))).alias(
            "ci_lo_mu"
        ),
        F.max(F.when(F.col("rn") == 96, F.col("mean_mu"))).alias(
            "ci_hi_mu"
        ),
    )
    point = docs.groupBy("source").agg(
        F.round(
            F.sum(F.col("n_chars").cast("bigint")).cast("double")
            * 1_000_000.0
            / F.count(F.lit(1)).cast("double")
        )
        .cast("bigint")
        .alias("mean_mu")
    )
    return point.join(ci, "source").select(
        "source", "mean_mu", "n_replicas", "ci_lo_mu", "ci_hi_mu"
    )


def _bootstrap_oracle() -> str:
    u = (
        "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||"
        " CAST(b AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0"
    )
    return f"""
WITH tagged AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS len,
    unnest(generate_series(1, {BOOT_B})) AS b
  FROM documents
), weighted AS (
  SELECT source, b, len, {_pois_w(u)} AS w FROM tagged
), rep AS (
  SELECT source, b,
    CAST(round(CAST(sum(w * len) AS DOUBLE) * 1000000.0
               / CAST(sum(w) AS DOUBLE)) AS BIGINT) AS mean_mu
  FROM weighted GROUP BY source, b
  HAVING sum(w) > 0
), ranked AS (
  SELECT source, mean_mu,
    row_number() OVER (PARTITION BY source ORDER BY mean_mu, b) AS rn
  FROM rep
), ci AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_replicas,
    max(CASE WHEN rn = 5 THEN mean_mu END) AS ci_lo_mu,
    max(CASE WHEN rn = 96 THEN mean_mu END) AS ci_hi_mu
  FROM ranked GROUP BY source
), point AS (
  SELECT source,
    CAST(round(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) * 1000000.0
               / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_mu
  FROM documents GROUP BY source
)
SELECT p.source, p.mean_mu, c.n_replicas, c.ci_lo_mu, c.ci_hi_mu
FROM point p JOIN ci c ON c.source = p.source
"""


def q_cuped_adjusted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013 — the
    experimentation-platform staple): adjust each user's experiment-
    period outcome y by their PRE-period covariate x,
    ŷ = y − θ·(x − x̄) with θ = cov(x,y)/var(x), which shrinks metric
    variance by corr²(x,y) and makes small effects readable weeks
    earlier. Here: x = pre-period event count, y = experiment-period
    spend (exact cents), periods split at the fixture's time midpoint,
    arms by user_id parity (the pseudonymize-friendly assignment).
    Output per arm: users, raw mean, CUPED-adjusted mean, plus the
    achieved variance-reduction estimate.

    Exactness: per-user sums are exact (counts; cents via decimal);
    θ and the adjusted means are single double expressions over the
    exact global moment sums (n·Sxy − Sx·Sy over n·Sxx − Sx²), rounded
    to micro once per output cell; corr² likewise.

    Scale shape: one scan → per-user (x, y) partial agg; global moments
    are a 1-row aggregate broadcast back; per-arm collapse is 2 rows."""
    ev = load_table(spark, sf_dir, "events")
    # integer floor division on both engines (a double `/2` then cast
    # truncates in Spark but ROUNDS in DuckDB on odd sums)
    bounds = ev.agg(
        F.expr(
            "(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) div 2"
        ).alias("mid_s")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.when(
                F.unix_timestamp("ts") < F.col("mid_s"), F.lit(1)
            ).otherwise(F.lit(0)).alias("pre"),
            F.when(
                F.unix_timestamp("ts") >= F.col("mid_s"),
                F.col("value").cast("decimal(12,2)"),
            ).alias("spend"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum("pre").cast("bigint").alias("x"),
            F.round(
                F.coalesce(
                    F.sum("spend"), F.lit(0).cast("decimal(12,2)")
                ) * 100
            ).cast("bigint").alias("y_cents"),
        )
        .localCheckpoint()  # feeds the 1-row moments AND the arm rollup
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(F.col("x") * F.col("y_cents")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y_cents") * F.col("y_cents")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    with_theta = mom.select(
        (num / den).alias("theta"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias(
            "xbar"
        ),
        F.round(num * num / (den * deny) * 1_000_000)
        .cast("bigint")
        .alias("variance_reduction_ppm"),
    )
    arm = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("y_cents").alias("sy_a"),
        F.sum("x").alias("sx_a"),
    )
    return arm.crossJoin(F.broadcast(with_theta)).select(
        "arm",
        "n_users",
        F.round(
            F.col("sy_a").cast("double")
            / F.col("n_users").cast("double")
            * 10_000.0
        )
        .cast("bigint")
        .alias("raw_mean_spend_micro"),
        F.round(
            (
                F.col("sy_a").cast("double")
                / F.col("n_users").cast("double")
                - F.col("theta")
                * (
                    F.col("sx_a").cast("double")
                    / F.col("n_users").cast("double")
                    - F.col("xbar")
                )
            )
            * 10_000.0
        )
        .cast("bigint")
        .alias("cuped_mean_spend_micro"),
        "variance_reduction_ppm",
    )


_CUPED_ORACLE = """
WITH b AS (
  SELECT (min(epoch_us(ts) // 1000000)
          + max(epoch_us(ts) // 1000000)) // 2 AS mid_s
  FROM events
), per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
    CAST(sum(CASE WHEN epoch_us(ts) // 1000000 < b.mid_s
                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
    CAST(round(coalesce(sum(CASE WHEN epoch_us(ts) // 1000000 >= b.mid_s
      THEN CAST(value AS DECIMAL(12,2)) END), 0) * 100) AS BIGINT)
      AS y_cents
  FROM events CROSS JOIN b
  GROUP BY user_id, CAST(user_id % 2 AS INTEGER)
), mom AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y_cents) AS sy,
    sum(x * y_cents) AS sxy, sum(x * x) AS sxx,
    sum(y_cents * y_cents) AS syy
  FROM per_user
), t AS (
  SELECT
    CAST(n * sxy - sx * sy AS DOUBLE)
      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
    CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
      * CAST(n * sxy - sx * sy AS DOUBLE)
      / (CAST(n * sxx - sx * sx AS DOUBLE)
         * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000) AS BIGINT)
      AS variance_reduction_ppm
  FROM mom
), arm AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
    sum(y_cents) AS sy_a, sum(x) AS sx_a
  FROM per_user GROUP BY arm
)
SELECT arm.arm, arm.n_users,
  CAST(round(CAST(sy_a AS DOUBLE) / CAST(n_users AS DOUBLE) * 10000.0)
       AS BIGINT) AS raw_mean_spend_micro,
  CAST(round((CAST(sy_a AS DOUBLE) / CAST(n_users AS DOUBLE)
    - t.theta * (CAST(sx_a AS DOUBLE) / CAST(n_users AS DOUBLE)
                 - t.xbar)) * 10000.0) AS BIGINT)
    AS cuped_mean_spend_micro,
  t.variance_reduction_ppm
FROM arm CROSS JOIN t
"""


QUERIES = {
    "kaplan_meier_retention": q_kaplan_meier_retention,
    "cohens_kappa_raters": q_cohens_kappa_raters,
    "sprt_sequential_test": q_sprt_sequential_test,
    "bootstrap_mean_ci": q_bootstrap_mean_ci,
    "cuped_adjusted_metric": q_cuped_adjusted_metric,
}


def q_funnel_step_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step funnel significance: the two-proportion pooled z-test
    on each adjacent funnel conversion (view→click, click→purchase)
    between experiment arms — events_funnel says WHERE users drop,
    this says whether the arms drop DIFFERENTLY beyond noise (the
    readout that stops teams from shipping a funnel "win" that is
    sampling error). Arms by user_id parity; per-user step membership
    is existence, not event counts (funnel semantics).

    Membership is per SESSION (30-minute inactivity gap), not per user:
    on a dense fixture every USER eventually does everything, so a
    user-level funnel is all-1s and the pooled variance collapses to
    zero — session granularity is also what product funnels actually
    measure. If a step's pooled rate still degenerates to 0 or 1, z is
    NULL (both engines).

    Exactness: all memberships and conversions are exact integers; the
    pooled z is one double expression per STEP row quantized to
    milli-sigmas.

    Scale shape: one scan → per-user ordered session numbering (the
    standard sessionize window) → per-session flags; the step explode
    is 2 rows per session; everything downstream operates on the 4-row
    (step × arm) table."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts")
    sess = ev.withColumn(
        "new_sess",
        F.when(
            F.unix_timestamp("ts")
            - F.lag(F.unix_timestamp("ts")).over(wu)
            > 1800,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            wu.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    flags = sess.groupBy("user_id", "sess_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("v"),
        F.max((F.col("event_type") == "click").cast("int")).alias("c"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("p"),
    )
    steps = flags.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("view_to_click").alias("step"),
                    F.col("v").alias("denom"),
                    F.col("c").alias("conv"),
                ),
                F.struct(
                    F.lit("click_to_purchase").alias("step"),
                    F.col("c").alias("denom"),
                    F.col("p").alias("conv"),
                ),
            )
        ).alias("s"),
    ).select("arm", "s.*").filter(F.col("denom") == 1)
    g = steps.groupBy("step").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("x0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("x1"),
    )
    pp = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z = (
        F.col("x1").cast("double") / F.col("n1").cast("double")
        - F.col("x0").cast("double") / F.col("n0").cast("double")
    ) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n0").cast("double")
            + F.lit(1.0) / F.col("n1").cast("double")
        )
    )
    return g.select(
        "step",
        "n0",
        "x0",
        "n1",
        "x1",
        F.when(
            (F.col("x0") + F.col("x1") > 0)
            & (F.col("x0") + F.col("x1") < F.col("n0") + F.col("n1")),
            F.round(z * 1000.0).cast("bigint"),
        ).alias("z_milli"),
    )


_FUNNEL_SIG_ORACLE = """
WITH gaps AS (
  SELECT user_id, event_type, ts,
    CASE WHEN epoch_us(ts) // 1000000
              - lag(epoch_us(ts) // 1000000)
                OVER (PARTITION BY user_id ORDER BY ts) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, event_type,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM gaps
), flags AS (
  SELECT user_id, sess_id,
    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM sess GROUP BY user_id, sess_id
), steps AS (
  SELECT CAST(user_id % 2 AS INTEGER) AS arm,
    'view_to_click' AS step, v AS denom, c AS conv FROM flags
  UNION ALL
  SELECT CAST(user_id % 2 AS INTEGER), 'click_to_purchase', c, p
  FROM flags
), g AS (
  SELECT step,
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x0,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x1
  FROM steps WHERE denom = 1 GROUP BY step
)
SELECT step, n0, x0, n1, x1,
  CASE WHEN x0 + x1 > 0 AND x0 + x1 < n0 + n1 THEN
    CAST(round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      / sqrt((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        * (1.0 - CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
      * 1000.0) AS BIGINT)
  END AS z_milli
FROM g
"""


QUERIES["funnel_step_significance"] = q_funnel_step_significance

ORACLES = {
    "kaplan_meier_retention": _KM_ORACLE,
    "cohens_kappa_raters": _KAPPA_ORACLE,
    "sprt_sequential_test": _sprt_oracle(),
    "bootstrap_mean_ci": _bootstrap_oracle(),
    "cuped_adjusted_metric": _CUPED_ORACLE,
    "funnel_step_significance": _FUNNEL_SIG_ORACLE,
}
