"""Data-quality constraint auditing (Deequ/expectations-style): declared
constraints over the fact tables, each reduced to ONE summary row —
(rule, n_checked, n_violations, passed).

The reference has no validation at all (SURVEY.md §1.4: its compute path
ASSUMES all-numeric and would fail silently on drift); a 100 TB pipeline
runs exactly this audit before training-data jobs consume a drop.

Scale shape: every rule is a scan-level aggregate (count + conditional
count) or an anti-join count; nothing materializes violating ROWS (at
scale you re-run a targeted query for samples). The uniqueness rule
aggregates on the candidate key (one shuffle, partial aggs); the FK rule
is a left-anti count whose build side (orders keys) broadcasts at
fixture scale and hash-joins at 100 TB. All rules over one table share
one scan via a single multi-aggregate where possible.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events, load_table


def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five production constraints on lineitem/orders: non-null,
    two value-range rules, candidate-key uniqueness, and FK integrity."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    n_li = F.count(F.lit(1))

    # single-scan rules over lineitem: one multi-aggregate
    scan_rules = li.agg(
        n_li.alias("_n"),
        F.sum(F.when(F.col("l_extendedprice").isNull(), 1).otherwise(0)).alias(
            "null_price"
        ),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("qty_range"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("disc_range"),
    )

    def rule_row(df: DataFrame, rule: str, n_col: str, v_col: str) -> DataFrame:
        return df.select(
            F.lit(rule).alias("rule"),
            F.col(n_col).cast("bigint").alias("n_checked"),
            F.col(v_col).cast("bigint").alias("n_violations"),
            (F.col(v_col) == 0).alias("passed"),
        )

    r_null = rule_row(scan_rules, "price_not_null", "_n", "null_price")
    r_qty = rule_row(scan_rules, "quantity_in_1_50", "_n", "qty_range")
    r_disc = rule_row(scan_rules, "discount_in_0_1", "_n", "disc_range")

    # uniqueness of the (l_orderkey, l_linenumber) candidate key: rows in
    # groups of size > 1 are the violations
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("_n"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("v"),
        )
    )
    r_uniq = rule_row(dup, "lineitem_pk_unique", "_n", "v")

    # FK lineitem.l_orderkey -> orders.o_orderkey: anti-join count
    fk = li.select("l_orderkey").join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    )
    r_fk = fk.agg(F.count(F.lit(1)).alias("v")).crossJoin(
        li.agg(n_li.alias("_n"))
    ).select(
        F.lit("orderkey_fk_valid").alias("rule"),
        F.col("_n").cast("bigint").alias("n_checked"),
        F.col("v").cast("bigint").alias("n_violations"),
        (F.col("v") == 0).alias("passed"),
    )

    return reduce(DataFrame.unionAll, [r_null, r_qty, r_disc, r_uniq, r_fk])


_AUDIT_ORACLE = """
WITH scan AS (
  SELECT count(*) AS n,
    sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS null_price,
    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
      AS qty_range,
    sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
      AS disc_range
  FROM lineitem
), dup AS (
  SELECT sum(c) AS n, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS v
  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
), fk AS (
  SELECT (SELECT count(*) FROM lineitem) AS n,
    (SELECT count(*) FROM lineitem
     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS v
)
SELECT 'price_not_null' AS rule, n AS n_checked,
  CAST(null_price AS BIGINT) AS n_violations, null_price = 0 AS passed
FROM scan
UNION ALL
SELECT 'quantity_in_1_50', n, CAST(qty_range AS BIGINT), qty_range = 0
FROM scan
UNION ALL
SELECT 'discount_in_0_1', n, CAST(disc_range AS BIGINT), disc_range = 0
FROM scan
UNION ALL
SELECT 'lineitem_pk_unique', CAST(n AS BIGINT), CAST(v AS BIGINT), v = 0
FROM dup
UNION ALL
SELECT 'orderkey_fk_valid', CAST(n AS BIGINT), CAST(v AS BIGINT), v = 0
FROM fk
"""


K_ANON = 10


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-
    identifier: equivalence classes smaller than k=10 — the rows a
    privacy-preserving release must suppress or generalize. One
    groupBy shuffle on the quasi-identifier; violating classes are tiny
    by definition, so the output never explodes."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .filter(F.col("class_size") < K_ANON)
    )


_K_ANON_ORACLE = f"""
SELECT c_nationkey, c_mktsegment, count(*) AS class_size
FROM customer GROUP BY 1, 2 HAVING count(*) < {K_ANON}
"""


def q_footer_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only table profile: COUNT/MIN/MAX answered from parquet
    row-group footers via V2 aggregate pushdown (sources.readers.
    footer_stats) — zero data pages decoded; the instant-profiling path
    at 100 TB. The oracle recomputes the same stats the slow way."""
    import os

    from ..sources.readers import footer_stats

    return footer_stats(
        spark,
        os.path.join(sf_dir, "lineitem.parquet"),
        ["l_quantity", "l_extendedprice"],
    )


_FOOTER_ORACLE = """
SELECT count(*) AS n_rows,
  min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity,
  min(l_extendedprice) AS min_l_extendedprice,
  max(l_extendedprice) AS max_l_extendedprice
FROM lineitem
"""


def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fraud/data-fabrication screen: natural multi-scale amounts follow
    log10(1+1/d), fabricated ones usually don't. The first digit comes
    from the STRING form of integer cents (no log10/pow float path, so
    a price at an exact power of ten can't ulp-flip its digit). Output
    is observed count + exact ppm share per digit; the χ² against the
    Benford expectation happens downstream of this 9-row table.

    Scale: map-only digit extraction + a 9-bucket partial agg."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit") >= 1)  # zero/negative totals excluded
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.expr("n * 1000000 div total").cast("bigint").alias("share_ppm"),
    )


_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders
), c AS (
  SELECT digit, count(*) AS n FROM d WHERE digit >= 1 GROUP BY digit
), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
SELECT digit, n, CAST(n * 1000000 // total AS BIGINT) AS share_ppm
FROM c, t
"""


def q_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness audit of a monotonically-assigned id space (the CDC
    / ingestion invariant "no event was dropped"): one summary row over
    events.event_id — row count, distinct count, id range, how many ids
    the range says are missing, how many contiguous gap runs, and the
    widest run. Dropped-batch incidents show up as a few WIDE gaps;
    retry-duplication shows up as n_rows > n_distinct.

    Plan: the range/count stats are one scan-level aggregate. The gap
    runs need consecutive-id adjacency — a GLOBAL-order window would
    collapse the table to one partition, so adjacency is split: (a)
    within-bucket gaps via a window PARTITIONED by id-bucket (id div
    4096 — parallel, bounded per-partition state), (b) cross-bucket
    boundary gaps from the per-bucket (min, max) summary, a table
    ~n/4096 rows where a partitionless window is fine (and whose row
    count is tunable via the bucket width at 100 TB). The union of (a)
    and (b) is exactly the global adjacency gap set — what the oracle
    computes directly with one global lead()."""
    from pyspark.sql import Window

    BUCKET = 4096
    ids = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr(f"event_id div {BUCKET}").alias("b")
    )
    wi = Window.partitionBy("b").orderBy("event_id")
    inner = (
        ids.select(
            (F.lead("event_id").over(wi) - F.col("event_id") - 1).alias(
                "gap_len"
            )
        )
        .filter(F.col("gap_len") > 0)
    )
    bsum = ids.groupBy("b").agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    )
    wb = Window.orderBy("b")
    boundary = (
        bsum.select(
            (F.lead("lo").over(wb) - F.col("hi") - 1).alias("gap_len")
        )
        .filter(F.col("gap_len") > 0)
    )
    gaps = inner.unionAll(boundary)
    stats = ids.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    gstats = gaps.agg(
        F.count(F.lit(1)).alias("n_gap_runs"),
        F.coalesce(F.max("gap_len"), F.lit(0)).cast("bigint").alias(
            "max_gap_len"
        ),
        F.coalesce(F.sum("gap_len"), F.lit(0)).cast("bigint").alias(
            "n_missing"
        ),
    )
    return stats.crossJoin(F.broadcast(gstats)).select(
        "n_rows", "n_distinct", "min_id", "max_id",
        "n_missing", "n_gap_runs", "max_gap_len",
    )


_SEQ_GAP_ORACLE = """
WITH ids AS (SELECT event_id FROM events),
g AS (
  SELECT lead(event_id) OVER (ORDER BY event_id) - event_id - 1 AS gap_len
  FROM ids
),
gaps AS (SELECT gap_len FROM g WHERE gap_len > 0)
SELECT
  (SELECT count(*) FROM ids) AS n_rows,
  (SELECT count(DISTINCT event_id) FROM ids) AS n_distinct,
  (SELECT min(event_id) FROM ids) AS min_id,
  (SELECT max(event_id) FROM ids) AS max_id,
  CAST((SELECT coalesce(sum(gap_len), 0) FROM gaps) AS BIGINT) AS n_missing,
  (SELECT count(*) FROM gaps) AS n_gap_runs,
  CAST((SELECT coalesce(max(gap_len), 0) FROM gaps) AS BIGINT) AS max_gap_len
"""


def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail financial reconciliation: every order's
    o_totalprice against the sum of its lineitems' extended prices —
    the ledger-integrity check a warehouse runs after every load
    (mismatches mean dropped lines, double-applied discounts, or
    partial loads). One summary row per order STATUS: orders checked,
    orders with detail present, exact-match count (in cents), and the
    largest absolute delta. All arithmetic in exact cents; orders with
    no lineitems are counted separately (headers-without-detail is its
    own failure mode, not a zero delta).

    Plan: one groupBy on the lineitem side (partial-aggregated), a
    LEFT join from headers on orderkey, one rollup on the 3-value
    status — nothing wider than the detail aggregation ever shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("detail_cents")
    )
    j = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "header_cents"
        ),
    ).join(detail, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    delta = F.abs(F.col("header_cents") - F.col("detail_cents"))
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("detail_cents").alias("n_with_detail"),
        F.sum(
            F.when(delta == 0, 1).otherwise(0)
        ).cast("bigint").alias("n_exact_match"),
        F.max(delta).alias("max_abs_delta_cents"),
    )


_RECON_ORACLE = """
WITH detail AS (
  SELECT l_orderkey,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      AS detail_cents
  FROM lineitem GROUP BY 1
), j AS (
  SELECT o.o_orderstatus,
    CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
    d.detail_cents
  FROM orders o LEFT JOIN detail d ON o.o_orderkey = d.l_orderkey
)
SELECT o_orderstatus, count(*) AS n_orders,
  count(detail_cents) AS n_with_detail,
  CAST(sum(CASE WHEN abs(header_cents - detail_cents) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_match,
  CAST(max(abs(header_cents - detail_cents)) AS BIGINT)
    AS max_abs_delta_cents
FROM j GROUP BY 1
"""


PSEUDO_SALT = "corpus-v1"  # rotation key: rotate salt => new id space


def q_pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization — the GDPR-grade replacement for raw user
    ids in analytical exports (the privacy lane next to PII redaction,
    k-anonymity, and row erasure): pid = first 16 hex of sha2-256(salt
    || user_id). Salted hashing is reversible ONLY via the salt holder
    (rotate the salt, the mapping dies — the 'forget everyone at once'
    lever); same-user rows still join on the pseudonym, which is the
    property exports need. Map-only; the rollup proves join-ability
    survives (per-pseudonym event counts match per-user counts)."""
    ev = load_events(spark, sf_dir)
    pid = F.substring(
        F.sha2(F.concat(F.lit(PSEUDO_SALT), F.col("user_id").cast("string")), 256),
        1,
        16,
    )
    return (
        ev.select(pid.alias("pseudo_id"))
        .groupBy("pseudo_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_PSEUDO_ORACLE = f"""
SELECT substr(sha256('{PSEUDO_SALT}' || CAST(user_id AS VARCHAR)), 1, 16)
  AS pseudo_id,
  count(*) AS n_events
FROM events GROUP BY 1
"""


L_DIVERSITY = 4


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007 — the attack
    k-anonymity misses): an equivalence class can be large (k-anonymous)
    yet still leak if everyone in it shares the SAME sensitive value.
    Over the (nation, market-segment) quasi-identifier with the
    account-balance 2000-band as the sensitive attribute, report
    every class with fewer than l=4 distinct sensitive values. Companion
    to q_k_anonymity_audit — a release must pass BOTH.

    Scale shape: one groupBy shuffle on the quasi-identifier with an
    exact count-distinct (bounded by the band domain, ~dozens); the
    violating-class output is small by construction."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("bigint")
    return (
        cust.select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size"),
            F.countDistinct("bal_band").cast("bigint").alias("l_distinct"),
        )
        .filter(F.col("l_distinct") < L_DIVERSITY)
    )


_L_DIV_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
  CAST(count(*) AS BIGINT) AS class_size,
  CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) AS BIGINT)
    AS l_distinct
FROM customer
GROUP BY 1, 2
HAVING count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT))
       < {L_DIVERSITY}
"""


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007 — the
    attack l-diversity misses): a class can contain l distinct sensitive
    values yet still leak if ITS distribution of those values differs
    sharply from the table-wide one (e.g. a class where 90% of balances
    sit in the top band when only 10% do globally). Over the same
    (nation, market-segment) quasi-identifier and balance-band sensitive
    attribute as q_k_anonymity_audit / q_l_diversity_audit — the privacy
    triad; a release must pass all three. Distance is total variation
    (the categorical EMD): t = ½ Σ_bands |P_class(band) − P_global(band)|,
    reported in exact ppm for every class.

    Exactness: clearing denominators makes the whole statistic integer —
    tvd_ppm = Σ_b |cnt_gb·N − cnt_b·N_g| · 1e6 / (2·N_g·N), one rounded
    division of exact BIGINTs per class (absent bands contribute
    N_g·(N − Σ_present cnt_b), folded in without materializing zeros).

    Scale shape: ONE corpus scan collapses to the (class × band)
    histogram; every total after that (per-band, per-class, global) is a
    window over that bounded histogram — |classes|·|bands| rows — so no
    second scan and no row-scale shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("bigint")
    g = (
        cust.select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wb = Window.partitionBy("bal_band")
    wq = Window.partitionBy("c_nationkey", "c_mktsegment")
    wall = Window.partitionBy()
    t = (
        g.withColumn("cnt_b", F.sum("cnt").over(wb))
        .withColumn("n_g", F.sum("cnt").over(wq))
        .withColumn("n_all", F.sum("cnt").over(wall))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.max("n_g").cast("bigint").alias("class_size"),
            F.max("n_all").alias("n_all"),
            F.sum(
                F.abs(
                    F.col("cnt") * F.col("n_all")
                    - F.col("cnt_b") * F.col("n_g")
                )
            ).alias("s1"),
            F.sum("cnt_b").alias("s_present"),
        )
    )
    tvd_num = F.col("s1") + F.col("class_size") * (
        F.col("n_all") - F.col("s_present")
    )
    return t.select(
        "c_nationkey",
        "c_mktsegment",
        "class_size",
        F.round(
            tvd_num.cast("double")
            * 1_000_000.0
            / (2.0 * F.col("class_size") * F.col("n_all")).cast("double")
        )
        .cast("bigint")
        .alias("tvd_ppm"),
    )


_T_CLOSE_ORACLE = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
    CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
    count(*) AS cnt
  FROM customer GROUP BY 1, 2, 3
), w AS (
  SELECT c_nationkey, c_mktsegment, cnt,
    sum(cnt) OVER (PARTITION BY bal_band) AS cnt_b,
    sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n_g,
    sum(cnt) OVER () AS n_all
  FROM g
), t AS (
  SELECT c_nationkey, c_mktsegment,
    CAST(max(n_g) AS BIGINT) AS class_size,
    max(n_all) AS n_all,
    sum(abs(cnt * n_all - cnt_b * n_g)) AS s1,
    sum(cnt_b) AS s_present
  FROM w GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, class_size,
  CAST(round(
    CAST(s1 + class_size * (n_all - s_present) AS DOUBLE) * 1000000.0
    / CAST(2.0 * class_size * n_all AS DOUBLE)
  ) AS BIGINT) AS tvd_ppm
FROM t
"""


#: DP release: epsilon = 1.0 for a sensitivity-1 count; the Laplace
#: draw is SEEDED (md5 of source + salt) so the release is replayable —
#: the engine artifact under test is the mechanism plumbing, not the
#: entropy source (swap the seeded uniform for a CSPRNG in production)
DP_EPSILON = 1.0
DP_SALT = "dp-release-v1"


def q_dp_noisy_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-source document counts via the
    Laplace mechanism (sensitivity-1 count, ε = DP_EPSILON, b = 1/ε):
    noisy = n + Lap(b), with the draw derived by inverse CDF
    x = −b · sgn(u−½) · ln(1 − 2|u−½|) from a SEEDED md5 uniform so the
    release is deterministic and testable (production swaps the seeded
    uniform for a CSPRNG; every other line is the real mechanism). The
    true count never leaves the query — only the noisy value and the ε
    accounting do.

    Exactness: u = (md5_32(source‖salt) + 0.5) / 2³² is the same double
    on both engines; one ln per SOURCE; the released value is quantized
    to milli-counts.

    Scale shape: one map-side-combined count per source; noise is a
    per-row expression over the |sources|-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    u = (
        F.expr(
            "cast(conv(substring(md5(concat(source, "
            f"'{DP_SALT}')), 1, 8), 16, 10) as bigint)"
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    centered = u - F.lit(0.5)
    b = 1.0 / DP_EPSILON
    noise = (
        F.lit(-b)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return per_src.select(
        "source",
        F.round((F.col("n") + noise) * 1000.0)
        .cast("bigint")
        .alias("noisy_count_milli"),
        F.lit(int(DP_EPSILON * 1_000_000)).cast("bigint").alias(
            "epsilon_micro"
        ),
    )


_DP_ORACLE = f"""
WITH per_src AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), draw AS (
  SELECT source, n,
    (CAST(('0x' || substr(md5(source || '{DP_SALT}'), 1, 8))::BIGINT
          AS DOUBLE) + 0.5) / 4294967296.0 AS u
  FROM per_src
)
SELECT source,
  CAST(round((n + (-{1.0 / DP_EPSILON}) * sign(u - 0.5)
              * ln(1.0 - 2.0 * abs(u - 0.5))) * 1000.0) AS BIGINT)
    AS noisy_count_milli,
  CAST({int(DP_EPSILON * 1_000_000)} AS BIGINT) AS epsilon_micro
FROM draw
"""


#: four-fifths rule threshold (US EEOC disparate-impact guideline)
DI_THRESHOLD_PPM = 800_000


def q_disparate_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparate-impact audit of the length-based quality gate across
    sources — the four-fifths rule applied to data curation: if a
    filter's pass rate for some source falls below 80% of the
    best-passing source's rate, the filter is systematically silencing
    that source (the documented failure mode of naive quality filters
    on low-resource languages — Gopher/Dolma both report this). Exact
    integer ppm rates; flag per the EEOC threshold.

    Scale shape: one map-side aggregate to |sources| rows; the max rate
    rides a window over that bounded relation."""
    docs = load_table(spark, sf_dir, "documents")
    passed = (F.col("n_chars") >= 200).cast("bigint")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(passed).alias("n_pass"),
    )
    rate = F.expr("n_pass * 1000000L div n_docs")
    wall = Window.partitionBy()
    scored = per_src.withColumn("pass_ppm", rate).withColumn(
        "best_ppm", F.max("pass_ppm").over(wall)
    )
    return scored.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "pass_ppm",
        F.expr("pass_ppm * 1000000L div best_ppm").alias(
            "impact_ratio_ppm"
        ),
        (
            F.expr("pass_ppm * 1000000L div best_ppm")
            < DI_THRESHOLD_PPM
        ).alias("four_fifths_violation"),
    )


_DI_ORACLE = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS n_pass
  FROM documents GROUP BY source
), scored AS (
  SELECT source, n_docs, n_pass * 1000000 // n_docs AS pass_ppm,
    max(n_pass * 1000000 // n_docs) OVER () AS best_ppm
  FROM per_src
)
SELECT source, n_docs, CAST(pass_ppm AS BIGINT) AS pass_ppm,
  CAST(pass_ppm * 1000000 // best_ppm AS BIGINT) AS impact_ratio_ppm,
  pass_ppm * 1000000 // best_ppm < {DI_THRESHOLD_PPM}
    AS four_fifths_violation
FROM scored
"""


QUERIES = {
    "pseudonymize_users": q_pseudonymize_users,
    "t_closeness_audit": q_t_closeness_audit,
    "dp_noisy_counts_by_source": q_dp_noisy_counts_by_source,
    "disparate_impact_report": q_disparate_impact_report,
    "l_diversity_audit": q_l_diversity_audit,
    "order_reconciliation": q_order_reconciliation,
    "sequence_gap_audit": q_sequence_gap_audit,
    "benford_first_digit": q_benford_first_digit,
    "constraint_audit": q_constraint_audit,
    "k_anonymity_audit": q_k_anonymity_audit,
    "footer_stats_lineitem": q_footer_stats_lineitem,
}
ORACLES = {
    "pseudonymize_users": _PSEUDO_ORACLE,
    "t_closeness_audit": _T_CLOSE_ORACLE,
    "dp_noisy_counts_by_source": _DP_ORACLE,
    "disparate_impact_report": _DI_ORACLE,
    "l_diversity_audit": _L_DIV_ORACLE,
    "order_reconciliation": _RECON_ORACLE,
    "sequence_gap_audit": _SEQ_GAP_ORACLE,
    "benford_first_digit": _BENFORD_ORACLE,
    "constraint_audit": _AUDIT_ORACLE,
    "k_anonymity_audit": _K_ANON_ORACLE,
    "footer_stats_lineitem": _FOOTER_ORACLE,
}
