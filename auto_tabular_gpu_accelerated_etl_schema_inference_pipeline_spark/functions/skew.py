"""Skew-handling join utilities (SURVEY.md §4: the reference is a
single-box engine with no shuffle at all; at 100 TB a skewed join key is
the classic cluster-killer, handled here by salting — the manual
complement to AQE's skewJoin, for when the skew is known ahead of time).

Salted join: the large side appends a uniform salt in [0, n_salt); the
small side is replicated n_salt times; the join key becomes
(key, salt), so one hot key's rows spread over n_salt reducers instead
of one. Exact same result set as the unsalted join (replication x
partition-of-one-side preserves the join semantics for inner/left
joins on equi-keys)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    n_salt: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join `large ⋈ small` on column `on`, salted n_salt ways.

    The salt on the large side is derived from rand(seed) — uniform,
    cheap, and independent of the key (a key-derived salt would re-create
    the hotspot). The small side is exploded once per salt value; its
    size multiplies by n_salt, so keep small genuinely small or
    broadcast it."""
    salted_large = large.withColumn(
        "_salt", F.floor(F.rand(seed) * n_salt).cast("int")
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = salted_large.join(salted_small, [on, "_salt"], how)
    return out.drop("_salt")


def q_join_skew_salted(spark, sf_dir: str):
    """Salted fact-dim join registered as a first-class query: events
    (large, user_id moderately hot) x per-user dim from customer, salted
    8 ways, then aggregated by market segment. The salt is provably
    result-neutral — the oracle is the PLAIN join's aggregate."""
    from ..session import load_events, load_table

    ev = load_events(spark, sf_dir).select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, dim, "user_id", n_salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


def q_join_null_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key skew bypass for LEFT joins: rows whose join key is NULL
    can never match, yet a shuffle join still hashes them — ALL to one
    partition (the classic silent straggler). The fix: split the null-
    key rows off BEFORE the join, left-join only the non-null slice, and
    union the null slice back with null-extended columns. Result is
    provably identical to the naive left join (the oracle IS the naive
    join); the plan difference is that the join's shuffle no longer
    carries a mega-partition of unmatchable rows. Key here: suppkey
    nulled for low-discount rows (~40% of lineitem — a realistic
    sparse-FK column)."""
    from ..session import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") >= 0.02, F.col("l_suppkey")).alias(
            "sparse_suppkey"
        ),
        "l_quantity",
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    matched = li.filter(F.col("sparse_suppkey").isNotNull()).join(
        supp, F.col("sparse_suppkey") == F.col("s_suppkey"), "left"
    )
    nulls = li.filter(F.col("sparse_suppkey").isNull()).select(
        "*",
        F.lit(None).cast("bigint").alias("s_suppkey"),
        F.lit(None).cast("string").alias("s_name"),
    )
    return matched.unionByName(nulls).select(
        "l_orderkey",
        "l_linenumber",
        "sparse_suppkey",
        F.round("l_quantity", 0).cast("bigint").alias("qty"),
        "s_name",
    )


_NULL_SKEW_ORACLE = """
SELECT l_orderkey, l_linenumber, sparse_suppkey,
  CAST(round(l_quantity, 0) AS BIGINT) AS qty, s_name
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
    CASE WHEN l_discount >= 0.02 THEN l_suppkey END AS sparse_suppkey
  FROM lineitem
) li
LEFT JOIN supplier ON sparse_suppkey = s_suppkey
"""


def q_join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter):
    when one side of a shuffle join carries a selective filter, the
    optimizer builds a bloom filter over that side's join keys at
    runtime and pushes `bloom_filter_might_contain` into the OTHER
    side's scan — at 100 TB this is what turns a fact⋈filtered-dim
    sort-merge join from "shuffle the whole fact table" into "shuffle
    only rows whose key might match" (~row-reduction equal to the dim
    filter's selectivity). Here: lineitem ⋈ orders restricted to
    1-URGENT, aggregated per priority.

    The aggressive settings live on a cached forked session
    (forked_session: shared context, PRIVATE conf, one fork per lane)
    so they cannot leak into the caller's session: broadcast is disabled to force the shuffle-join shape the
    rule targets (at fixture scale the dim would broadcast and no
    runtime filter would be needed), and the application-side size
    threshold is zeroed because the fixture scan is far below the 10 GB
    production default. A plan test pins bloom_filter_might_contain in
    the physical plan.

    Result-neutrality: the bloom filter only drops rows that cannot
    join (false positives pass through to the exact join) — the oracle
    is the PLAIN join's aggregate."""
    from ..session import forked_session, load_table

    s = forked_session(spark, "skew.runtime_bloom")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = load_table(s, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = load_table(s, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(
                F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            ).alias("revenue_cents"),
        )
    )


_BLOOM_JOIN_ORACLE = """
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
"""


QUERIES = {
    "join_null_skew_split": q_join_null_skew_split,
    "join_skew_salted": q_join_skew_salted,
    "join_runtime_bloom_filter": q_join_runtime_bloom_filter,
}

ORACLES = {
    "join_null_skew_split": _NULL_SKEW_ORACLE,
    "join_runtime_bloom_filter": _BLOOM_JOIN_ORACLE,
    "join_skew_salted": """
SELECT c.c_mktsegment,
  count(*) AS n_events,
  CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
}
