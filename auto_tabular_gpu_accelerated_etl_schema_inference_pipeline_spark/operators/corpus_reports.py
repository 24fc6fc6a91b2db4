"""Corpus-level reports a training-data pipeline publishes per drop:
contamination rate per source, OOV rate against a truncated vocabulary,
and the near-dup cluster-size distribution.

These roll existing oracle-graded operators (llm_prep.decontaminate,
graph.dedup_components) up into the summary tables a data-quality
dashboard actually shows; each reuses the underlying operator's plan and
adds only bounded aggregations on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .llm_prep import EVAL_CUT, EVAL_MOD, q_decontaminate


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination summary: how many train docs share an
    eval trigram, as exact ppm. The number that decides whether a drop
    ships; one broadcast join + one groupBy(source) on top of the
    decontaminate probe."""
    contaminated = q_decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("hit")
    )
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(
        ~(F.col("doc_id") % EVAL_MOD < EVAL_CUT)
    ).select("doc_id", "source")
    return (
        train.join(F.broadcast(contaminated), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .withColumn(
            "contaminated_ppm",
            F.expr("(n_contaminated * 1000000) div n_train_docs"),
        )
    )


_CONTAMINATION_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, doc_id % {EVAL_MOD} < {EVAL_CUT} AS is_eval,
    unnest(list_distinct(list_transform(
      generate_series(1, len(string_split(lower(trim(text)), ' ')) - 2),
      i -> string_split(lower(trim(text)), ' ')[i] || ' ' ||
           string_split(lower(trim(text)), ' ')[i+1] || ' ' ||
           string_split(lower(trim(text)), ' ')[i+2]))) AS shingle
  FROM documents
), hits AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT * FROM sh WHERE NOT is_eval) t
  WHERE t.shingle IN (SELECT shingle FROM sh WHERE is_eval)
)
SELECT source, count(*) AS n_train_docs,
  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
  (CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
            THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*)
    AS contaminated_ppm
FROM documents
WHERE NOT (doc_id % {EVAL_MOD} < {EVAL_CUT})
GROUP BY source
"""


VOCAB_TOP_N = 20


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV rate per document against a frequency-truncated top-20
    vocabulary — the tokenizer-design diagnostic (what fraction of the
    corpus a vocab of size N fails to cover). Vocabulary fit is one
    groupBy(word) + deterministic top-N; scoring is a broadcast join."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(VOCAB_TOP_N)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn("oov_ppm", F.expr("(n_oov * 1000000) div n_tokens"))
    )


_OOV_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS cnt FROM tok GROUP BY w
    ORDER BY cnt DESC, w ASC LIMIT {VOCAB_TOP_N}
  )
)
SELECT doc_id, count(*) AS n_tokens,
  CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)
       AS BIGINT) AS n_oov,
  (CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)
        AS BIGINT) * 1000000) // count(*) AS oov_ppm
FROM tok GROUP BY doc_id
"""


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: how big the duplicate families
    are (the report that justifies dedup spend). Two tiny aggregations
    over the connected-components labels."""
    from .graph import q_dedup_components

    comp = q_dedup_components(spark, sf_dir)
    return (
        comp.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def _cluster_oracle() -> str:
    from .graph import ORACLES as _GRAPH_ORACLES

    return f"""
SELECT cluster_size, count(*) AS n_clusters FROM (
  SELECT component_id, count(*) AS cluster_size
  FROM ({_GRAPH_ORACLES["dedup_components"]}) GROUP BY component_id
) GROUP BY cluster_size
"""


def q_source_gini_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document length — the corpus-
    balance audit: G near 0 means uniform doc sizes, G near 1 means a
    few giant docs carry the source's token mass (a skew/packing hazard
    AND a dedup-survivorship red flag). Exact integer form of the
    sorted-rank identity G = (2·Σ i·x_(i) − (n+1)·Σ x) / (n·Σ x),
    reported in ppm via one integer division at the very end — no float
    ever enters, so the result is bit-exact.

    Scale shape: the rank window is partitioned BY SOURCE and bounded by
    per-source doc count; the weighted sums collapse map-side to one row
    per source. n_chars (an int) is the only shuffled payload."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("x").cast("bigint").alias("sum_chars"),
            F.sum(F.col("i") * F.col("x")).cast("bigint").alias("sum_ix"),
        )
        .select(
            "source",
            "n_docs",
            "sum_chars",
            F.expr(
                "(2 * sum_ix - (n_docs + 1) * sum_chars) * 1000000L"
                " div (n_docs * sum_chars)"
            ).alias("gini_ppm"),
        )
    )


_GINI_ORACLE = """
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
         AS BIGINT) AS i
  FROM documents
), agg AS (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(x) AS BIGINT) AS sum_chars,
    CAST(sum(i * x) AS BIGINT) AS sum_ix
  FROM ranked GROUP BY source
)
SELECT source, n_docs, sum_chars,
  CAST((2 * sum_ix - (n_docs + 1) * sum_chars) * 1000000
       // (n_docs * sum_chars) AS BIGINT) AS gini_ppm
FROM agg
"""


def q_lexical_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity profile: token count, vocabulary
    size (types), hapax legomena (types occurring once — the Heaps'-law
    frontier), type-token ratio and hapax share in exact ppm. A
    collapsing TTR across a crawl is the classic signal of template /
    boilerplate flooding; hapax share calibrates how fast the
    vocabulary is still growing.

    Scale shape: one shuffle on (source, token) with map-side partial
    counts; the per-source rollup is |sources| rows. Token strings
    shuffle once — at 100 TB key on xxhash64(token) instead (the
    inverted-index note, retrieval.py:14)."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    per_type = occ.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_type.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("n_types * 1000000L div n_tokens").alias("ttr_ppm"),
            F.expr("n_hapax * 1000000L div n_types").alias("hapax_ppm"),
        )
    )


_LEXDIV_ORACLE = """
WITH occ AS (
  SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), per_type AS (
  SELECT source, w, count(*) AS c FROM occ GROUP BY source, w
), agg AS (
  SELECT source,
    CAST(sum(c) AS BIGINT) AS n_tokens,
    CAST(count(*) AS BIGINT) AS n_types,
    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM per_type GROUP BY source
)
SELECT source, n_tokens, n_types, n_hapax,
  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
  CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_ppm
FROM agg
"""


QUERIES = {
    "contamination_report": q_contamination_report,
    "source_gini_report": q_source_gini_report,
    "lexical_diversity_report": q_lexical_diversity_report,
    "vocab_oov_rate": q_vocab_oov_rate,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
}

ORACLES = {
    "contamination_report": _CONTAMINATION_ORACLE,
    "source_gini_report": _GINI_ORACLE,
    "lexical_diversity_report": _LEXDIV_ORACLE,
    "vocab_oov_rate": _OOV_ORACLE,
    "dedup_cluster_sizes": _cluster_oracle(),
}
