"""Queries exercising the Python UDTF surface (functions/udtfs.py).

Scale note: a LATERAL UDTF is map-side only — no shuffle is introduced
by the expansion itself; the downstream groupBy shuffles the (much
smaller) aggregated bigram counts. Arrow transfer is enabled for the
UDTF so token batches cross the JVM/Python boundary columnar, not
pickled row-by-row. Both UDTF lanes run on one cached forked session,
so the Arrow conf, their temp views and their registered UDTFs stay off
the caller's session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.udtfs import BigramUDTF, NgramUDTF
from ..session import forked_session, load_table

MIN_BIGRAM_COUNT = 5


def q_udtf_bigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram vocabulary via a LATERAL Python UDTF: explode every
    document into word bigrams, keep those seen >= MIN_BIGRAM_COUNT
    times — the vocabulary-induction step of n-gram tokenization."""
    s = forked_session(spark, "udtf")
    s.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    load_table(s, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    s.udtf.register("bigrams", BigramUDTF)
    return s.sql(
        f"""
        SELECT b.ngram, count(*) AS n
        FROM udtf_docs d, LATERAL bigrams(d.text) b
        GROUP BY b.ngram
        HAVING count(*) >= {MIN_BIGRAM_COUNT}
        """
    )


def q_udtf_trigram_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 n-grams WITH positions via the polymorphic NgramUDTF —
    the output schema (column `ngram3`) is decided by analyze() from
    the literal argument at plan time. Restricted to doc_id < 50 so the
    expansion stays oracle-comparison-sized; the lateral expansion
    itself is map-only at any scale."""
    from pyspark.sql.functions import udtf as _udtf

    s = forked_session(spark, "udtf")
    s.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    docs = load_table(s, sf_dir, "documents").filter("doc_id < 50")
    docs.createOrReplaceTempView("udtf_docs3")
    s.udtf.register("ngrams_n", _udtf(NgramUDTF))
    return s.sql(
        """
        SELECT d.doc_id, t.ngram3, t.pos
        FROM udtf_docs3 d,
             LATERAL ngrams_n(lower(trim(d.text)), 3) t
        """
    )


QUERIES = {
    "udtf_trigram_positions": q_udtf_trigram_positions,
    "udtf_bigram_vocab": q_udtf_bigram_vocab,
}

ORACLES = {
    "udtf_trigram_positions": """
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
  array_to_string(list_slice(toks, i, i + 2), ' ') AS ngram3,
  CAST(i AS INTEGER) AS pos
FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
""",
    "udtf_bigram_vocab": """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS ngram
  FROM toks
)
SELECT ngram, count(*) AS n
FROM pairs
GROUP BY ngram
HAVING count(*) >= 5
""",
}


def q_grouped_stats_apply_in_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped custom aggregation through ``applyInArrow`` — the
    zero-pandas grouped lane (pyarrow.Table in, pyarrow.Table out; no
    pandas conversion overhead on either side). Completes the Python
    extension matrix: scalar pandas_udf / iterator pandas_udf /
    GROUPED_AGG / applyInPandas / mapInPandas / mapInArrow /
    applyInArrow / UDTF.

    Scale note: like applyInPandas, one shuffle on the group key; each
    group must fit an Arrow batch — fine for per-source rollups, use
    partial aggregation (groupBy.agg) when groups are huge."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")

    def stats(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        n = table.num_rows
        col = table.column("n_chars")
        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": pa.array([n], pa.int64()),
                "sum_chars": pa.array(
                    [pc.sum(col).as_py()], pa.int64()
                ),
                "max_chars": pa.array(
                    [pc.max(col).as_py()], pa.int64()
                ),
            }
        )

    return docs.groupBy("source").applyInArrow(
        stats, schema="source string, n_docs bigint, sum_chars bigint, max_chars bigint"
    )


QUERIES["grouped_stats_apply_in_arrow"] = q_grouped_stats_apply_in_arrow
ORACLES["grouped_stats_apply_in_arrow"] = """
SELECT source, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY source
"""
