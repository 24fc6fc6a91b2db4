"""End-to-end training-data-preparation pipeline — the composite a user
of the reference actually wants at 100 TB: quality-filter -> dedup ->
tokenize -> partitioned sink, each stage one of the engine's operators.

Stage plan shapes (why this survives scale-up):
1. quality filter: map-only column expressions over the documents scan;
2. the one narrow pin: the survivors with a doc_id, projected map-only
   to (doc_id, lang, source, f_tokens, f_chars, fp, toks) and
   localCheckpointed — the only plan that reads text, read once, and
   the only place it is tokenized (fp: md5 of the normalized text);
3. exact + near dedup in one MinHash stage over toks and fp: one
   exchange per (band, bucket) and one per b_id (see operators/dedup.py;
   exact copies share every bucket). The narrow columns ride each doc's
   band-0 row and its self row through both, and come out beside the
   doc's fate, so the survivors are a filter into a lazily persisted
   frame, with no join back onto the pin;
4. numeric tokenize: sketch fit (KBs of driver state; its first job
   fills the cache) + map-only bucketize;
5. sink: partitioned parquet so downstream reads prune; then the cache
   and the pin are released and the written table is returned.
No exchange, broadcast or cache below the sink carries text: 8 jobs
per call on a 10k-document corpus at 4 cores, and with a sink nothing
stays persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import doc_fp, minhash_near_dup_drop_ids, pin_doc_tokens
from .operators.llm_prep import _UNIQ_P, _UNIQ_Q, _UPPER_P, _UPPER_Q, GATE_MIN_TOKENS
from .operators.model import QuantileBinModel
from .operators.text import STOPWORDS
from .session import load_spread, load_table, write_released


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 20,
    max_stopword_ratio: float = 0.5,
    min_unique_ratio: float = 0.3,
) -> DataFrame:
    """Gopher/C4-style heuristic quality gate (map-only)."""
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / n_tok
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tok
    return docs.filter(
        (n_tok >= min_tokens)
        & (stop_ratio <= max_stopword_ratio)
        & (uniq_ratio >= min_unique_ratio)
    )


def dedup_near_remove(docs: DataFrame) -> DataFrame:
    """Drop exact copies (given an ``fp`` column) and near-duplicates of
    each LSH bucket's min-id representatives (exact-Jaccard verified,
    linear in corpus size; see minhash_near_dup_drop_ids) from a pinned
    ``(doc_id, ..., toks)`` frame (see pin_doc_tokens). The survivors
    keep every column but ``toks`` and ``fp``: the MinHash stage carries
    them to where it decides each doc's fate, so keeping them is a
    filter, not a join. Runs on the quality-filtered corpus."""
    return minhash_near_dup_drop_ids(docs).filter("NOT dropped").drop("dropped")


def _curated(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, tuple]:
    """The lazy training table and the cache and the pin it reads."""
    # spread an under-split scan across cores before the expression-
    # bound quality gate (r12, guide §2.5; no-op at production split
    # counts)
    docs = load_spread(spark, sf_dir, "documents")
    # The one pin, map-only: the quality survivors' text is read once and
    # leaves as the narrow columns. The MinHash stage reads toks and fp
    # (exact + near dedup) and carries the rest to the survivors; the
    # cache, the fit and the sink see only those. f_tokens counts the
    # raw split, not the distinct normalized toks.
    pin = pin_doc_tokens(
        quality_filter(docs).filter("doc_id IS NOT NULL"),
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("f_tokens"),
        F.length("text").cast("double").alias("f_chars"),
        doc_fp(),
    )
    # persist the deduped frame: the fit's two jobs and the sink are
    # separate actions, and uncached EACH re-ran the MinHash computation
    # (measured 3x ~10 s at sf0.1). Lazy: the fit's first job fills the
    # cache, so no count() runs just to fill it.
    feats = dedup_near_remove(pin).persist()

    # numeric side: tokenize document stats (the reference op applied to
    # derived features) — fit on the filtered corpus, map-only transform
    model = QuantileBinModel.fit(feats, ["f_tokens", "f_chars"], bins=20)
    tokenized = model.transform(feats, keep_cols=["doc_id", "lang", "source"])
    return tokenized, (feats, pin)


def prepare_training_data(spark: SparkSession, sf_dir: str, out_path: str | None = None) -> DataFrame:
    """documents + lineitem-derived numeric features -> one tokenized,
    deduped, quality-filtered training table. With ``out_path`` the
    table is written there, the pin and the cache are released, and the
    frame returned reads the written table (write_released); without it
    the frame is lazy and keeps them (see q_training_data_prep)."""
    tokenized, release = _curated(spark, sf_dir)
    if not out_path:
        return tokenized
    return write_released(tokenized, out_path, release, ("lang",))


def q_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only: composition of oracle-covered stages +
    an approximate near-dedup stage). The table is written to a
    temporary directory (write_released), and the frame returned reads
    it, so the lane leaves nothing persisted (the lazy form keeps the
    narrow pin and the near-deduped cache for as long as the frame may
    run)."""
    tokenized, release = _curated(spark, sf_dir)
    return write_released(tokenized, None, release, ("lang",))


def build_analytics_mart(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    """Warehouse-mart composite: star denormalize (all dims broadcast,
    one fact-fact shuffle — operators/analytics.q_denormalize_star) ->
    (region, brand, day) revenue rollup -> optional region-partitioned
    sink so downstream reads prune. The rollup aggregates the join
    output directly: revenue stays an exact decimal until the final e4
    integer export."""
    from .operators.analytics import q_denormalize_star

    flat = q_denormalize_star(spark, sf_dir)
    mart = (
        flat.groupBy(
            "cust_region",
            "p_brand",
            F.expr(
                "datediff(cast(o_orderdate as date), date'1970-01-01')"
            ).alias("order_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(F.col("net_price").cast("decimal(18,4)")) * 10000)
            .cast("bigint")
            .alias("revenue_e4"),
        )
    )
    if out_path:
        mart.write.mode("overwrite").partitionBy("cust_region").parquet(
            out_path
        )
    return mart


def q_mart_region_brand_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_analytics_mart(spark, sf_dir)


_MART_ORACLE = """
SELECT r_name AS cust_region, p_brand,
  epoch_us(o_orderdate) // 86400000000 AS order_day,
  count(*) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 4)
                AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2, 3
"""


def q_corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation, fully value-verified: quality gate
    (the exact rational rules of quality_gate_verdict) -> exact dedup
    among survivors (md5 digest, keep-lowest-doc_id) -> per-source
    accounting of every document's fate plus kept-token volume. The
    oracle replays the whole pipeline in one SQL statement, so this is
    the composite twin of training_data_prep with a full value check
    instead of rows-only (minhash is swapped for exact dedup precisely
    to keep the composite deterministic).

    Scale shape: gate flags are map-only; the dedup winner is a
    min-over-window on the 32-byte digest (one shuffle, text never
    moves); the report is a partial agg onto |sources| rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.split(F.col("text"), " ").alias("toks"),
        F.length(F.regexp_replace(F.col("text"), "[^A-Z]", "")).alias(
            "n_upper"
        ),
        F.length(F.col("text")).alias("n_chars"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    n_tok = F.size("toks")
    n_uniq = F.size(F.array_distinct("toks"))
    keep_q = (
        (n_tok >= GATE_MIN_TOKENS)
        & (F.col("n_upper") * _UPPER_Q <= F.lit(_UPPER_P) * F.col("n_chars"))
        & (n_uniq * _UNIQ_Q >= F.lit(_UNIQ_P) * n_tok)
    ).cast("int")
    flagged = docs.select(
        "doc_id", "source", "fp", n_tok.alias("n_tokens"), keep_q.alias("keep_q")
    )
    w_fp = Window.partitionBy("fp")
    min_kept = F.min(
        F.when(F.col("keep_q") == 1, F.col("doc_id"))
    ).over(w_fp)
    fated = flagged.withColumn(
        "fate",
        F.when(F.col("keep_q") == 0, F.lit("quality_drop"))
        .when(F.col("doc_id") != min_kept, F.lit("dup_drop"))
        .otherwise(F.lit("kept")),
    )
    return fated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("fate") == "quality_drop").cast("int"))
        .cast("bigint")
        .alias("n_dropped_quality"),
        F.sum((F.col("fate") == "dup_drop").cast("int"))
        .cast("bigint")
        .alias("n_dropped_dup"),
        F.sum((F.col("fate") == "kept").cast("int"))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(
            F.when(F.col("fate") == "kept", F.col("n_tokens")).otherwise(0)
        )
        .cast("bigint")
        .alias("tokens_kept"),
    )


def _curation_oracle() -> str:
    return f"""
WITH flagged AS (
  SELECT doc_id, source,
    md5(lower(trim(text))) AS fp,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(
      len(string_split(text, ' ')) >= {GATE_MIN_TOKENS}
      AND length(regexp_replace(text, '[^A-Z]', '', 'g')) * {_UPPER_Q}
          <= {_UPPER_P} * length(text)
      AND len(list_distinct(string_split(text, ' '))) * {_UNIQ_Q}
          >= {_UNIQ_P} * len(string_split(text, ' '))
      AS INTEGER) AS keep_q
  FROM documents
), fated AS (
  SELECT source, n_tokens,
    CASE WHEN keep_q = 0 THEN 'quality_drop'
         WHEN doc_id != min(CASE WHEN keep_q = 1 THEN doc_id END)
              OVER (PARTITION BY fp) THEN 'dup_drop'
         ELSE 'kept' END AS fate
  FROM flagged
)
SELECT source, count(*) AS n_total,
  CAST(sum(CASE WHEN fate = 'quality_drop' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped_quality,
  CAST(sum(CASE WHEN fate = 'dup_drop' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped_dup,
  CAST(sum(CASE WHEN fate = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(sum(CASE WHEN fate = 'kept' THEN n_tokens ELSE 0 END) AS BIGINT)
    AS tokens_kept
FROM fated GROUP BY source
"""


QUERIES = {
    "training_data_prep": q_training_data_prep,
    "mart_region_brand_daily": q_mart_region_brand_daily,
    "corpus_curation_report": q_corpus_curation_report,
}
ORACLES: dict[str, str] = {
    "mart_region_brand_daily": _MART_ORACLE,
    "corpus_curation_report": _curation_oracle(),
}
