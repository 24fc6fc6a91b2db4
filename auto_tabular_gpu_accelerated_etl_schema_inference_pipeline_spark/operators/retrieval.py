"""Retrieval / search-index operators over the documents corpus: inverted
index construction, BM25 ranking, and duplicate n-gram span detection.

The reference has no text or retrieval surface at all (SURVEY.md §2.2 —
its type system is primitive-float-only, `etl_benchmark.py:18`); these are
the index-building blocks a large-scale training-data pipeline needs next
to dedup (operators/dedup.py) and decontamination (operators/llm_prep.py).

Scale design (100 TB):
- Inverted index: the only shuffle is groupBy(token) over (token, doc_id)
  pairs — document text itself is never shuffled (the dedup.py /
  llm_prep.py invariant). Posting lists are CAPPED (sorted prefix, K=20)
  so no single token's reduce group materializes an unbounded list; the
  full document frequency is still exact. At 100 TB the reduce key should
  be xxhash64(token) with the token string carried as a payload, so the
  shuffle keys stay fixed-width.
- BM25: corpus statistics (N, Σdl) are a 1-row aggregate and the per-term
  document frequencies are a ≤|query|-row aggregate — both broadcast. The
  per-document side is a map-side explode→filter→partial-agg keyed on
  (doc_id, term): fan-out is bounded by |query|, not vocabulary. Scoring
  is µ-unit integer arithmetic (the tfidf_top_terms pattern) so partial
  aggregation order cannot wobble low bits.
- Duplicate n-gram spans: the approximate form of exact-substring dedup
  (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  Better") at n-gram granularity: explode each document into its word
  3-gram spans and keep spans seen in ≥2 distinct documents. One shuffle
  on the gram; at 100 TB shuffle xxhash64(gram) (fixed 8 bytes) and keep
  the gram text via a first() payload instead of shuffling full strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, pinned_shuffle_width

#: cap on stored postings per token — the sorted PREFIX is deterministic,
#: so both engines agree on which doc_ids survive the cap.
POSTING_CAP = 20


def _tokens(col: str = "text"):
    return F.split(F.lower(F.trim(F.col(col))), " ")


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token -> exact document frequency, total occurrences, and a capped
    sorted posting-list sample. The core lookup structure behind exact-
    match search and the df table BM25 consumes."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(_tokens()).alias("token")
    )
    # rank BEFORE collect: slice(array_sort(collect_list(...)), 1, cap)
    # materializes the token's FULL posting list in one row first — a
    # stopword token at corpus scale is billions of doc ids in a single
    # aggregation buffer. And a single row_number over
    # Window.partitionBy("token") would still route that stopword's
    # entire distinct posting stream through ONE task's window sort
    # before the cap applies (spillable, but a straggler — ADVICE r8).
    # Two-stage cap instead: stage 1 ranks within
    # (token, pmod(xxhash64(doc_id), B)) — B tasks share the hot token,
    # each sorting ~1/B of its postings — and keeps each bucket's
    # smallest POSTING_CAP doc_ids. The global smallest POSTING_CAP are
    # all contained in that union (each survives its own bucket's cut),
    # so stage 2's per-token row_number sees ≤ B·POSTING_CAP rows and
    # selects the identical deterministic prefix.
    # B bounds the per-task slice of a hot token's posting stream at
    # ~1/B; derived from the session's parallelism (ADVICE r10 — a wider
    # cluster gets proportionally more buckets without a code edit),
    # floored at 32 so the straggler bound never loosens below the
    # fixture-validated width, and CAPPED at 1024 because stage 2's
    # per-token aggregation buffer is B·POSTING_CAP survivors — B-linear,
    # so an uncapped derivation on a 10k-core cluster would quietly
    # trade the stage-1 straggler bound for a 200k-row stage-2 group
    # (closing review). At 100 TB, size B so stream/B fits a task
    # (B ~ max_token_df / target_task_rows) — the cap algebra is
    # B-invariant (union of per-bucket minima ⊇ global minima for ANY
    # B), so raising it is a config change, not a correctness change.
    n_buckets = pinned_shuffle_width(spark)
    # The bucket is a NAMED column (not an inline pmod expression): each
    # inline use would be a distinct internal attribute, splitting the
    # two window functions into two WindowExec passes over two sorts.
    # With one shared attribute and one (partition, order) spec, cnt_b
    # rides rn_b's sort in a single WindowExec — frames may differ
    # within a node, order specs may not.
    w_ordered = Window.partitionBy("token", "bkt").orderBy("doc_id")
    pre = (
        occ.distinct()
        .withColumn("bkt", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)))
        .withColumn("rn_b", F.row_number().over(w_ordered))
        .withColumn(
            "cnt_b",
            F.count(F.lit(1)).over(
                w_ordered.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .filter(F.col("rn_b") <= POSTING_CAP)
    )
    # one aggregate finishes both outputs from the ≤ B·CAP survivors:
    # doc_freq = Σ per-bucket counts (each bucket's rn_b==1 row carries
    # its bucket's full count and always survives the cut), and the
    # posting sample = the CAP smallest of the ≤ B·CAP survivors — the
    # collect_list buffer is bounded by B·CAP (≤ 1024·20 under the
    # derivation cap above; B-linear, which is why B is capped), no
    # second window pass needed.
    postings = pre.groupBy("token").agg(
        F.sum(F.when(F.col("rn_b") == 1, F.col("cnt_b"))).alias("doc_freq"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, POSTING_CAP),
            ",",
        ).alias("posting_sample"),
    )
    totals = occ.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return postings.join(totals, "token").select(
        "token", "doc_freq", "n_occurrences", "posting_sample"
    )


_INVERTED_INDEX_ORACLE = f"""
WITH occ AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
  FROM documents
), pairs AS (SELECT DISTINCT token, doc_id FROM occ),
postings AS (
  SELECT token, count(*) AS doc_freq,
    array_to_string(list_sort(list(doc_id))[1:{POSTING_CAP}], ',')
      AS posting_sample
  FROM pairs GROUP BY token
), totals AS (
  SELECT token, count(*) AS n_occurrences FROM occ GROUP BY token
)
SELECT token, doc_freq, n_occurrences, posting_sample
FROM postings JOIN totals USING (token)
"""


#: fixed search query for the oracle-checked BM25 entry; terms exist in
#: the fixture vocabulary (FIXTURES.md: word-soup over an engine lexicon).
BM25_QUERY_TERMS = ("hash", "join", "merge")
BM25_K1 = 1.2
BM25_B = 0.75


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of every document against a fixed 3-term query.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), reported in exact µ-units
    (idf rounded 6dp first) so the cross-engine comparison is integral.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = list(BM25_QUERY_TERMS)

    toks = docs.select("doc_id", _tokens().alias("toks"))
    dld = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dld.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )

    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(dld, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf6",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                ),
                6,
            ),
        )
        .withColumn(
            "contrib_micro",
            F.round(
                F.col("idf6")
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B)
                        * F.col("dl")
                        / (
                            F.col("sum_dl").cast("double")
                            / F.col("n_docs").cast("double")
                        )
                    )
                )
                * F.lit(1_000_000.0)
            ).cast("bigint"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        F.sum("contrib_micro").alias("score_micro"),
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
), dld AS (SELECT doc_id, len(toks) AS dl FROM toks),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dld),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest(toks) AS term FROM toks
  ) WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
), df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
    CAST(round(
      round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
      * (tf * {BM25_K1 + 1.0})
      / (tf + {BM25_K1}
         * ({1.0 - BM25_B} + {BM25_B} * dl
            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      * 1000000.0) AS BIGINT) AS contrib_micro
  FROM tf JOIN dld ON tf.doc_id = dld.doc_id
  JOIN df_t ON tf.term = df_t.term
  CROSS JOIN stats
)
SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_matched,
  CAST(sum(contrib_micro) AS BIGINT) AS score_micro
FROM scored GROUP BY doc_id
"""


SPAN_N = 3
SPAN_MIN_DOCS = 2


def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram spans appearing in >= 2 distinct documents, with their
    document reach and total occurrence count — the n-gram-granularity
    approximation of exact-substring duplicate detection."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", _tokens().alias("toks"))
        .filter(F.size("toks") >= SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {SPAN_N - 1}),"
                    f" i -> array_join(slice(toks, i, {SPAN_N}), ' '))"
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
    )


_SPANS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(toks) - {SPAN_N - 1}),
           i -> array_to_string(list_slice(toks, i, i + {SPAN_N - 1}), ' ')))
      AS gram
  FROM d WHERE len(toks) >= {SPAN_N}
)
SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
"""


RRF_K = 60
RRF_TOP_N = 100
RRF_OUT_K = 20
RRF_QUERY_VEC_ID = 0


def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack et al. 2009):
    fuse the LEXICAL ranking (the BM25 query above) with a SEMANTIC
    ranking (integer dot product of int8-quantized embeddings against
    the vec_id=0 query vector) as score = Σ_lists 1/(k + rank), k=60 —
    the standard way RAG stacks combine keyword and vector hits without
    score calibration. Every fused quantity is an exact integer: BM25 in
    µ-units, the semantic score as an int8×int8 dot product, and the RRF
    sum in e9-units via integer division, so the oracle matches
    bit-for-bit.

    Scale shape: each list is cut to its top-100 by TakeOrderedAndProject
    (distributed heap top-k — no global sort, no single-partition
    window over the corpus); ranks are then assigned on the 100-row
    result where a partitionless window is free. The fusion join is
    100x100 tiny. The quantized dot product itself is a map-only
    zip_with/aggregate against one broadcast query vector."""
    from pyspark.sql import Window

    bm25 = (
        q_bm25_search(spark, sf_dir)
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(RRF_TOP_N)
    )
    wb = Window.orderBy(F.desc("score_micro"), "doc_id")
    bm25r = bm25.select(
        "doc_id", F.row_number().over(wb).cast("int").alias("bm25_rank")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "dv"
        ),
    ).select(
        "vec_id",
        "dv",
        (
            F.array_max(F.transform("dv", lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
    )
    dv, scale = F.col("dv"), F.col("scale")
    q8 = base.select(
        "vec_id",
        F.transform(dv, lambda x: F.round(x / scale).cast("int")).alias("q8"),
    )
    qvec = q8.filter(F.col("vec_id") == RRF_QUERY_VEC_ID).select(
        F.col("q8").alias("qq")
    )
    dots = (
        q8.crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("q8", "qq", lambda a, b: (a * b).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
        .orderBy(F.desc("qdot"), "vec_id")
        .limit(RRF_TOP_N)
    )
    we = Window.orderBy(F.desc("qdot"), "vec_id")
    embr = dots.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(we).cast("int").alias("emb_rank"),
    )

    fused = bm25r.join(embr, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "emb_rank",
        (
            F.coalesce(
                F.expr(f"1000000000L div ({RRF_K} + bm25_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000000L div ({RRF_K} + emb_rank)"), F.lit(0)
            )
        ).alias("rrf_e9"),
    )
    return fused.orderBy(F.desc("rrf_e9"), "doc_id").limit(RRF_OUT_K)


_RRF_ORACLE = f"""
WITH bm AS ({_BM25_ORACLE.strip()}),
bm_top AS (
  SELECT doc_id, score_micro FROM bm
  ORDER BY score_micro DESC, doc_id LIMIT {RRF_TOP_N}
),
bm_r AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER)
      AS bm25_rank
  FROM bm_top
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), s AS (
  SELECT vec_id, dv,
    list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id,
    list_transform(dv, x -> CAST(round(x / scale) AS INTEGER)) AS q8
  FROM s
), qv AS (SELECT q8 AS qq FROM q WHERE vec_id = {RRF_QUERY_VEC_ID}),
dots AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(list_zip(q8, qq),
      z -> CAST(z[1] AS BIGINT) * z[2])) AS BIGINT) AS qdot
  FROM q CROSS JOIN qv
  ORDER BY qdot DESC, vec_id LIMIT {RRF_TOP_N}
),
e_r AS (
  SELECT vec_id AS doc_id,
    CAST(row_number() OVER (ORDER BY qdot DESC, vec_id) AS INTEGER)
      AS emb_rank
  FROM dots
),
fused AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id, b.bm25_rank, v.emb_rank,
    coalesce(1000000000 // ({RRF_K} + b.bm25_rank), 0)
      + coalesce(1000000000 // ({RRF_K} + v.emb_rank), 0) AS rrf_e9
  FROM bm_r b FULL OUTER JOIN e_r v ON b.doc_id = v.doc_id
)
SELECT doc_id, bm25_rank, emb_rank, CAST(rrf_e9 AS BIGINT) AS rrf_e9
FROM fused ORDER BY rrf_e9 DESC, doc_id LIMIT {RRF_OUT_K}
"""


#: NDCG cut-off
NDCG_K = 10


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking — the retrieval lane's EVAL story:
    graded relevance rel(d) = total occurrences of query terms in d (a
    deterministic pseudo-qrel that DISAGREES with BM25's length-
    normalized, tf-saturated order, so the metric discriminates: ~0.91
    on the fixture, not a vacuous 1.0), DCG@k = Σ rel_i/log2(i+1)
    over the BM25 top-k (ties broken by doc_id — BM25 scores are
    already exact µ-unit integers, so the ranking is engine-stable),
    IDCG over the relevance-ideal ordering of the same candidate set.
    Each positional term is quantized to micro-units (double-round
    discipline) before summing; ndcg_ppm is exact-integer.

    Scale shape: the top-k is sort-limit (TakeOrderedAndProject — no
    global sort materializes); the only windows run over the k selected
    rows. Relevance grading is a pure map over the split array. The
    1-row DCG/IDCG aggregates broadcast-join at the end."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    rel = docs.select(
        "doc_id",
        F.expr(
            "size(filter(split(lower(trim(text)), ' '),"
            f" w -> w IN ({_BM25_TERMS_SQL})))"
        ).alias("rel"),
    )

    def dcg_micro(df: DataFrame, order_cols, out: str) -> DataFrame:
        w = Window.orderBy(*order_cols)
        return (
            df.withColumn("i", F.row_number().over(w))
            .select(
                F.round(
                    F.round(
                        F.col("rel") / F.log2(F.col("i") + F.lit(1.0)), 6
                    )
                    * 1_000_000
                )
                .cast("bigint")
                .alias("g")
            )
            .agg(F.coalesce(F.sum("g"), F.lit(0)).cast("bigint").alias(out))
        )

    ranked = (
        q_bm25_search(spark, sf_dir)
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(NDCG_K)
        .join(rel, "doc_id")
    )
    dcg = dcg_micro(
        ranked, [F.col("score_micro").desc(), F.col("doc_id").asc()], "dcg_micro"
    )
    ideal = (
        rel.filter(F.col("rel") > 0)
        .orderBy(F.col("rel").desc(), F.col("doc_id").asc())
        .limit(NDCG_K)
    )
    idcg = dcg_micro(
        ideal, [F.col("rel").desc(), F.col("doc_id").asc()], "idcg_micro"
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        F.lit(NDCG_K).cast("int").alias("k"),
        "dcg_micro",
        "idcg_micro",
        F.expr("dcg_micro * 1000000L div idcg_micro").alias("ndcg_ppm"),
    )


_NDCG_ORACLE = f"""
WITH bm25 AS ({_BM25_ORACLE}),
rel AS (
  SELECT doc_id,
    len(list_filter(string_split(lower(trim(text)), ' '),
                    w -> w IN ({_BM25_TERMS_SQL}))) AS rel
  FROM documents
), ranked AS (
  SELECT b.doc_id, r.rel,
    row_number() OVER (ORDER BY b.score_micro DESC, b.doc_id ASC) AS i
  FROM bm25 b JOIN rel r ON r.doc_id = b.doc_id
  ORDER BY b.score_micro DESC, b.doc_id ASC LIMIT {NDCG_K}
), dcg AS (
  SELECT coalesce(sum(CAST(round(round(rel / log2(i + 1.0), 6) * 1000000)
                           AS BIGINT)), 0) AS dcg_micro
  FROM ranked
), ideal AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS i
  FROM rel WHERE rel > 0
  ORDER BY rel DESC, doc_id ASC LIMIT {NDCG_K}
), idcg AS (
  SELECT coalesce(sum(CAST(round(round(rel / log2(i + 1.0), 6) * 1000000)
                           AS BIGINT)), 0) AS idcg_micro
  FROM ideal
)
SELECT CAST({NDCG_K} AS INTEGER) AS k,
  CAST(dcg_micro AS BIGINT) AS dcg_micro,
  CAST(idcg_micro AS BIGINT) AS idcg_micro,
  CAST(dcg_micro * 1000000 // idcg_micro AS BIGINT) AS ndcg_ppm
FROM dcg, idcg
"""


QUERIES = {
    "hybrid_rrf_search": q_hybrid_rrf_search,
    "inverted_index": q_inverted_index,
    "bm25_search": q_bm25_search,
    "duplicate_ngram_spans": q_duplicate_ngram_spans,
    "ndcg_eval": q_ndcg_eval,
}

ORACLES = {
    "hybrid_rrf_search": _RRF_ORACLE,
    "inverted_index": _INVERTED_INDEX_ORACLE,
    "bm25_search": _BM25_ORACLE,
    "duplicate_ngram_spans": _SPANS_ORACLE,
    "ndcg_eval": _NDCG_ORACLE,
}
