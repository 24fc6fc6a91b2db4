"""Statistical language-model features over the documents corpus:
unigram-LM negative log-likelihood scoring (the CCNet/KenLM-style
"score text by a corpus LM" quality signal, at unigram order so it is
exactly SQL-expressible) and hashing-trick bag-of-words featurization.

Reference parity: none — the reference has no text surface (SURVEY.md
§2.2); these are LLM-data-pipeline completeness ops next to
text.py's heuristics and llm_prep.py's tf-idf.

Scale design (100 TB):
- Unigram LM: the model IS the word-frequency table — one explode +
  groupBy(word) shuffle builds it; the corpus total is a 1-row agg. Both
  broadcast into the scoring pass, which is explode → map-side hash join
  → per-doc partial aggregation. Per-word surprisal is quantized to
  integer micro-nats BEFORE the per-doc sum, so cross-row aggregation is
  exact integer math in any order.
- Feature hashing: dim = md5-derived bucket (deterministic on both
  engines, no stored vocabulary — the point of the hashing trick); the
  only shuffle is groupBy(doc_id, dim). Long-form output (doc_id, dim,
  n) is the join-friendly sparse representation; assembling a dense
  array is a map-only collect_list away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table

HASH_DIMS = 64


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )


def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram negative log-likelihood in micro-nats:
    nll(d) = Σ_w∈d −ln(count(w)/total). Low = fluent-under-the-corpus,
    high = surprising — the sort key for perplexity-filtered pretraining
    data. (A real pipeline swaps the unigram table for a KenLM shard;
    the join/aggregate topology is identical.)"""
    tok = _tok(spark, sf_dir)
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    wm = (
        vocab.crossJoin(F.broadcast(total))
        .withColumn(
            "nll_micro",
            F.round(
                F.round(
                    -F.log(
                        F.col("cnt").cast("double")
                        / F.col("total").cast("double")
                    ),
                    6,
                )
                * 1_000_000
            ).cast("bigint"),
        )
        .select("w", "nll_micro")
    )
    return tok.join(F.broadcast(wm), "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("nll_micro").alias("nll_micro_total"),
    )


_UNIGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS cnt FROM tok GROUP BY w
), tot AS (SELECT count(*) AS total FROM tok),
wm AS (
  SELECT w,
    CAST(round(round(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
               * 1000000) AS BIGINT) AS nll_micro
  FROM vocab, tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(nll_micro) AS BIGINT) AS nll_micro_total
FROM tok JOIN wm USING (w)
GROUP BY doc_id
"""


def q_feature_hashing_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words: each token hashes to one of 64 dims
    (md5 prefix — engine-portable and deterministic, no fitted
    vocabulary), counts aggregated per (doc, dim). Sparse long-form
    output."""
    tok = _tok(spark, sf_dir)
    dim = F.expr(
        f"cast(conv(substring(md5(w), 1, 4), 16, 10) as int) % {HASH_DIMS}"
    )
    return tok.groupBy("doc_id", dim.alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


_HASHING_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
)
SELECT doc_id,
  (('0x' || substr(md5(w), 1, 4))::INTEGER) % {HASH_DIMS} AS dim,
  count(*) AS n
FROM tok GROUP BY 1, 2
"""


#: number of BPE merge rounds the query performs (and the oracle unrolls)
BPE_ROUNDS = 5


def _bpe_fit(spark: SparkSession, sf_dir: str, want_vocab: bool = True):
    """Shared BPE fit: returns (merge list, final vocabulary DataFrame
    (w, f, s) with s = space-joined symbols after BPE_ROUNDS merges).
    With ``want_vocab=False`` the last round's vocabulary rewrite is
    skipped (the merge table is already complete) and None is returned
    for the vocab."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    vocab = (
        wf.select(
            "w",
            "f",
            F.concat(
                F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
                F.lit(" #"),
            ).alias("s"),
        )
        # the iteration state is vocabulary-sized (Zipf-bounded); one
        # partition turns every round into single-task jobs instead of
        # shuffle.partitions near-empty tasks. At 100 TB-corpus scale the
        # vocab is millions of rows — still a handful of partitions.
        .coalesce(1)
        .localCheckpoint()
    )
    merges = []
    for step in range(1, BPE_ROUNDS + 1):
        toks = F.split("s", " ")
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("a"),
                F.element_at(toks, i + 1).alias("b"),
            ),
        )
        best = (
            vocab.select("f", F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("f").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()[0]
        )
        merges.append((step, best["a"], best["b"], int(best["c"])))
        if step == BPE_ROUNDS and not want_vocab:
            return merges, None
        pat = f" {best['a']} {best['b']} "
        rep = f" {best['a']}{best['b']} "
        vocab = vocab.select(
            "w",
            "f",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("s"), F.lit(" ")),
                    F.lit(pat),
                    F.lit(rep),
                )
            ).alias("s"),
        ).localCheckpoint()
    return merges, vocab


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction (Sennrich et al. 2016) — the tokenizer-
    training step of an LLM data pipeline, run as a deterministic
    iterative algorithm: each round counts adjacent symbol pairs
    (weighted by word frequency), merges the most frequent pair
    (ties: higher count, then lexicographic), and rewrites the
    vocabulary. Returns the learned merge table.

    Scale shape — the reason BPE distributes at all: the iteration
    state is the word-FREQUENCY table (Zipf-bounded: millions of rows
    at 100 TB, not the corpus), built by ONE corpus pass. Each round is
    one bounded pair-count shuffle over that table plus a 1-ROW argmax
    collect (the fit-step collection pattern, same tier as quantile
    boundary fitting); the rewrite is map-only string replace. State is
    localCheckpoint-pinned per round so lineage doesn't re-execute
    earlier rounds (the connected-components lesson).

    Exactness: symbol strings are space-joined; the merge rewrite is
    non-overlapping left-to-right replace of ' a b ' in the padded
    string — identical semantics in Spark and DuckDB, so the oracle
    replays all BPE_ROUNDS rounds bit-for-bit."""
    merges, _ = _bpe_fit(spark, sf_dir, want_vocab=False)
    return spark.createDataFrame(
        merges, "merge_step int, lhs string, rhs string, pair_count bigint"
    )


def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply step — tokenize every document with the vocabulary
    learned by q_bpe_merges' fit and report per-doc BPE token counts
    (the sizing number a training pipeline actually consumes: context-
    window budgeting, packing, cost estimates).

    Because merges operate on whole words, encoding is a WORD-LEVEL
    lookup: the fitted vocabulary (word -> merged symbol string) is
    Zipf-bounded and broadcast; the corpus pass is explode -> broadcast
    hash join -> per-doc sum. No per-document merge replay — the fit
    already paid it once."""
    _, vocab = _bpe_fit(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    per_word = F.size(F.split("s", " ")).cast("bigint")
    return (
        words.join(F.broadcast(vocab.select("w", "s")), ["w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(per_word).alias("n_bpe_tokens"),
        )
    )


def _bpe_prefix(rounds: int) -> str:
    """Shared unrolled DuckDB replay of the BPE fit (CTEs wf, v1..v{n+1},
    p1..pn, m1..mn). Every CTE is MATERIALIZED: each v_{i+1} references
    v_i once and m_i four times (scalar subqueries), so DuckDB's default
    CTE inlining expanded the 5-round chain to ~5^5 copies of the corpus
    tokenization — the bpe_encode_docs oracle measured 400 s at sf0.01
    (vs ~1 s materialized), the same hazard class as graph_kcore's
    unroll."""
    sql = """
WITH wf AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents)
  GROUP BY w
), v1 AS MATERIALIZED (
  SELECT w, f,
    trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' #' AS s
  FROM wf
)"""
    for i in range(1, rounds + 1):
        sql += f""", p{i} AS MATERIALIZED (
  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(f) AS BIGINT) AS c
  FROM (SELECT f,
          unnest(list_transform(
            generate_series(1, len(string_split(s, ' ')) - 1),
            i -> [string_split(s, ' ')[i], string_split(s, ' ')[i + 1]]))
            AS pr
        FROM v{i})
  GROUP BY a, b
), m{i} AS MATERIALIZED (
  SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1
), v{i + 1} AS MATERIALIZED (
  SELECT w, f,
    trim(replace(' ' || s || ' ',
      ' ' || (SELECT a FROM m{i}) || ' ' || (SELECT b FROM m{i}) || ' ',
      ' ' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ' ')) AS s
  FROM v{i})"""
    return sql


def _bpe_oracle(rounds: int) -> str:
    selects = [
        f"SELECT {i} AS merge_step, a AS lhs, b AS rhs, c AS pair_count"
        f" FROM m{i}"
        for i in range(1, rounds + 1)
    ]
    return _bpe_prefix(rounds) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_encode_oracle(rounds: int) -> str:
    return (
        _bpe_prefix(rounds)
        + f"""
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(len(string_split(v.s, ' '))) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
      FROM documents) d
JOIN v{rounds + 1} v ON d.w = v.w
GROUP BY d.doc_id
"""
    )


def q_perplexity_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity banding (Wenzek et al. 2020): docs ranked
    by mean unigram NLL WITHIN each source, split into integer terciles
    (band = 3·(rank−1) div n — no percentile interpolation), and kept
    when in the head or middle band — the famous head/middle/tail
    filter that drops each source's most-surprising (spammy/garbled)
    third while keeping its own fluency scale. Mean NLL is exact
    integer µ-nats per token (total div n_tokens); ranking ties break
    on doc_id. One window per source over the doc-level scores (rows =
    docs, not tokens)."""
    from pyspark.sql import Window

    scored = q_unigram_lm_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = scored.join(docs, "doc_id").select(
        "doc_id",
        "source",
        F.expr("nll_micro_total div n_tokens").alias("mean_nll_micro"),
    )
    w = Window.partitionBy("source").orderBy("mean_nll_micro", "doc_id")
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    band = F.expr("CAST(3 * (rank - 1) div n AS INT)")
    ranked = j.select(
        "doc_id",
        "source",
        "mean_nll_micro",
        F.row_number().over(w).alias("rank"),
        n.alias("n"),
    )
    return ranked.select(
        "doc_id",
        "source",
        "mean_nll_micro",
        band.alias("ppl_band"),
        (band < 2).alias("kept"),
    )


_PPL_BAND_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS cnt FROM tok GROUP BY w
), tot AS (SELECT count(*) AS total FROM tok),
wm AS (
  SELECT w,
    CAST(round(round(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
               * 1000000) AS BIGINT) AS nll_micro
  FROM vocab, tot
), scored AS (
  SELECT doc_id, count(*) AS n_tokens, sum(nll_micro) AS nll_total
  FROM tok JOIN wm USING (w) GROUP BY doc_id
), j AS (
  SELECT s.doc_id, d.source,
    CAST(s.nll_total // s.n_tokens AS BIGINT) AS mean_nll_micro
  FROM scored s JOIN documents d USING (doc_id)
), ranked AS (
  SELECT doc_id, source, mean_nll_micro,
    row_number() OVER (PARTITION BY source
                       ORDER BY mean_nll_micro, doc_id) AS rank,
    count(*) OVER (PARTITION BY source) AS n
  FROM j
)
SELECT doc_id, source, mean_nll_micro,
  CAST(3 * (rank - 1) // n AS INTEGER) AS ppl_band,
  3 * (rank - 1) // n < 2 AS kept
FROM ranked
"""


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document add-one-smoothed bigram negative log-likelihood in
    micro-nats: nll(d) = Σ over consecutive pairs −ln((c(w1,w2)+1) /
    (c(w1)+V)) — the order-2 companion to q_unigram_lm_score (the
    fluency signal bigram LMs add: word-ORDER surprise, not just word
    choice). Per-bigram surprisal is quantized to integer micro-nats
    before the per-doc sum (exact cross-row aggregation), and the
    smoothing ratio is a single IEEE double division of integers —
    identical in any engine.

    Scale shape: the model is the bigram-count table — one
    lead()-window per doc (partitioned by doc_id, never global) + one
    groupBy(w1,w2) shuffle; V and the unigram table come from the
    unigram pass. Scoring is a hash join of bigram INSTANCES against
    the bigram TYPE table (Zipf-bounded — types ≪ instances at corpus
    scale) + per-doc partial aggregation."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias(
            "pos", "w"
        ),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.withColumn("w2", F.lead("w").over(wd))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w", "w2")
    )
    c12 = big.groupBy("w", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    v = tok.agg(F.countDistinct("w").alias("v"))
    nll = (
        c12.join(c1, "w")
        .crossJoin(F.broadcast(v))
        .withColumn(
            "nll_micro",
            F.round(
                F.round(
                    -F.log(
                        (F.col("c12") + F.lit(1)).cast("double")
                        / (F.col("c1") + F.col("v")).cast("double")
                    ),
                    6,
                )
                * 1_000_000
            ).cast("bigint"),
        )
        .select("w", "w2", "nll_micro")
    )
    # SHUFFLE_HASH with the TYPE table as build side: without the hint
    # the optimizer broadcast the INSTANCE relation (smaller at fixture
    # scale, catastrophically wrong at corpus scale where instances ≫
    # types); a shuffled hash join partitions both sides on (w, w2) and
    # builds only the Zipf-bounded type partition.
    return big.join(nll.hint("SHUFFLE_HASH"), ["w", "w2"]).groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("nll_micro").alias("nll_micro_total"),
    )


_BIGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id,
    unnest(string_split(lower(trim(text)), ' ')) AS w,
    unnest(generate_series(1, len(string_split(lower(trim(text)), ' '))))
      AS pos
  FROM documents
), big AS (
  SELECT doc_id, w, w2 FROM (
    SELECT doc_id, w,
      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
  ) WHERE w2 IS NOT NULL
), c12 AS (
  SELECT w, w2, count(*) AS c12 FROM big GROUP BY w, w2
), c1 AS (
  SELECT w, count(*) AS c1 FROM tok GROUP BY w
), v AS (SELECT count(DISTINCT w) AS v FROM tok),
nll AS (
  SELECT w, w2,
    CAST(round(round(-ln(CAST(c12 + 1 AS DOUBLE)
                         / CAST(c1 + v AS DOUBLE)), 6)
               * 1000000) AS BIGINT) AS nll_micro
  FROM c12 JOIN c1 USING (w), v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(nll_micro) AS BIGINT) AS nll_micro_total
FROM big JOIN nll USING (w, w2)
GROUP BY doc_id
"""


def q_bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source — BPE tokens per 1000 characters
    with the vocabulary q_bpe_merges fits: the number that prices each
    source's context-window and compute cost (a high-fertility source
    burns budget on fragmented tokens; the multilingual-tokenizer-tax
    report, cf. the fertility tables in the BLOOM/XLM-R papers). Uses
    the SAME fitted vocabulary as bpe_encode_docs, aggregated to the
    source grain where the curation decision is made.

    Exactness: token and char counts are exact integers; fertility is
    one integer ppm-per-千-char division (tokens·1e9 div chars keeps
    three decimal places of tokens/1000 chars exactly).

    Scale shape: the Zipf-bounded vocabulary broadcasts; one exploded
    scan joins words to it and collapses per source; chars come from a
    map-only length() scan — text never shuffles."""
    _, vocab = _bpe_fit(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    toks = (
        words.join(F.broadcast(vocab.select("w", "s")), "w")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("s", " ")).cast("bigint")).alias(
                "n_bpe_tokens"
            )
        )
    )
    chars = docs.groupBy("source").agg(
        F.sum(
            F.length(F.lower(F.trim(F.col("text")))).cast("bigint")
        ).alias("n_chars")
    )
    return toks.join(chars, "source").select(
        "source",
        "n_bpe_tokens",
        "n_chars",
        F.expr(
            "n_bpe_tokens * 1000000000L div n_chars"
        ).alias("tokens_per_kchar_micro"),
    )


def _bpe_fertility_oracle(rounds: int) -> str:
    return (
        _bpe_prefix(rounds)
        + f"""
, toks AS (
  SELECT d.source,
    CAST(sum(len(string_split(v.s, ' '))) AS BIGINT) AS n_bpe_tokens
  FROM (SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents) d
  JOIN v{rounds + 1} v ON d.w = v.w
  GROUP BY d.source
), chars AS (
  SELECT source,
    CAST(sum(length(lower(trim(text)))) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
)
SELECT t.source, t.n_bpe_tokens, c.n_chars,
  CAST(t.n_bpe_tokens * 1000000000 // c.n_chars AS BIGINT)
    AS tokens_per_kchar_micro
FROM toks t JOIN chars c ON c.source = t.source
"""
    )


QUERIES = {
    "bpe_fertility_by_source": q_bpe_fertility_by_source,
    "perplexity_band_filter": q_perplexity_band_filter,
    "bigram_lm_score": q_bigram_lm_score,
    "bpe_merges": q_bpe_merges,
    "bpe_encode_docs": q_bpe_encode_docs,
    "unigram_lm_score": q_unigram_lm_score,
    "feature_hashing_bow": q_feature_hashing_bow,
}

ORACLES = {
    "bpe_fertility_by_source": _bpe_fertility_oracle(BPE_ROUNDS),
    "perplexity_band_filter": _PPL_BAND_ORACLE,
    "bigram_lm_score": _BIGRAM_ORACLE,
    "bpe_merges": _bpe_oracle(BPE_ROUNDS),
    "bpe_encode_docs": _bpe_encode_oracle(BPE_ROUNDS),
    "unigram_lm_score": _UNIGRAM_ORACLE,
    "feature_hashing_bow": _HASHING_ORACLE,
}
