"""Text-analysis operators over the ``documents`` table — the LLM-data-
pipeline surface (north star in BASELINE.json; absent from the reference,
SURVEY.md §2.2): token counting, quality scoring, language ID, document
fingerprinting.

All operators are pure built-in column expressions (split / filter /
size / md5 / regexp) — JVM-side, whole-stage-codegen, shuffle-free per
row. At 100 TB they are map-only over the documents scan; the only
shuffles are the final aggregations, which group on low-cardinality keys.

Determinism for the oracle gate: ratios are double divisions of exact
integers — identical in both engines; fingerprints are md5 (identical
algorithm in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_spread

#: tiny stopword list used by quality scoring (public-domain common words)
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

#: marker words per language for the n-gram/lexicon language-ID heuristic
LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "y", "de"],
    "de": ["der", "die", "das", "und", "nicht"],
}


def _tokens():
    return F.split(F.col("text"), " ")


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy: count of
    alphanumeric runs of length<=4 after splitting long words (regexp-based
    deterministic approximation of byte-pair segment counts)."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = _tokens()
    # BPE-ish proxy: every word contributes ceil(len/4) subword units.
    subwords = F.aggregate(
        F.transform(toks, lambda t: F.ceil(F.length(t) / F.lit(4.0)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars_measured"),
        subwords.cast("int").alias("n_subword_units"),
    )


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality features: length stats, stopword ratio,
    unique-token ratio, mean word length — the standard pre-training
    corpus filters (C4/Gopher-style rules, here as deterministic
    arithmetic)."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = _tokens()
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_uniq = F.size(F.array_distinct(toks))
    mean_wlen = (F.length("text") - (n_tok - 1)) / n_tok  # chars sans spaces / words
    stop_ratio = n_stop / n_tok
    uniq_ratio = n_uniq / n_tok
    # simple composite: long-enough, lexically diverse, not stopword-soup
    score = (
        F.least(n_tok / F.lit(50.0), F.lit(1.0)) * 0.4
        + uniq_ratio * 0.4
        + (1 - stop_ratio) * 0.2
    )
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        n_uniq.cast("int").alias("n_unique"),
        mean_wlen.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("unique_ratio"),
        score.alias("quality_score"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID: count marker-word hits per language,
    argmax with deterministic tiebreak (en > fr > es > de order), compare
    against the labeled ``lang`` column."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = _tokens()
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    pred = (
        F.when(
            (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"]),
            F.lit("en"),
        )
        .when(
            (scores["fr"] >= scores["es"]) & (scores["fr"] >= scores["de"]),
            F.lit("fr"),
        )
        .when(scores["es"] >= scores["de"], F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        pred.alias("lang_pred"),
        (pred == F.col("lang")).cast("int").alias("is_match"),
    )


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang-ID heuristic vs the labeled lang —
    the model-evaluation rollup (per (label, prediction): count and
    share-of-label ppm). One aggregation over the classifier's map-only
    scoring; the matrix is ≤ |langs|² rows."""
    from pyspark.sql import Window

    scored = q_text_lang_id(spark, sf_dir)
    cm = scored.groupBy(
        F.col("lang_label"), F.col("lang_pred")
    ).agg(F.count(F.lit(1)).alias("n"))
    label_tot = F.sum("n").over(Window.partitionBy("lang_label"))
    return cm.withColumn("lt", label_tot).select(
        "lang_label",
        "lang_pred",
        "n",
        F.expr("(n * 1000000) div lt").alias("share_of_label_ppm"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of normalized text (exact-dup key) plus
    md5 of the first-5-token prefix (cheap near-dup blocking key). md5 is
    bit-identical across engines, unlike engine-native hash functions."""
    docs = load_spread(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    prefix = F.array_join(F.slice(F.split(norm, " "), 1, 5), " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_full"),
        F.md5(prefix).alias("fp_prefix5"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word and duplicate-
    bigram fractions per document (templated/spammy text repeats n-grams;
    these two cheap ratios are the standard pre-training quality gates
    alongside q_text_quality_score's length/stopword heuristics).
    Map-only array expressions — no shuffle, no UDF."""
    docs = load_spread(spark, sf_dir, "documents")
    # token array materialized BEFORE the bigram lambda reads it — an
    # expression-valued array inside element_at is re-evaluated per
    # element (no CSE through lambda bodies), i.e. O(tokens^2) splits
    base = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks")
    )
    toks = F.col("toks")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return (
        base.select("doc_id", "toks", n.alias("n"), bigrams.alias("bg"))
        # n >= 2: Spark's sequence(1, 0) counts DOWN ([1,0]) instead of
        # returning empty — 1-token docs must never build the bigram list
        .filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("toks")) / F.col("n"), 6
            ).alias("dup_word_ratio"),
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("bg")) / (F.col("n") - 1), 6
            ).alias("dup_bigram_ratio"),
        )
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


def _marker_sql(lang: str) -> str:
    ms = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({ms})))"


def q_text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution entropy (bits): H = log2(n) -
    (1/n)·Σ c·log2(c) over word frequencies — the information-density
    quality signal that separates natural prose (high H) from templated
    or keyword-stuffed text (low H), complementing q_text_repetition's
    duplicate-fraction view of the same pathology.

    Plan: explode -> two hash aggregations keyed (doc_id, word) then
    doc_id — partial aggregation does the heavy lifting map-side, the
    exploded token stream itself is never shuffled unreduced beyond the
    first partial. Rounded 6dp: the Σ c·log2(c) double sum is
    aggregation-order-dependent only below 1e-12 here."""
    docs = load_spread(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    ).filter(F.col("w") != "")
    freq = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        freq.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.sum(F.col("c") * F.log2("c")).alias("t"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            "n_distinct_words",
            F.round(F.log2("n") - F.col("t") / F.col("n"), 6).alias(
                "word_entropy"
            ),
        )
    )


def q_text_top_ngram_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filter #3 (Rae et al. 2021): the fraction of
    characters covered by the MOST FREQUENT word bigram — templated spam
    repeats one phrase, which q_text_repetition's distinct-ratio can
    miss when the rest of the doc is varied.

    Plan shape: entirely map-only — the per-doc argmax runs INSIDE array
    expressions: sort the bigram array, then ONE aggregate() fold tracks
    the current run length and the best (count, bigram) seen, so equal
    bigrams are adjacent and counting is a single pass. 'Highest count,
    then lexicographically first' falls out of the sorted order (a tie
    never displaces the earlier = smaller bigram). No explode, no
    shuffle: at 100 TB this is one pass over the documents scan,
    O(k log k) per doc in the bigram count — safe for long documents
    (the naive count-each-distinct form is O(k²)).

    Coverage is exact integer ppm: (1e6 * count * len(bigram)) div
    len(normalized text) — truncating integer division agrees across
    engines on non-negatives."""
    docs = load_spread(spark, sf_dir, "documents")
    # same materialize-before-lambda discipline as q_text_repetition:
    # element_at over a raw split() expression re-splits per element
    base = docs.select(
        "doc_id",
        F.lower(F.trim(F.col("text"))).alias("norm"),
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
    )
    toks = F.col("toks")
    n = F.size(toks)
    bgs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    init = F.struct(
        F.lit("\x00init").alias("prev"),
        F.lit(0).cast("bigint").alias("cnt"),
        F.lit(0).cast("bigint").alias("best_cnt"),
        F.lit("").alias("best_bg"),
    )

    def step(acc, x):
        newcnt = F.when(x == acc["prev"], acc["cnt"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        better = newcnt > acc["best_cnt"]
        return F.struct(
            x.alias("prev"),
            newcnt.alias("cnt"),
            F.when(better, newcnt).otherwise(acc["best_cnt"]).alias(
                "best_cnt"
            ),
            F.when(better, x).otherwise(acc["best_bg"]).alias("best_bg"),
        )

    best = F.aggregate(F.array_sort(F.col("bgs")), init, step)
    return (
        base.select("doc_id", "norm", n.alias("n"), bgs.alias("bgs"))
        # n >= 2: same sequence(1, 0) guard as q_text_repetition
        .filter(F.col("n") >= 2)
        .select("doc_id", "norm", best.alias("best"))
        .select(
            "doc_id",
            F.col("best.best_bg").alias("top_bigram"),
            F.col("best.best_cnt").cast("bigint").alias("bg_count"),
            F.expr(
                "(1000000 * best.best_cnt * length(best.best_bg))"
                " div length(norm)"
            ).cast("bigint").alias("cover_ppm"),
        )
    )


_TOP_NGRAM_ORACLE = """
WITH t AS (
  SELECT doc_id, lower(trim(text)) AS norm,
    string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), bg AS (
  SELECT doc_id, norm,
    unnest(list_transform(generate_series(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM t WHERE len(toks) >= 2
), counted AS (
  SELECT doc_id, any_value(norm) AS norm, bg, count(*) AS cnt
  FROM bg GROUP BY doc_id, bg
), ranked AS (
  SELECT doc_id, norm, bg, cnt,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC)
      AS rn
  FROM counted
)
SELECT doc_id, bg AS top_bigram, CAST(cnt AS BIGINT) AS bg_count,
  CAST((1000000 * cnt * length(bg)) // length(norm) AS BIGINT)
    AS cover_ppm
FROM ranked WHERE rn = 1
"""


#: demo sentiment lexicon over the fixture's vocabulary (the pattern of
#: "Large Scale Sentiment Analysis on Twitter with Spark", EDBT 2016:
#: lexicon lookup + counting — swap in AFINN/VADER wordlists in prod)
SENT_POS = ["fast", "big"]
SENT_NEG = ["slow", "error", "small"]


def q_text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring: count positive/negative lexicon
    hits per document, polarity = (pos - neg) * 1e6 div n_tokens (exact
    integer ppm). The EDBT-2016 Spark-sentiment shape: the lexicon is a
    tiny broadcast-able set, the scan is map-only array filtering — no
    shuffle, no UDF, linear at any corpus size."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = _tokens()
    pos_arr = F.array(*[F.lit(w) for w in SENT_POS])
    neg_arr = F.array(*[F.lit(w) for w in SENT_NEG])
    n = F.size(toks)
    n_pos = F.size(F.filter(toks, lambda t: F.array_contains(pos_arr, t)))
    n_neg = F.size(F.filter(toks, lambda t: F.array_contains(neg_arr, t)))
    return docs.select(
        "doc_id",
        n_pos.cast("int").alias("n_pos"),
        n_neg.cast("int").alias("n_neg"),
        F.expr(
            f"(size(filter(split(text, ' '), "
            f"t -> array_contains(array({','.join(repr(w) for w in SENT_POS)}), t))) - "
            f"size(filter(split(text, ' '), "
            f"t -> array_contains(array({','.join(repr(w) for w in SENT_NEG)}), t)))) "
            f"* 1000000 div size(split(text, ' '))"
        ).cast("bigint").alias("polarity_ppm"),
    )


_SENTIMENT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id, len(toks) AS n,
    len(list_filter(toks, x -> list_contains({SENT_POS!r}, x))) AS np,
    len(list_filter(toks, x -> list_contains({SENT_NEG!r}, x))) AS nn
  FROM t
)
SELECT doc_id, CAST(np AS INTEGER) AS n_pos, CAST(nn AS INTEGER) AS n_neg,
  -- Spark `div` truncates toward zero; DuckDB // floors. Polarity can
  -- be negative, so mirror truncation sign-explicitly.
  CAST(CASE WHEN np >= nn THEN (np - nn) * 1000000 // n
            ELSE -((nn - np) * 1000000 // n) END AS BIGINT)
    AS polarity_ppm
FROM c
"""


KWIC_TERM = "slow"
KWIC_WIDTH = 2  # context tokens each side


def q_text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance for one term: every occurrence
    with its ±2-token context windows — the corpus-inspection tool
    linguists and data auditors run before deciding a filter rule
    ("how is this word actually used?"). posexplode gives (position,
    token); the context is a slice of the SAME materialized token
    array (lambda-CSE rule: the array is a column before slicing).
    Positions are 1-based to match SQL ordinality. Map-only explode —
    output rows = term frequency, not corpus size."""
    docs = load_spread(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks")
    )
    hits = base.select(
        "doc_id",
        "toks",
        F.posexplode("toks").alias("pos0", "tok"),
    ).filter(F.col("tok") == KWIC_TERM)
    pos = F.col("pos0") + 1  # 1-based
    left = F.array_join(
        F.slice(
            F.col("toks"),
            F.greatest(F.lit(1), pos - KWIC_WIDTH),
            F.least(F.lit(KWIC_WIDTH), pos - 1),
        ),
        " ",
    )
    right = F.array_join(
        F.slice(F.col("toks"), pos + 1, F.lit(KWIC_WIDTH)), " "
    )
    return hits.select(
        "doc_id",
        pos.cast("int").alias("pos"),
        left.alias("left_ctx"),
        right.alias("right_ctx"),
    )


_KWIC_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), hits AS (
  SELECT doc_id, toks, CAST(u.i AS INTEGER) AS pos
  FROM t, unnest(generate_series(1, len(t.toks))) AS u(i)
  WHERE toks[u.i] = '{KWIC_TERM}'
)
SELECT doc_id, pos,
  coalesce(array_to_string(
    list_slice(toks, greatest(1, pos - {KWIC_WIDTH}), pos - 1), ' '), '')
    AS left_ctx,
  coalesce(array_to_string(
    list_slice(toks, pos + 1, pos + {KWIC_WIDTH}), ' '), '') AS right_ctx
FROM hits
"""


READABILITY_COMPLEX_PPM = 1_900_000  # > 1.9 vowel groups per word


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability proxy per document: syllables approximated as vowel
    GROUPS (maximal [aeiou]+ runs — the standard cheap estimator; runs
    cannot span the space-separated tokens, so whole-text extraction
    equals per-word counting), reported as exact integer syllables-
    per-word ppm with a complexity flag. The Flesch-style float formula
    is deliberately NOT emitted — the ratio in truncated ppm carries
    the same ordering with zero cross-engine float risk. Map-only
    regexp_extract_all + size: zero shuffle at any scale; the regex is
    a plain character class, identical under Java regex and RE2."""
    docs = load_spread(spark, sf_dir, "documents")
    words = F.size(_tokens())
    syll = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[aeiou]+"), F.lit(0)
        )
    )
    out = docs.select(
        "doc_id",
        words.cast("int").alias("n_words"),
        syll.cast("int").alias("n_syllables"),
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[aeiou]+', 0))"
            " AS BIGINT) * 1000000 div size(split(text, ' '))"
        ).alias("syl_per_word_ppm"),
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "syl_per_word_ppm",
        (F.col("syl_per_word_ppm") > READABILITY_COMPLEX_PPM).alias(
            "is_complex"
        ),
    )


_READABILITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
    CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
      AS INTEGER) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_syllables,
  CAST(n_syllables AS BIGINT) * 1000000 // n_words AS syl_per_word_ppm,
  CAST(n_syllables AS BIGINT) * 1000000 // n_words
    > {READABILITY_COMPLEX_PPM} AS is_complex
FROM t
"""


QUERIES = {
    "text_kwic": q_text_kwic,
    "text_readability": q_text_readability,
    "text_sentiment_lexicon": q_text_sentiment_lexicon,
    "text_top_ngram_cover": q_text_top_ngram_cover,
    "text_word_entropy": q_text_word_entropy,
    "text_repetition": q_text_repetition,
    "text_token_count": q_text_token_count,
    "text_quality_score": q_text_quality_score,
    "text_lang_id": q_text_lang_id,
    "lang_id_confusion": q_lang_id_confusion,
    "doc_fingerprint": q_doc_fingerprint,
}

ORACLES = {
    "text_kwic": _KWIC_ORACLE,
    "text_readability": _READABILITY_ORACLE,
    "text_sentiment_lexicon": _SENTIMENT_ORACLE,
    "text_top_ngram_cover": _TOP_NGRAM_ORACLE,
    "lang_id_confusion": f"""
WITH s AS (
  SELECT doc_id, lang,
    {_marker_sql('en')} AS c_en,
    {_marker_sql('fr')} AS c_fr,
    {_marker_sql('es')} AS c_es,
    {_marker_sql('de')} AS c_de
  FROM documents
), scored AS (
  SELECT lang AS lang_label,
    CASE WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
         WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
         WHEN c_es >= c_de THEN 'es'
         ELSE 'de' END AS lang_pred
  FROM s
), cm AS (
  SELECT lang_label, lang_pred, count(*) AS n FROM scored GROUP BY 1, 2
)
SELECT lang_label, lang_pred, n,
  CAST((n * 1000000) // sum(n) OVER (PARTITION BY lang_label) AS BIGINT)
    AS share_of_label_ppm
FROM cm
""",
    "text_word_entropy": """
WITH w AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), f AS (
  SELECT doc_id, w, count(*) AS c FROM w WHERE w <> '' GROUP BY 1, 2
)
SELECT doc_id,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  count(*) AS n_distinct_words,
  round(log2(CAST(sum(c) AS DOUBLE)) - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 6)
    AS word_entropy
FROM f
GROUP BY doc_id
""",
    "text_repetition": """
WITH t AS (
  SELECT doc_id,
    string_split(lower(trim(text)), ' ') AS toks,
    len(string_split(lower(trim(text)), ' ')) AS n
  FROM documents
)
SELECT doc_id,
  CAST(n AS INTEGER) AS n_tokens,
  round(1.0 - len(list_distinct(toks)) / CAST(n AS DOUBLE), 6) AS dup_word_ratio,
  round(1.0 - len(list_distinct(list_transform(generate_series(1, n - 1),
      i -> toks[i] || ' ' || toks[i + 1]))) / CAST(n - 1 AS DOUBLE), 6)
    AS dup_bigram_ratio
FROM t WHERE n >= 2
""",
    "text_token_count": """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  CAST(length(text) AS INTEGER) AS n_chars_measured,
  CAST(list_sum(list_transform(string_split(text, ' '),
       t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS INTEGER) AS n_subword_units
FROM documents
""",
    "text_quality_score": f"""
WITH t AS (
  SELECT doc_id, text,
    len(string_split(text, ' ')) AS n_tok,
    len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) AS n_stop,
    len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
)
SELECT doc_id,
  CAST(n_tok AS INTEGER) AS n_tokens,
  CAST(n_uniq AS INTEGER) AS n_unique,
  (length(text) - (n_tok - 1)) / CAST(n_tok AS DOUBLE) AS mean_word_len,
  n_stop / CAST(n_tok AS DOUBLE) AS stopword_ratio,
  n_uniq / CAST(n_tok AS DOUBLE) AS unique_ratio,
  least(n_tok / 50.0, 1.0) * 0.4
    + (n_uniq / CAST(n_tok AS DOUBLE)) * 0.4
    + (1 - n_stop / CAST(n_tok AS DOUBLE)) * 0.2 AS quality_score
FROM t
""",
    "text_lang_id": f"""
WITH s AS (
  SELECT doc_id, lang,
    {_marker_sql('en')} AS c_en,
    {_marker_sql('fr')} AS c_fr,
    {_marker_sql('es')} AS c_es,
    {_marker_sql('de')} AS c_de
  FROM documents
)
SELECT doc_id, lang AS lang_label,
  CASE WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
       WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
       WHEN c_es >= c_de THEN 'es'
       ELSE 'de' END AS lang_pred,
  CAST(CASE WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
       WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
       WHEN c_es >= c_de THEN 'es'
       ELSE 'de' END = lang AS INTEGER) AS is_match
FROM s
""",
    "doc_fingerprint": """
SELECT doc_id,
  md5(lower(trim(text))) AS fp_full,
  md5(array_to_string(list_slice(string_split(lower(trim(text)), ' '), 1, 5), ' ')) AS fp_prefix5
FROM documents
""",
}
