"""LLM training-data preparation operators — the pipeline stages between
a raw crawled corpus and a tokenizer-ready dataset (north star in
BASELINE.json; entirely absent from the reference, whose surface is the
numeric tokenize pipeline of SURVEY.md §2.1). Four subjects:

- cleaning and packing: PII redaction, HTML stripping, URL
  canonicalization, train/eval decontamination, sequence packing and
  length bucketing, salient terms, per-group sampling and mixing,
  shard manifests, int8 embedding quantization;
- chunking, standardization and filtering: overlapping and
  chunk-level dedup, z-score features, salted two-phase aggregation,
  quality and blocklist gates, incremental (bloom) dedup, negative
  sampling;
- corpus ordering and duplicate bookkeeping: global shuffle,
  survivorship, temperature mixing, winnowing, cross-source overlap;
- selection and planning: DSIR weights, content-defined chunks,
  truncation and context-length reports, curriculum stages, watermark
  scan, greedy max-cover, quota apportionment, LSH planning, span
  corruption.

Scale design (100 TB):
- most lanes are map-only column expressions over the split token array
  (``_words``) — shuffle-free stages that trivially scale out; the rest
  add one shuffle keyed on a document, a digest or a small group.
- decontaminate shuffles only (doc_id, shingle) pairs — never document
  text — and the eval side (a few % of the corpus) is broadcast, so the
  contamination check is a map-side hash probe per shingle.
- sequence_packing is the one genuinely sequential op (greedy first-fit
  depends on every earlier document); it is sequential PER SOURCE only,
  so `applyInPandas` gives per-group parallelism — the standard way LLM
  pipelines shard packing (one worker per shard, deterministic order
  within a shard).

Determinism for the oracle gate: scores avoid transcendental functions
or quantize their one float (pow, ln) to micro-units on both engines
before any downstream arithmetic, so every later sum, comparison and
division is exact integer arithmetic; hashes are md5-prefix integers
(``_md5_int``), portable across engines; ranking happens on quantized
integer scores so last-ulp differences cannot reorder ties.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events, load_spread, load_table


def _words() -> Column:
    """A document's normalized word split: lower-cased, trimmed, cut on
    single spaces. Every lane that counts, shingles or hashes words
    reads this one split."""
    return F.split(F.lower(F.trim(F.col("text"))), " ")


def _md5_int(sql: str, hex_digits: int = 8, to: str = "bigint") -> str:
    """Spark SQL for the first ``hex_digits`` hex digits of md5(``sql``)
    read as an integer of type ``to``: the engine-portable hash the
    lanes below key shards, buckets and masks on (DuckDB spells it
    ``('0x' || substr(md5(..), 1, n))::BIGINT``)."""
    return f"cast(conv(substring(md5({sql}), 1, {hex_digits}), 16, 10) as {to})"


# ---------------------------------------------------------------------------
# Cleaning, packing, sampling, mixing and sharding
# ---------------------------------------------------------------------------

#: regexes shared verbatim by Spark (Java regex) and DuckDB (RE2) — the
#: subset syntax below parses identically in both.
RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
RE_NUMBER_RUN = "[0-9]{2,}"

#: token budget per packed training sequence
PACK_BUDGET = 64

#: every doc_id ending in 00..04 is "eval"; the rest are "train"
EVAL_MOD = 100
EVAL_CUT = 5

TOP_TERMS = 3
GROUP_SAMPLE_N = 5


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub PII-shaped substrings from free text: emails -> <EMAIL>,
    multi-digit runs (phone/account/ip fragments) -> <NUM>. Runs over
    ``events.props`` (the fixture's only digit-bearing text; the word-soup
    ``documents.text`` has none — the email lane is exercised by the unit
    test's inline frame). Map-only regexp_replace, whole-stage codegen;
    at 100 TB this is a pure scan-transform with zero shuffle."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.regexp_replace(
            F.regexp_replace(F.col("props"), RE_EMAIL, "<EMAIL>"),
            RE_NUMBER_RUN,
            "<NUM>",
        ).alias("clean_props"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit(RE_NUMBER_RUN), F.lit(0)))
        .cast("int")
        .alias("n_number_runs"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit(RE_EMAIL), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag train documents sharing any word
    trigram with the eval split (doc_id % 100 < 5). The LLM-pipeline
    guard against benchmark leakage (memorized eval answers inside
    training text).

    Physical shape: both sides explode to (doc_id, shingle) — text never
    leaves the scan — and the eval side is a few percent of the corpus,
    so its distinct shingle set broadcasts; the probe is a map-side hash
    semi-join followed by one count-distinct shuffle on train doc_id."""
    docs = load_spread(spark, sf_dir, "documents")
    # materialize the token array ONCE per row before the lambda uses it:
    # a split() expression referenced inside transform()'s element_at
    # lambdas is re-evaluated per element (no CSE across higher-order
    # lambda bodies), turning an O(tokens) projection into O(tokens^2) —
    # measured 5.8 s -> ~1 s on the sf0.1 explode
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % EVAL_MOD < EVAL_CUT).alias("is_eval"),
        _words().alias("toks"),
    )
    toks = F.col("toks")
    # guard: Spark sequence(1, n) counts DOWN when n < 1, and element_at
    # past the end throws under ANSI — docs with < 3 tokens contribute no
    # trigrams at all (explode of the empty array drops the row, matching
    # the oracle's empty generate_series)
    tris = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = base.select(
        "doc_id", "is_eval", F.explode(tris).alias("shingle")
    )
    evals = shingled.filter("is_eval").select("shingle").distinct()
    train = shingled.filter(~F.col("is_eval"))
    return (
        train.join(F.broadcast(evals), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").cast("bigint").alias("n_shared_shingles"))
    )


def _pack_fn(budget: int):
    """Greedy first-fit fold over one source shard, doc_id order."""
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, fills = [], []
        pack_id, fill = 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill > 0 and fill + t > budget:
                pack_id += 1
                fill = 0
            fill += t
            pack_ids.append(pack_id)
            fills.append(fill)
        pdf["pack_id"] = pd.array(pack_ids, dtype="int32")
        pdf["pack_fill_after"] = pd.array(fills, dtype="int32")
        return pdf

    return pack


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit sequence packing: within each source shard, walk
    documents in doc_id order and append to the current pack while the
    whitespace-token total stays <= PACK_BUDGET; else start a new pack.
    (An over-budget single document occupies a pack alone.) The standard
    pre-training step that concatenates short documents into fixed-size
    context windows.

    Inherently sequential per shard -> ``applyInPandas`` per source (the
    unit of parallelism real packing jobs use); emits (doc_id, pack_id,
    n_tokens, pack_fill_after). Oracle: per-source recursive CTE
    replaying the same fold."""
    docs = load_spread(spark, sf_dir, "documents")
    with_tok = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tokens")
    )
    return (
        with_tok.groupBy("source")
        .applyInPandas(
            _pack_fn(PACK_BUDGET),
            "doc_id bigint, source string, n_tokens int, pack_id int, pack_fill_after int",
        )
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms: tf * BM25-ish idf, top-3 per doc.
    idf = (N - df + 0.5) / (df + 0.5) — deliberately log-free so the
    score is a single IEEE division of exact integers (bit-identical in
    both engines; ln() differs by ulps between JVM and libm). Ranking
    runs on the micro-unit-quantized integer score, so cross-engine tie
    order is pinned.

    Physical shape: one explode + two hash aggregations (tf on
    (doc_id, term), df on term); df output is tiny (vocabulary) and
    broadcasts back onto tf; the ranking window shuffles on doc_id."""
    docs = load_spread(spark, sf_dir, "documents")
    n_docs = docs.count()  # parquet metadata count — the cheap "fit"
    terms = docs.select(
        "doc_id", F.explode(_words()).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("score_mu"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_mu").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "rank", "term", "score_mu")
    )


def q_group_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-N sample per source: rank by md5(doc_id) (a
    uniform, partition-layout-invariant order) and keep the first
    GROUP_SAMPLE_N rows of each source. The per-shard "inspect a handful
    of examples" op; re-runs and cluster layout cannot change the
    sample. Single narrow window shuffle on the source key."""
    docs = load_spread(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= GROUP_SAMPLE_N)
        .select("source", "rk", "doc_id", "lang")
    )


#: target language mixture for rebalancing, in integer weight units
#: (sums to MIX_DENOM). The DoReMi/pretraining-recipe shape: the corpus
#: is resampled so each group contributes a FIXED share of the output,
#: regardless of its share of the crawl.
TARGET_MIX = {"en": 5, "zh": 2, "es": 1, "fr": 1, "de": 1}
MIX_DENOM = sum(TARGET_MIX.values())
_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in TARGET_MIX.items())


def q_source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing — the data-mixing step every pretraining corpus
    goes through: subsample each language to TARGET_MIX proportions,
    taking the largest feasible total (exact integer arithmetic:
    T = min_g floor(n_g * DENOM / w_g), quota_g = floor(T * w_g / DENOM),
    so no group is over-drawn and the realized mix is within 1 row of
    target). Selection is the md5-ranked prefix per group —
    deterministic, partition-layout-invariant, re-runnable.

    Plan: one tiny per-group count aggregate -> broadcast quota join ->
    per-group ranked filter. The rank window partitions by lang, which is
    exact and oracle-grade at fixture scale; at 100 TB a single language
    is billions of rows, so the scale swap is threshold-on-hash selection
    (keep rows whose md5 sorts below quota_g/n_g of the keyspace — pure
    map-side, quota approximate to sampling error) or a two-phase
    per-partition offset rank. Same broadcast-quota skeleton either way."""
    docs = load_spread(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        list(TARGET_MIX.items()), "lang string, wt int"
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n")).join(
        F.broadcast(weights), "lang"
    )
    t = counts.agg(
        F.min(F.expr(f"n * {MIX_DENOM} div wt")).alias("t")
    )
    quota = counts.join(F.broadcast(t)).select(
        "lang", F.expr(f"t * wt div {MIX_DENOM}").alias("q")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("int"))
        .join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("q"))
        .select("lang", "rk", "doc_id", "source")
    )


def mix_rebalance_hash_threshold(
    docs: DataFrame, mix: dict[str, int] | None = None, group_col: str = "lang"
) -> DataFrame:
    """The 100 TB form of q_source_mix_rebalance: instead of ranking
    every row inside its group (one reducer per group — a single language
    is billions of rows), keep a row iff its md5 falls below the group's
    keep-fraction of the hex keyspace. Pure map-side selection after a
    broadcast of per-group quotas; realized quota is approximate to
    hash-uniformity error (~sqrt(q) rows), which is what production mixes
    accept in exchange for a shuffle-free plan. Same exact integer quota
    arithmetic as the rank-based form.

    The md5-prefix threshold compares the first 15 hex chars as a 60-bit
    integer against floor(keep_frac * 16^15) — string comparison against
    a computed literal would mis-handle uneven hex prefixes."""
    mix = mix if mix is not None else TARGET_MIX
    denom = sum(mix.values())
    spark = docs.sparkSession
    weights = spark.createDataFrame(list(mix.items()), f"{group_col} string, wt int")
    counts = docs.groupBy(group_col).agg(F.count("*").alias("n")).join(
        F.broadcast(weights), group_col
    )
    t = counts.agg(F.min(F.expr(f"n * {denom} div wt")).alias("t"))
    quota = counts.join(F.broadcast(t)).select(
        group_col,
        "n",
        F.expr(f"t * wt div {denom}").alias("q"),
    )
    keyspace = 16 ** 15  # 60-bit md5 prefix
    thresh = quota.select(
        group_col,
        (F.col("q").cast("double") / F.col("n").cast("double") * F.lit(float(keyspace)))
        .cast("bigint")
        .alias("cut"),
    )
    key = F.expr(_md5_int("CAST(doc_id AS STRING)", 15))
    return (
        docs.join(F.broadcast(thresh), group_col)
        .filter(key < F.col("cut"))
        .select(group_col, "doc_id", "source")
    )


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale). The storage/serving compression step for
    embedding corpora (4x smaller, dot products in int arithmetic).
    Map-only array expressions (transform / array_max / round) —
    shuffle-free at any scale. Scale and max reconstruction error are
    reported in micro-units (exact integers; the doubles they quantize
    are bit-identical across engines: |x|, max, one division).

    The q8 vector is emitted as one comma-joined string: external
    harnesses canonicalize results via pandas sorting, where Python
    lists are unhashable — and a CSV of small ints is also the compact
    wire form for a quantized-embedding EXPORT surface. (A downstream
    Spark consumer keeps the array form: stop before this select.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    # dv and scale materialized as COLUMNS before the quantize lambdas
    # read them: an expression referenced inside a lambda body is
    # re-evaluated per element (the lambda-CSE lesson), which would make
    # the scale (itself an O(dim) array_max) O(dim²) per row
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
    dv = F.col("dv")
    scale = F.col("scale")
    q = F.transform(dv, lambda x: F.round(x / scale).cast("int"))
    # max |x - q*scale| over the vector, in micro-units
    err = F.array_max(
        F.zip_with(dv, q, lambda x, qi: F.abs(x - qi.cast("double") * scale))
    )
    return base.select(
        "vec_id",
        F.round(scale * F.lit(1_000_000.0)).cast("bigint").alias("scale_mu"),
        F.array_join(
            F.transform(q, lambda x: x.cast("string")), ","
        ).alias("q8"),
        F.round(err * F.lit(1_000_000.0)).cast("bigint").alias("max_err_mu"),
    )


#: documents per training batch within a length bucket
LENGTH_BATCH_SIZE = 8


def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching — the padding-efficiency complement to
    q_sequence_packing: instead of concatenating short docs, group docs
    of SIMILAR length into fixed-size batches so per-batch padding to
    the batch max wastes little compute (the standard dataloader trick
    for variable-length training).

    Buckets are powers of two of the whitespace-token count
    (bucket = ceil(log2(n))); within a bucket, docs are batched
    LENGTH_BATCH_SIZE at a time in doc_id order. Per batch the query
    reports the padding waste it would pay — exact integer ppm of
    (batch_size * max_tokens - sum_tokens) / (batch_size * max_tokens).

    Scale shape: one shuffle on the bucket key for the ordering window;
    everything else is per-batch aggregation. At 100 TB you'd
    repartitionByRange on (bucket, doc_id) so each output shard holds
    whole batches."""
    docs = load_spread(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    with_b = docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        F.ceil(F.log2(n_tok)).cast("int").alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    batched = with_b.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / LENGTH_BATCH_SIZE)
        .cast("int"),
    )
    return batched.groupBy("bucket", "batch_id").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.expr(
            "1000000 * (count(*) * max(n_tokens) - sum(n_tokens))"
            " div (count(*) * max(n_tokens))"
        ).cast("bigint").alias("pad_waste_ppm"),
    )


_LENGTH_BUCKET_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(ceil(log2(len(string_split(text, ' ')))) AS INTEGER) AS bucket
  FROM documents
), b AS (
  SELECT doc_id, n_tokens, bucket,
    CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
      // {LENGTH_BATCH_SIZE} AS INTEGER) AS batch_id
  FROM t
)
SELECT bucket, batch_id, CAST(count(*) AS INTEGER) AS n_docs,
  max(n_tokens) AS max_tokens,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(1000000 * (count(*) * max(n_tokens) - sum(n_tokens))
    // (count(*) * max(n_tokens)) AS BIGINT) AS pad_waste_ppm
FROM b GROUP BY bucket, batch_id
"""


def q_html_strip_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal — the first stage of every crawled-text
    pretraining pipeline (strip markup, unescape entities, normalize
    whitespace) with a per-doc losslessness audit. The fixture corpus is
    plain text, so the markup column is STAGED deterministically (body
    wrap + a <b> tag around every ' the ' + an &amp; entity for ' and '
    + a footer div) — the staging is part of the query on BOTH engines,
    so the strip pipeline is value-verified end-to-end: clean output
    must equal the independently-computed expected text, and
    retained_ppm audits how much of the raw markup survives.

    Entirely map-only regexp/replace (whole-stage codegen, zero
    shuffle): the 100 TB shape is a pure scan-transform. The tag regex
    '<[^>]*>' and the explicit whitespace class are chosen to behave
    identically under Java regex (Spark) and RE2 (DuckDB oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body><p>'),
        F.replace(
            F.replace(F.col("text"), F.lit(" the "), F.lit(" <b>the</b> ")),
            F.lit(" and "),
            F.lit(" &amp; "),
        ),
        F.lit('</p><div class="footer">(c) '),
        F.col("source"),
        F.lit("</div></body></html>"),
    )
    no_tags = F.regexp_replace(html, r"<[^>]*>", " ")
    unesc = F.replace(
        F.replace(
            F.replace(no_tags, F.lit("&amp;"), F.lit("&")),
            F.lit("&lt;"),
            F.lit("<"),
        ),
        F.lit("&gt;"),
        F.lit(">"),
    )
    clean = F.trim(F.regexp_replace(unesc, "[ \t\n\r]+", " "))
    expected = F.trim(
        F.regexp_replace(
            F.concat(
                F.replace(F.col("text"), F.lit(" and "), F.lit(" & ")),
                F.lit(" (c) "),
                F.col("source"),
            ),
            "[ \t\n\r]+",
            " ",
        )
    )
    df = docs.select(
        "doc_id",
        html.alias("_html"),
        clean.alias("clean_text"),
        expected.alias("_expected"),
    )
    return df.select(
        "doc_id",
        "clean_text",
        (F.col("clean_text") == F.col("_expected")).alias("is_lossless"),
        F.expr("length(clean_text) * 1000000L div length(_html)").alias(
            "retained_ppm"
        ),
    )


TOP_P_NUM, TOP_P_DEN = 8, 10  # keep the top-80% token mass per source


def q_top_p_source_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) corpus selection per source: rank documents by
    lexical richness (distinct-token count — an exact integer, so the
    order is bit-stable), then keep the SHORTEST prefix covering 80% of
    the source's token mass. The curation move that trims each source's
    low-quality tail without a hand-tuned absolute threshold — budget
    adapts to every source's own distribution (the same reasoning as
    nucleus sampling in decoding).

    Membership is pure integer arithmetic: a doc is kept iff the mass
    BEFORE it is still under p·total (DEN·cum_before < NUM·total), so
    the boundary doc that crosses the threshold is included and
    everything after is dropped — no division anywhere. Plan: one
    groupBy for per-source totals (broadcast back), one windowed
    cumulative sum partitioned by source — one shuffle each, state
    bounded per source group."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _words()
    feat = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
    )
    totals = feat.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_uniq"), "doc_id"
    )
    ranked = feat.join(F.broadcast(totals), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        "n_uniq",
        "total_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        F.row_number().over(w).cast("int").alias("sel_rank"),
    )
    return ranked.filter(
        TOP_P_DEN * (F.col("cum_tokens") - F.col("n_tokens"))
        < TOP_P_NUM * F.col("total_tokens")
    ).select(
        "doc_id", "source", "n_tokens", "n_uniq", "sel_rank",
        "cum_tokens", "total_tokens",
    )


_TOP_P_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, source,
    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(string_split(lower(trim(text)), ' '))) AS BIGINT)
      AS n_uniq
  FROM documents
), totals AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM feat GROUP BY source
), ranked AS (
  SELECT f.doc_id, f.source, f.n_tokens, f.n_uniq, t.total_tokens,
    CAST(sum(f.n_tokens) OVER (PARTITION BY f.source
      ORDER BY f.n_uniq DESC, f.doc_id) AS BIGINT) AS cum_tokens,
    CAST(row_number() OVER (PARTITION BY f.source
      ORDER BY f.n_uniq DESC, f.doc_id) AS INTEGER) AS sel_rank
  FROM feat f JOIN totals t ON f.source = t.source
)
SELECT doc_id, source, n_tokens, n_uniq, sel_rank, cum_tokens, total_tokens
FROM ranked
WHERE {TOP_P_DEN} * (cum_tokens - n_tokens) < {TOP_P_NUM} * total_tokens
"""


N_SHARDS = 8


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: every doc deterministically assigned to
    one of 8 shards by md5(doc_id) (partition-layout-invariant — the
    same doc lands in the same shard on any cluster), with per-shard
    row/token/char totals AND a content fingerprint = the SUM of each
    doc id's folded md5 (first 15 hex digits mod 2^31-1). The manifest
    is what makes a training run reproducible and auditable: re-run the
    query, compare fingerprints, know nothing moved. The multiset-sum
    form is the scale-correct fingerprint: it is order-independent by
    algebra (commutative sum), partial-aggregatable map-side, and holds
    O(1) state per shard — the previous md5-of-sorted-id-list form
    collected EVERY doc id in the shard into one aggregation-buffer
    array (corpus/8 ids in a single row at 100 TB). Shuffle keys are
    the shard id (8 groups)."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.expr(f"{_md5_int('CAST(doc_id AS STRING)', 4, 'int')} % {N_SHARDS}")
    toks = F.size(_words())
    per_doc = docs.select(
        shard.alias("shard_id"),
        "doc_id",
        toks.cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return per_doc.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(
            F.expr(f"pmod({_md5_int('CAST(doc_id AS STRING)', 15)}, 2147483647)")
        ).alias("content_fingerprint"),
    )


_SHARD_ORACLE = f"""
WITH per_doc AS (
  SELECT
    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER)
      % {N_SHARDS} AS shard_id,
    doc_id,
    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
    CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT shard_id, count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(sum((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
    % 2147483647) AS BIGINT) AS content_fingerprint
FROM per_doc GROUP BY 1
"""


def q_url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier step that
    collapses tracking-parameter variants of one page (utm_*, session
    ids) into a canonical form BEFORE fetch/dedup budgets are spent.
    The fixture has no URL column, so the staged URL is built
    deterministically on BOTH engines (host from source, path from
    doc_id, a utm_source and a ref fragment injected), making the
    canonicalizer value-verified end-to-end: lowercase host, strip the
    fragment, drop utm_* params, collapse duplicate slashes. Output:
    per canonical URL, variant count and min doc_id (the keeper) —
    variants > 1 proves the collapse did work. Map-only regexp chain +
    one digest-keyed groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    staged = F.concat(
        F.lit("https://WWW.Example.com//doc/"),
        # two doc ids map to one page: the dup the canonicalizer
        # must surface (id div 2 = page id)
        F.expr("CAST(doc_id div 2 AS STRING)"),
        F.lit("?utm_source=feed&id="),
        F.expr("CAST(doc_id div 2 AS STRING)"),
        F.lit("&utm_campaign=x#ref"),
    )
    no_frag = F.regexp_replace(staged, r"#.*$", "")
    no_utm = F.regexp_replace(no_frag, r"utm_[a-z]+=[^&]*&?", "")
    tidy_q = F.regexp_replace(no_utm, r"[?&]$", "")
    # lowercase scheme+host; collapse duplicate slashes in the PATH
    # only (the scheme's // must survive, so host splits off first)
    host = F.lower(F.regexp_extract(tidy_q, r"^https://([^/]*)", 0))
    rest = F.regexp_replace(tidy_q, r"^https://[^/]*", "")
    canon = F.concat(host, F.regexp_replace(rest, r"//", "/"))
    return (
        docs.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


_URL_CANON_ORACLE = """
WITH staged AS (
  SELECT doc_id,
    'https://WWW.Example.com//doc/' ||
    CAST(doc_id // 2 AS VARCHAR) || '?utm_source=feed&id=' ||
    CAST(doc_id // 2 AS VARCHAR) || '&utm_campaign=x#ref' AS url
  FROM documents
), c AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(url, '#.*$', ''),
        'utm_[a-z]+=[^&]*&?', '', 'g'),
      '[?&]$', '') AS u1
  FROM staged
), canon AS (
  SELECT doc_id,
    lower(regexp_extract(u1, '^https://([^/]*)', 0)) ||
    regexp_replace(
      regexp_replace(u1, '^https://[^/]*', ''), '//', '/', 'g')
      AS canonical_url
  FROM c
)
SELECT canonical_url, count(*) AS n_variants,
  min(doc_id) AS keeper_doc_id
FROM canon GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Chunking, standardization, quality gates and incremental dedup
# ---------------------------------------------------------------------------

#: chunk window / stride, in whitespace tokens (fixture docs average ~50
#: tokens, so each doc yields a handful of overlapping chunks)
CHUNK_TOKENS = 16
CHUNK_STRIDE = 12

#: salt fan-out for the two-phase aggregation
SALT_BUCKETS = 16


def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping token windows: starts at
    1, 1+stride, 1+2*stride, ... <= n_tokens; each chunk keeps up to
    CHUNK_TOKENS tokens. Emits (doc_id, chunk_idx, chunk_start,
    n_chunk_tokens, chunk_text).

    Physical shape: sequence+posexplode+slice inside the scan stage —
    a pure map-side 1-to-N expansion with zero shuffle at any scale
    (the chunker every embedding/RAG pipeline runs before encoding)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _words()
    exploded = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(
            F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE))
        ).alias("chunk_idx", "s"),
    )
    chunk = F.slice(F.col("toks"), F.col("s"), CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("s").cast("int").alias("chunk_start"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# lineitem measures standardized by the z-score transform, with the
# centi-unit scale that makes their sums exact integers (fixture values
# carry at most 2 decimals)
_Z_COLS = ["l_quantity", "l_extendedprice"]


def q_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization of lineitem measures — the numeric
    feature-scaling twin of the reference's quantile tokenizer (same
    fit/transform shape as etl_benchmark.py:74,79: one reduction produces
    per-column state, then a map-only transform applies it).

    Exactness engineering: values are 2-decimal fixed-point, so the fit
    sums centi-unit BIGINTs (and decimal(38,0) squares) — exact in any
    aggregation order. mean/stddev then come from ONE identical double
    expression over those exact integers in both engines, and the
    per-row z-score is emitted in micro-units so the comparison is
    integer equality."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n")]
    for c in _Z_COLS:
        cc = F.round(F.col(c) * 100).cast("bigint")
        aggs.append(F.sum(cc).alias(f"s_{c}"))
        aggs.append(
            F.sum((cc.cast("decimal(19,0)") * cc.cast("decimal(19,0)"))).alias(f"ss_{c}")
        )
    stats = li.agg(*aggs)
    out = li.join(F.broadcast(stats))  # 1-row stats: map-only enrich
    cols = [F.col("l_orderkey"), F.col("l_linenumber")]
    for c in _Z_COLS:
        xc = F.round(F.col(c) * 100).cast("bigint").cast("double")
        n = F.col("n").cast("double")
        mean = F.col(f"s_{c}").cast("double") / n
        var = (F.col(f"ss_{c}").cast("double") - mean * F.col(f"s_{c}").cast("double")) / n
        z = (xc - mean) / F.sqrt(var)
        cols.append(F.round(z * 1_000_000).cast("bigint").alias(f"z_{c}_mu"))
    return out.select(*cols)


def q_agg_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over events: phase 1 groups by
    (event_type, salt=hash(event_id)%16) and computes decimal partials;
    phase 2 combines the 16 partials per key. On a skewed key
    distribution this spreads each hot key over 16 reducers — the
    standard fix when one group key holds 30% of a 100 TB table and AQE
    skew handling can't split a hash aggregate. Decimal partial sums
    commute exactly, so the result is bit-identical to the unsalted
    single-phase SQL the oracle runs."""
    ev = load_events(spark, sf_dir)
    partial = (
        ev.groupBy(
            "event_type",
            F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)).alias("salt"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)")).alias("psum"),
            F.count("*").alias("pn"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("psum").cast("double").alias("sum_value"),
            F.sum("pn").alias("n_events"),
        )
    )


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-level) exact dedup: chunk every document
    with q_doc_chunk_overlap's map-only chunker, then group by the chunk
    digest — the finer-grained dedup pass that catches boilerplate
    repeated INSIDE otherwise-distinct documents (headers, license
    blocks, navigation text), which document-level dedup structurally
    cannot see. Shuffle key is the 32-hex digest, never the chunk text;
    output is each repeated chunk's canonical location + frequency."""
    chunks = q_doc_chunk_overlap(spark, sf_dir)
    # lexicographic argmin as one integer key (chunk_idx < 100000 by
    # construction) — the same expression computes the same canonical
    # location in any engine, no struct-ordering semantics needed
    loc_key = F.col("doc_id") * 100_000 + F.col("chunk_idx")
    return (
        chunks.groupBy(F.md5(F.col("chunk_text")).alias("chunk_fp"))
        .agg(
            F.min(loc_key).alias("loc"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "chunk_fp",
            F.expr("loc div 100000").alias("rep_doc_id"),
            (F.col("loc") % 100_000).cast("int").alias("rep_chunk_idx"),
            "n_copies",
        )
    )


#: quality-gate thresholds (mirrors pipelines.quality_filter, but emits
#: a verdict per document instead of silently filtering)
GATE_MIN_TOKENS = 20
GATE_MAX_UPPER_RATIO = 0.3
GATE_MIN_UNIQUE_RATIO = 0.3

# exact rational forms of the ratio thresholds, derived from the named
# constants so editing them can't desync the Spark expression from the
# oracle SQL (both interpolate the same numerator/denominator; the
# comparisons below run in integer arithmetic, a/b >= p/q <=> a*q >= p*b)
_UPPER_P, _UPPER_Q = (
    Fraction(GATE_MAX_UPPER_RATIO).limit_denominator(10_000).as_integer_ratio()
)
_UNIQ_P, _UNIQ_Q = (
    Fraction(GATE_MIN_UNIQUE_RATIO).limit_denominator(10_000).as_integer_ratio()
)


def q_quality_gate_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused keep/drop verdict per document with per-rule flags — the
    auditable form of a quality gate (a pipeline that only emits the
    kept rows can't answer 'WHY did we drop 12% yesterday?'). Three
    Gopher/C4-style rules on exact integer/rational arithmetic: token
    count, uppercase-character ratio, distinct-token ratio. Map-only
    column expressions; the flags compress to one int so downstream can
    GROUP BY drop-reason over 100 TB without re-running the rules."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_upper = F.length(F.regexp_replace(F.col("text"), "[^A-Z]", ""))
    n_chars = F.length(F.col("text"))
    n_uniq = F.size(F.array_distinct(toks))
    # rational comparisons: a/b >= r  <=>  a*denom >= r_num*b (ints)
    too_short = (n_tok < GATE_MIN_TOKENS).cast("int")
    too_upper = (n_upper * _UPPER_Q > F.lit(_UPPER_P) * n_chars).cast("int")
    too_repetitive = (n_uniq * _UNIQ_Q < F.lit(_UNIQ_P) * n_tok).cast("int")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        too_short.alias("flag_short"),
        too_upper.alias("flag_upper"),
        too_repetitive.alias("flag_repetitive"),
        (
            (too_short + too_upper + too_repetitive) == 0
        ).cast("int").alias("keep"),
    )


#: docs with doc_id below this fraction boundary are the "historical"
#: corpus; the rest are "new" (stands in for yesterday's snapshot)
HIST_MOD = 10
HIST_CUT = 7


def q_dedup_incremental_vs_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: drop NEW documents whose normalized-text
    digest already exists in the HISTORICAL corpus (doc_id % 10 < 7 =
    history, rest = today's crawl). The production shape: history is
    touched only as a distinct-digest set (32 B/doc), which broadcasts
    (or becomes a bloom filter at 100 TB) so the new slice is filtered
    map-side — the full historical text is never re-read, never
    shuffled. Output: surviving new docs."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    hist = (
        docs.filter(F.col("doc_id") % HIST_MOD < HIST_CUT)
        .select(fp.alias("fp"))
        .distinct()
    )
    new = docs.filter(F.col("doc_id") % HIST_MOD >= HIST_CUT).select(
        "doc_id", fp.alias("fp"), "lang", "source"
    )
    return new.join(F.broadcast(hist), "fp", "left_anti").select(
        "doc_id", "lang", "source"
    )


#: bloom geometry for the incremental-dedup prefilter: m bits packed
#: into 64-bit words, k hash probes per digest. At these sizes the
#: filter is ~16 KB; production sizes m from |history| and target fpp
#: (m ≈ -n·ln(fpp)/ln(2)^2), the construction below is size-agnostic.
BLOOM_BITS = 1 << 17
BLOOM_K = 3


def _bloom_positions(col, k: int = BLOOM_K, m: int = BLOOM_BITS):
    """k bit positions per value: pmod(xxhash64(value, seed), m) — the
    standard double-hash family, all JVM-side."""
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)]
    )


def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup behind a BLOOM prefilter — the documented 100 TB
    swap for the broadcast digest set (q_dedup_incremental_vs_history),
    made real, with EXACT results: bloom false positives are re-checked
    by an exact anti-join over the maybe-duplicate minority only, so the
    output is bit-equal to the plain anti-join (same oracle).

    The filter itself is built AS A DATAFRAME — no driver-side sketch
    object: history digests -> k probe positions -> explode -> per-word
    bit_or aggregation = (word_idx, word) rows, m/64 of them (~16 KB).
    That build is mergeable/distributed exactly like Spark's internal
    bloom_filter_agg, and the result broadcasts to the probe side.

    Probe is narrow: each new doc explodes to k position rows, a
    broadcast left join marks set bits, and a doc is maybe-dup only if
    ALL k bits hit. At 100 TB the definite-new majority (most of a fresh
    crawl) short-circuits here — only maybe-dups pay the exact digest
    join, which is the whole point of the bloom stage."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    hist = (
        docs.filter(F.col("doc_id") % HIST_MOD < HIST_CUT)
        .select(fp.alias("fp"))
        .distinct()
    )
    # build: bloom words as rows (word_idx, word)
    words = (
        hist.select(F.explode(_bloom_positions(F.col("fp"))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    new = docs.filter(F.col("doc_id") % HIST_MOD >= HIST_CUT).select(
        "doc_id", fp.alias("fp"), "lang", "source"
    )
    # probe: all k probe bits set => maybe-dup
    probes = new.select(
        "doc_id", F.explode(_bloom_positions(F.col("fp"))).alias("pos")
    ).select("doc_id", (F.col("pos") / 64).cast("int").alias("word_idx"),
             F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"))
    hits = (
        probes.join(F.broadcast(words), "word_idx", "left")
        .select(
            "doc_id",
            (F.coalesce("word", F.lit(0)).bitwiseAND(F.col("bit")) != 0).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.min(F.col("hit").cast("int")).alias("all_hit"))
    )
    flagged = new.join(hits, "doc_id")
    definite_new = flagged.filter(F.col("all_hit") == 0)
    maybe_dup = flagged.filter(F.col("all_hit") == 1)
    # exact verify only for the maybe-dup minority
    survivors = maybe_dup.join(F.broadcast(hist), "fp", "left_anti")
    return definite_new.unionByName(survivors).select("doc_id", "lang", "source")


#: linear-scorer weights: rational per-dimension values, exactly
#: representable in both engines (no transcendentals anywhere — the
#: decision emits the LOGIT, not a sigmoid, so cross-engine equality is
#: exact integer comparison after micro-quantization)
_SCORER_DIM = 64


def _scorer_weight(i: int) -> float:
    return ((i * 37) % 19 - 9) / 10.0


def q_embedding_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fasttext-classifier stage of
    an LLM data pipeline, reduced to its distributed essence: score
    every embedding with a BROADCAST linear model (weight vector lives
    in the plan as a literal array; at 100 TB it's a broadcast variable)
    and keep rows with positive logit. Map-only: one zip_with multiply +
    sequential-fold dot product per row inside codegen, no shuffle, no
    UDF, no model server. Emits logit in micro-units (exact) + the keep
    decision; a real deployment swaps the literal weights for a trained
    model's — the plan shape is identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(_scorer_weight(i)) for i in range(_SCORER_DIM)])
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    prods = F.zip_with(dv, w, lambda x, y: x * y)
    logit = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        "label",
        F.round(logit * 1_000_000).cast("bigint").alias("logit_mu"),
        (logit > 0).cast("int").alias("keep"),
    )


#: safety / policy screen terms (fixture stand-ins for a real deny
#: list; drawn from the fixture vocabulary so the flag has signal)
BLOCKLIST_TERMS = ("slow", "dup", "big", "sort")
BLOCKLIST_FLAG_MIN = 2  # flag when >= 2 DISTINCT terms hit


def q_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deny-list content screen — the safety-filtering stage of a
    pretraining pipeline (policy terms, dirty words, PII keywords):
    per doc, which blocklist terms appear (sorted, comma-joined — the
    canonicalizable export form), how many DISTINCT terms hit, and the
    flag at >= BLOCKLIST_FLAG_MIN. Matching is set intersection of the
    doc's distinct tokens against the broadcast term list — map-only
    array expressions, zero shuffle, whole-stage codegen; at 100 TB a
    large deny list swaps the array literal for a broadcast join
    against a terms table (same plan shape as decontaminate)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(_words())
    block = F.array(*[F.lit(t) for t in BLOCKLIST_TERMS])
    hits = F.array_sort(F.array_intersect(toks, block))
    return docs.select(
        "doc_id",
        "source",
        F.array_join(hits, ",").alias("matched_terms"),
        F.size(hits).cast("int").alias("n_matched"),
        (F.size(hits) >= BLOCKLIST_FLAG_MIN).alias("is_flagged"),
    )


_BLOCKLIST_SQL_LIST = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)

_BLOCKLIST_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
    list_sort(list_intersect(
      list_distinct(string_split(lower(trim(text)), ' ')),
      [{_BLOCKLIST_SQL_LIST}])) AS hits
  FROM documents
)
SELECT doc_id, source,
  coalesce(array_to_string(hits, ','), '') AS matched_terms,
  CAST(len(hits) AS INTEGER) AS n_matched,
  len(hits) >= {BLOCKLIST_FLAG_MIN} AS is_flagged
FROM t
"""

NEG_K = 4  # negatives per anchor
NEG_A, NEG_C = 7, 13  # deterministic stride multipliers


def q_negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair generation for contrastive training
    (embedding models train on (anchor, negative) pairs; random choice
    is not replayable across runs/partitions): for each anchor doc,
    NEG_K pseudo-random partners neg = (a·7 + k·13) mod N, skipping
    self-collisions. Pure modular arithmetic = identical on any engine
    and any partitioning; the corpus size N is a 1-row broadcast.
    Map-side explode of a K-element sequence — no shuffle, output
    exactly K·N rows minus self-collisions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    pairs = (
        docs.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "n_docs",
            F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("k"),
        )
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("k").cast("int").alias("neg_rank"),
            F.expr(
                f"(doc_id * {NEG_A} + k * {NEG_C}) % n_docs"
            ).alias("neg_id"),
        )
    )
    return pairs.filter(F.col("neg_id") != F.col("anchor_id"))


_NEG_ORACLE = f"""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
p AS (
  SELECT d.doc_id AS anchor_id, CAST(k AS INTEGER) AS neg_rank,
    (d.doc_id * {NEG_A} + k * {NEG_C}) % n.n_docs AS neg_id
  FROM documents d
  CROSS JOIN n
  CROSS JOIN (SELECT unnest(generate_series(1, {NEG_K})) AS k)
)
SELECT anchor_id, neg_rank, neg_id FROM p WHERE neg_id <> anchor_id
"""


# ---------------------------------------------------------------------------
# Corpus ordering, survivorship and duplicate overlap
# ---------------------------------------------------------------------------

#: shard count for the deterministic global shuffle — at 100 TB this is
#: O(total_bytes / shard_target_bytes) (thousands); the VALUE doesn't
#: change the plan shape, only per-task sort size
SHUFFLE_SHARDS = 16

#: Knuth multiplicative hash constant (2^32 / phi) — a fixed-point
#: permutation both engines compute identically in BIGINT arithmetic
KNUTH_C = 2654435761
MOD32 = 4294967296

#: mixing temperature as a plain double literal (0.7 — the
#: pile/llama-style source-upweighting exponent)
MIX_TEMPERATURE = 0.7


def q_corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random global reorder of the corpus — the
    pre-training shuffle that breaks source/crawl-order locality before
    sequence packing. Each doc gets a shard and a position:
    h = (doc_id * KNUTH_C) mod 2^32 (a multiplicative-hash permutation,
    exact BIGINT arithmetic — identical in any engine), shard = h mod
    SHUFFLE_SHARDS, position = rank of h within the shard.

    Scale shape: ONE shuffle on the shard key; the within-shard sort is
    a per-shard local sort (window partitioned BY SHARD — never a
    global single-partition window). At 100 TB you raise SHUFFLE_SHARDS
    to O(data/shard_size) and every task sorts one shard; the global
    order is (shard, pos) by construction, so no stage ever sees a
    total order. Reading shards in index order replays one fixed
    permutation — reproducible training order with zero stored state.

    Overflow safety: doc_id * KNUTH_C exceeds BIGINT once doc_id ≳
    3.5e9 (≈ a 100 TB corpus of 30 KB docs) — Spark's non-ANSI mode
    would wrap silently while DuckDB errors. The multiply-mod is
    therefore computed with a 16-bit limb split: for a = doc_id mod
    2^32, a·K mod 2^32 = ((a_hi·K mod 2^16)·2^16 + a_lo·K) mod 2^32
    with a_hi = a div 2^16, a_lo = a mod 2^16 — every intermediate
    < 2^48, exact BIGINT on both engines for ALL doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    hash_sql = (
        f"pmod((pmod((pmod(doc_id, {MOD32}L) div 65536) * {KNUTH_C}L, "
        f"65536) * 65536) + pmod(doc_id, 65536) * {KNUTH_C}L, {MOD32}L)"
    )
    d = docs.select(
        "doc_id",
        F.expr(hash_sql).alias("h"),
        F.expr(f"{hash_sql} % {SHUFFLE_SHARDS}").cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return d.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


_SHUFFLE_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
    ((((doc_id % {MOD32}) // 65536) * {KNUTH_C} % 65536) * 65536
     + (doc_id % 65536) * {KNUTH_C}) % {MOD32} AS h,
    CAST(((((doc_id % {MOD32}) // 65536) * {KNUTH_C} % 65536) * 65536
          + (doc_id % 65536) * {KNUTH_C}) % {MOD32} % {SHUFFLE_SHARDS}
         AS INTEGER) AS shard
  FROM documents
)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
       AS BIGINT) AS pos
FROM d
"""


def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship for exact-duplicate clusters: every md5(text)
    cluster keeps ONE canonical document by a stated total order
    (longest n_chars first, then smallest doc_id — 'keep the fullest,
    earliest copy'), reporting the kept id and the cluster size. This
    is the curation step AFTER dedup detection: which copy feeds the
    training set.

    Scale shape: text itself never shuffles — the 16-byte digest is
    computed scan-side and is the only shuffle key; the per-cluster
    window is bounded by cluster size. Same plan skeleton as
    dedup.q_dedup_exact (dedup.py:56) with an argmax instead of a
    count."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "n_chars", F.md5(F.col("text")).alias("digest")
    )
    w = Window.partitionBy("digest").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("digest")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "digest",
            F.col("doc_id").alias("kept_doc_id"),
            "n_dups",
        )
    )


_SURVIVORSHIP_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars, md5(text) AS digest FROM documents
), r AS (
  SELECT digest, doc_id,
    row_number() OVER (PARTITION BY digest
                       ORDER BY n_chars DESC, doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY digest) AS n_dups
  FROM d
)
SELECT digest, doc_id AS kept_doc_id, CAST(n_dups AS BIGINT) AS n_dups
FROM r WHERE rn = 1
"""


def q_sampling_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multi-corpus sampling-weight
    table): weight_s ∝ n_s^T with T = 0.7 — upweights small/rare
    sources relative to proportional sampling. The single float
    (pow) is quantized to micro-units IMMEDIATELY — round(·,6)·1e6 as
    BIGINT, identical on both engines — and every downstream share /
    target count is truncated integer arithmetic over those quantized
    weights, so the output is exact.

    Scale shape: one map-side-combined aggregate to |sources| rows,
    then a broadcast 1-row total — the per-source table is KBs at any
    corpus size; the expensive part of applying the mix (the actual
    per-doc sampler) is production.q_sample_weighted's shape."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    wq = (
        F.round(
            F.round(
                F.pow(F.col("n_docs").cast("double"), F.lit(MIX_TEMPERATURE)),
                6,
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("weight_micro")
    )
    weighted = per_src.select("source", "n_docs", wq)
    tot = weighted.agg(
        F.sum("weight_micro").alias("w_tot"),
        F.sum("n_docs").alias("n_tot"),
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "weight_micro",
            F.expr("weight_micro * 1000000L div w_tot").alias("share_ppm"),
            F.expr("n_tot * weight_micro div w_tot").alias("target_docs"),
        )
    )


_TEMPERATURE_ORACLE = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), weighted AS (
  SELECT source, n_docs,
    CAST(round(round(pow(CAST(n_docs AS DOUBLE), {MIX_TEMPERATURE}), 6)
               * 1000000) AS BIGINT) AS weight_micro
  FROM per_src
), tot AS (
  SELECT sum(weight_micro) AS w_tot, sum(n_docs) AS n_tot FROM weighted
)
SELECT source, n_docs, weight_micro,
  CAST(weight_micro * 1000000 // w_tot AS BIGINT) AS share_ppm,
  CAST(n_tot * weight_micro // w_tot AS BIGINT) AS target_docs
FROM weighted, tot
"""


#: winnowing parameters: k-gram size (words) and window length
WINNOW_K = 3
WINNOW_W = 4


#: position packing modulus for the winnowing argmin key (> any doc's
#: shingle count; 32-bit hash * 2^20 stays under 2^52 — exact in BIGINT
#: and even in IEEE double on any engine)
_WINNOW_POSMOD = 1 << 20


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS near-dup primitive): hash every k-word shingle,
    slide a w-hash window, and select each window's minimum hash with
    the paper's RIGHTMOST tie-break; the fingerprint set is the
    distinct selected (position, hash) pairs. This keeps the coverage
    guarantee the paper proves — every w consecutive shingles contain
    at least one selected fingerprint — at ~2/(w+1) density (a
    'min-of-window-starting-here' shortcut does NOT: a decreasing hash
    run would select almost nothing).

    Engine-portable argmin: minimize ONE integer key
    h*2^20 + (2^20-1-pos) — minimal h first, maximal pos (rightmost)
    on ties — with h a 32-bit md5 prefix, so the key stays < 2^52
    (exact everywhere). Docs with fewer than w shingles contribute
    their single global-window minimum.

    Scale shape: explode → hash → per-doc windows (partitioned by
    doc_id, bounded by doc length) → distinct on the selected ~2/(w+1)
    fraction. Output (doc_id, fp_pos, fp) is the join key for
    cross-doc overlap detection at a fraction of the shingle volume."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(_words()).alias(
            "pos", "w"
        ),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    sh = (
        toks.withColumn("w2", F.lead("w", 1).over(wd))
        .withColumn("w3", F.lead("w", 2).over(wd))
        .filter(F.col("w3").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.expr(_md5_int("concat_ws(' ', w, w2, w3)")).alias("h"),
        )
    )
    key = (
        F.col("h") * F.lit(_WINNOW_POSMOD)
        + (F.lit(_WINNOW_POSMOD - 1) - F.col("pos"))
    )
    wwin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    wcnt = Window.partitionBy("doc_id")
    sel = (
        sh.withColumn("key", key)
        .withColumn("win_key", F.min("key").over(wwin))
        .withColumn("n_sh", F.count(F.lit(1)).over(wcnt))
        # valid window starts: pos <= n_sh - w (full windows), or the
        # single truncated start 0 when the doc has fewer than w shingles
        .filter(
            (F.col("pos") <= F.col("n_sh") - F.lit(WINNOW_W))
            | ((F.col("n_sh") < F.lit(WINNOW_W)) & (F.col("pos") == 0))
        )
        .select("doc_id", "win_key")
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.lit(_WINNOW_POSMOD - 1) - F.col("win_key") % F.lit(_WINNOW_POSMOD))
        .cast("bigint")
        .alias("fp_pos"),
        F.expr(f"win_key div {_WINNOW_POSMOD}").alias("fp"),
    )


_WINNOW_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
    unnest(string_split(lower(trim(text)), ' ')) AS w,
    unnest(generate_series(1, len(string_split(lower(trim(text)), ' '))))
      AS posn
  FROM documents
), sh AS (
  SELECT doc_id, posn - 1 AS pos,
    CAST(('0x' || substr(md5(w || ' ' || w2 || ' ' || w3), 1, 8))::BIGINT
         AS BIGINT) AS h
  FROM (
    SELECT doc_id, posn, w,
      lead(w, 1) OVER (PARTITION BY doc_id ORDER BY posn) AS w2,
      lead(w, 2) OVER (PARTITION BY doc_id ORDER BY posn) AS w3
    FROM tok
  ) WHERE w3 IS NOT NULL
), keyed AS (
  SELECT doc_id, pos,
    h * {_WINNOW_POSMOD} + ({_WINNOW_POSMOD - 1} - pos) AS key,
    count(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM sh
), sel AS (
  SELECT DISTINCT doc_id,
    min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
      AS win_key
  FROM keyed
  QUALIFY pos <= n_sh - {WINNOW_W}
       OR (n_sh < {WINNOW_W} AND pos = 0)
)
SELECT doc_id,
  CAST({_WINNOW_POSMOD - 1} - win_key % {_WINNOW_POSMOD} AS BIGINT)
    AS fp_pos,
  CAST(win_key // {_WINNOW_POSMOD} AS BIGINT) AS fp
FROM sel
"""


def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication matrix at TWO granularities: for every
    unordered source pair (a < b), how many distinct keys appear in
    both, where the key is (kind='exact') the md5 of the full text and
    (kind='block') the md5 of the first-5-token normalized prefix —
    doc_fingerprint's near-dup blocking key. The corpus-level 'who
    copies whom' report that decides which source to drop when
    survivorship must pick a side; the block level catches templated /
    lightly-edited overlap the exact level misses.

    Scale shape: distinct (kind, key, source) first (collapses
    per-source copies — the self-join input is bounded by #keys ×
    #sources, not #docs), then a key-keyed self-join whose per-key
    fanout is at most C(|sources|, 2) — never quadratic in documents."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(_words(), 1, 5), " ")
    ds = (
        docs.select(
            F.explode(
                F.create_map(
                    F.lit("exact"), F.md5(F.col("text")),
                    F.lit("block"), F.md5(prefix),
                )
            ).alias("kind", "key"),
            "source",
        )
        .distinct()
    )
    a = ds.alias("a")
    b = ds.alias("b")
    return (
        a.join(
            b,
            (F.col("a.kind") == F.col("b.kind"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.kind").alias("kind"),
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_keys"))
    )


_CROSS_SOURCE_ORACLE = """
WITH ks AS (
  SELECT 'exact' AS kind, md5(text) AS key, source FROM documents
  UNION ALL
  SELECT 'block' AS kind,
    md5(array_to_string(
      list_slice(string_split(lower(trim(text)), ' '), 1, 5), ' ')) AS key,
    source
  FROM documents
), ds AS (
  SELECT DISTINCT kind, key, source FROM ks
)
SELECT a.kind AS kind, a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS n_shared_keys
FROM ds a JOIN ds b
  ON a.kind = b.kind AND a.key = b.key AND a.source < b.source
GROUP BY a.kind, a.source, b.source
"""


# ---------------------------------------------------------------------------
# Data selection, truncation accounting and objective planning
# ---------------------------------------------------------------------------

#: DSIR hashed-feature dimensionality. 64 here so the sf0.01 fixture
#: populates every bucket; production uses 10k-100k buckets (Xie et al.
#: NeurIPS 2023 use 10k hashed uni+bigrams) — the VALUE only changes the
#: broadcast table size (KBs either way), never the plan shape.
DSIR_BUCKETS = 64

#: the target domain: docs whose lang is this value define the
#: importance-sampling target distribution (the "high-quality corpus"
#: in DSIR terms); the raw distribution is the whole corpus
DSIR_TARGET_LANG = "en"

#: content-defined chunking: a word whose 32-bit hash ≡ 0 (mod 8) ends a
#: chunk — expected chunk length 8 words. Production uses a byte-level
#: Rabin/Gear rolling hash with min/max clamps (FastCDC); word
#: granularity keeps the oracle exact while preserving the defining
#: property (boundaries move with CONTENT, not offsets, so an insertion
#: only redraws its own chunk).
CDC_MOD = 8

#: truncation accounting: max sequence length in whitespace tokens
TRUNC_MAX_TOKENS = 128


def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR document scores (Data Selection via Importance Resampling,
    Xie et al. NeurIPS 2023): log importance weight of each document
    under hashed-bigram bag-of-ngrams models of the TARGET domain
    (lang = 'en' docs) vs the RAW corpus —
    w(doc) = Σ_over_bigram_instances ln(p_target[b] / p_raw[b]),
    add-one smoothing over the bucket spine. High weight ⇒ the doc
    "looks like" the target domain; downstream selection keeps the
    top-k or Gumbel-resamples with these weights.

    Exactness: the per-BUCKET log-ratio is quantized to micro-nats
    (round(ln·,6)·1e6 as BIGINT — one ln on a ratio of exact integer
    counts, identical input on both engines); a doc's weight is then an
    exact integer SUM of bucket constants, so ties and order are
    engine-stable.

    Scale shape: bigram→bucket is a pure map over the split array (no
    per-token window — ``transform`` over adjacent pairs); the bucket
    histograms collapse to DSIR_BUCKETS rows map-side; the per-doc score
    re-joins tokens to a BROADCAST 64-row weight table and partial-aggs
    to one row per doc. Nothing wider than (doc_id, bucket) ever
    shuffles; text never leaves the scan."""
    docs = load_table(spark, sf_dir, "documents")
    arr = _words()
    bigram_hash = _md5_int("concat(arr[i-1], ' ', arr[i])")
    buckets = F.expr(
        f"transform(sequence(1, size(arr) - 1), i -> {bigram_hash} % {DSIR_BUCKETS})"
    )
    big = (
        docs.select("doc_id", "lang", arr.alias("arr"))
        .filter(F.size("arr") >= 2)
        .select("doc_id", "lang", F.explode(buckets).alias("b"))
    )
    # ONE corpus pass fits both models: the (bucket -> raw count, target
    # count) histogram, with the totals then derived from the 64-row
    # histogram itself instead of re-scanning. Plan-audited: the whole
    # query is exactly TWO corpus scans (fit pass + score pass), the
    # canonical DSIR shape — a naive tgt/raw/totals formulation scanned
    # the corpus four times.
    hist = big.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("t"),
    )
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    filled = spine.join(hist, "b", "left").select(
        "b",
        F.coalesce(F.col("r"), F.lit(0)).alias("r"),
        F.coalesce(F.col("t"), F.lit(0)).alias("t"),
    )
    # totals via a global window over the 64-row filled histogram — NOT
    # a separate aggregate of `big`, which Catalyst would satisfy by
    # re-scanning the corpus a third time (no cross-branch CSE). The
    # partitionless window is over DSIR_BUCKETS rows, a constant.
    wall = Window.partitionBy()
    weights = filled.select(
        "b",
        # double-round: the outer round snaps the *1e6 fp error so
        # Spark's truncating bigint cast and DuckDB's rounding cast
        # agree (the text_lm.py micro-nat discipline)
        F.round(
            F.round(
                F.log(
                    ((F.col("t") + 1.0)
                     * (F.sum("r").over(wall).cast("double") + DSIR_BUCKETS))
                    / ((F.col("r") + 1.0)
                       * (F.sum("t").over(wall).cast("double")
                          + DSIR_BUCKETS))
                ),
                6,
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    return (
        big.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("lr_micro").cast("bigint").alias("dsir_weight_micro"),
        )
    )


_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS arr
  FROM documents
), big AS (
  SELECT doc_id, lang,
    unnest(list_transform(generate_series(1, len(arr) - 1), i ->
      CAST(('0x' || substr(md5(arr[i] || ' ' || arr[i+1]), 1, 8))::BIGINT
           % {DSIR_BUCKETS} AS BIGINT))) AS b
  FROM tok WHERE len(arr) >= 2
), tgt AS (
  SELECT b, count(*) AS t FROM big
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
), raw AS (
  SELECT b, count(*) AS r FROM big GROUP BY b
), tot AS (
  SELECT CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS DOUBLE) AS t_tot,
         CAST(count(*) AS DOUBLE) AS r_tot
  FROM big
), weights AS (
  SELECT s.b,
    CAST(round(round(ln(
      ((coalesce(tgt.t, 0) + 1.0) * (tot.r_tot + {DSIR_BUCKETS}))
      / ((coalesce(raw.r, 0) + 1.0) * (tot.t_tot + {DSIR_BUCKETS}))
    ), 6) * 1000000) AS BIGINT) AS lr_micro
  FROM range({DSIR_BUCKETS}) s(b)
  LEFT JOIN tgt ON tgt.b = s.b
  LEFT JOIN raw ON raw.b = s.b
  CROSS JOIN tot
)
SELECT big.doc_id,
  CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(weights.lr_micro) AS BIGINT) AS dsir_weight_micro
FROM big JOIN weights ON weights.b = big.b
GROUP BY big.doc_id
"""


def q_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC storage-dedup
    primitive, word-granular): a chunk boundary falls AFTER any word
    whose hash ≡ 0 (mod CDC_MOD), so boundaries are anchored to content
    — inserting one word into a 100 TB corpus re-chunks only the edited
    chunk, while fixed-size chunking would shift every boundary after
    the edit. Output is the per-doc chunk table (ordinal, word count,
    content hash); joining chunk_hash across snapshots yields the
    incremental-corpus-diff / storage-dedup ratio.

    Scale shape: boundary flags are a pure map over the exploded words;
    chunk ids are a per-DOC running sum (window bounded by doc length,
    never global); the chunk reassembly groups by (doc, chunk) and
    re-sorts only within a chunk (sort_array over ≤ chunk-length
    structs). One shuffle on doc_id end to end."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(_words()).alias(
            "pos", "w"
        ),
    )
    bf = (
        F.expr(f"{_md5_int('w')} % {CDC_MOD}")
        == 0
    ).cast("int")
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ch = toks.withColumn("bf", bf).withColumn(
        "chunk_id", F.coalesce(F.sum("bf").over(wprev), F.lit(0))
    )
    return (
        ch.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(sort_array(collect_list(struct(pos, w))),"
                        " s -> s.w)"
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            "n_words",
            "chunk_hash",
        )
    )


_CDC_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
    unnest(string_split(lower(trim(text)), ' ')) AS w,
    unnest(generate_series(1, len(string_split(lower(trim(text)), ' '))))
      AS posn
  FROM documents
), fl AS (
  SELECT doc_id, posn, w,
    CASE WHEN ('0x' || substr(md5(w), 1, 8))::BIGINT % {CDC_MOD} = 0
         THEN 1 ELSE 0 END AS bf
  FROM tok
), ch AS (
  SELECT doc_id, posn, w,
    coalesce(sum(bf) OVER (PARTITION BY doc_id ORDER BY posn
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS chunk_id
  FROM fl
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(count(*) AS BIGINT) AS n_words,
  md5(string_agg(w, ' ' ORDER BY posn)) AS chunk_hash
FROM ch GROUP BY doc_id, chunk_id
"""


def q_truncation_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of what a max-sequence-length truncation
    at TRUNC_MAX_TOKENS whitespace tokens would discard — the report
    that decides between truncating, chunking (doc_chunk_overlap), or
    packing (sequence_packing) for each source. lost_ppm is exact
    integer parts-per-million.

    Scale shape: token counts are ``size(split(·))`` — a pure map, no
    explode, text never shuffles; the aggregate collapses map-side to
    |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_words())
    return (
        docs.select("source", n.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(F.least(F.col("n_tok"), F.lit(TRUNC_MAX_TOKENS)))
            .cast("bigint")
            .alias("kept_tokens"),
            F.sum(
                (F.col("n_tok") > TRUNC_MAX_TOKENS).cast("int")
            )
            .cast("bigint")
            .alias("n_truncated_docs"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "kept_tokens",
            "n_truncated_docs",
            F.expr(
                "(total_tokens - kept_tokens) * 1000000L div total_tokens"
            ).alias("lost_ppm"),
        )
    )


_TRUNC_ORACLE = f"""
WITH t AS (
  SELECT source,
    len(string_split(lower(trim(text)), ' ')) AS n_tok
  FROM documents
), agg AS (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
    CAST(sum(least(n_tok, {TRUNC_MAX_TOKENS})) AS BIGINT) AS kept_tokens,
    CAST(sum(CASE WHEN n_tok > {TRUNC_MAX_TOKENS} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_truncated_docs
  FROM t GROUP BY source
)
SELECT source, n_docs, total_tokens, kept_tokens, n_truncated_docs,
  CAST((total_tokens - kept_tokens) * 1000000 // total_tokens AS BIGINT)
    AS lost_ppm
FROM agg
"""


#: curriculum staging: per-source difficulty rank buckets of this many
#: docs — stage s of training consumes bucket s of EVERY source, so the
#: mix stays constant while difficulty ramps
CURRICULUM_STAGE_DOCS = 500


def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning stage assignment: within each source, docs are
    ranked easy→hard (difficulty proxy: doc length — short docs first,
    the canonical text-curriculum heuristic) and cut into
    CURRICULUM_STAGE_DOCS-sized stages; stage s of training reads bucket
    s of every source, so the source MIX is constant per stage while
    difficulty ramps. Output: per-doc (source, source_rank, stage) — the
    shuffle-ready sort key for the training shard writer (feeds
    shard_manifest / corpus_global_shuffle).

    Determinism: rank ties break on doc_id; all outputs exact integers.

    Scale shape: one row_number window PARTITIONED BY SOURCE (a
    per-partition sort, the shape Spark's window exec is built for —
    never a global ordering; the global interleave is the downstream
    writer's (stage, source, source_rank) sort, which range-partitions
    cleanly). Text never shuffles — only (doc_id, source, n_chars)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    return docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.row_number().over(w).cast("bigint").alias("source_rank"),
    ).withColumn(
        "stage",
        F.expr(f"(source_rank - 1) div {CURRICULUM_STAGE_DOCS}").cast(
            "bigint"
        ),
    )


_CURRICULUM_ORACLE = f"""
WITH r AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
    CAST(row_number() OVER (PARTITION BY source
                            ORDER BY n_chars ASC, doc_id ASC) AS BIGINT)
      AS source_rank
  FROM documents
)
SELECT doc_id, source, n_chars, source_rank,
  CAST((source_rank - 1) // {CURRICULUM_STAGE_DOCS} AS BIGINT) AS stage
FROM r
"""


#: watermark detector: |z| at or above this many milli-sigmas flags a doc
#: (3.0 sigma, Kirchenbauer et al.'s detection threshold)
WM_Z_MILLI = 3000


def q_watermark_greenlist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Green-list watermark detector sweep (Kirchenbauer et al., ICML
    2023, context-free simplification): a watermarking LLM biases
    sampling toward a pseudorandom "green" half of the vocabulary, so
    watermarked text shows g ≫ n/2 green tokens; the detector z-score
    is z = (g − n/2) / sqrt(n/4) = (2g − n) / sqrt(n). Screening a
    corpus for |z| ≥ 3 finds machine-generated contamination BEFORE it
    trains the next model. Green membership here is the md5 parity of
    the token — deterministic, engine-portable, and exactly the
    hash-partition structure of the real detector (which keys on the
    previous token's hash; per-doc plumbing is identical). The null
    green rate γ̂ is CALIBRATED ON THE CORPUS (total green / total
    tokens) rather than assumed ½ — the real detector likewise knows
    its γ; assuming ½ against this fixture's tiny skewed vocabulary
    flagged 8% of honest docs, a classic miscalibrated-null bug.
    z = (g − n·γ̂) / sqrt(n·γ̂·(1−γ̂)).

    Exactness: g, n and the corpus totals are exact integers (γ̂ is the
    same double on both engines); z_milli is one double expression per
    DOC quantized to milli-sigmas; per-source flag counts are then
    exact integer sums.

    Scale shape: green counting is a pure map over the split array
    (aggregate over md5 parity — no explode, text never shuffles); the
    γ̂ calibration is a 1-row map-side-combined aggregate broadcast back
    (a second map-only pass — a global window here would drag every
    per-doc row into one partition); one |sources|-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    arr = _words()
    g = F.expr(
        "aggregate(arr, 0L, (acc, w) -> acc + "
        f"({_md5_int('w')} % 2))"
    )
    counts = docs.select("source", arr.alias("arr")).select(
        "source", F.size("arr").alias("n"), g.alias("g")
    )
    cal = counts.agg(
        (
            F.sum("g").cast("double") / F.sum("n").cast("double")
        ).alias("p_hat")
    )
    per_doc = (
        counts.crossJoin(F.broadcast(cal))
        .withColumn(
            "z_milli",
            F.round(
                (F.col("g").cast("double") - F.col("n") * F.col("p_hat"))
                / F.sqrt(
                    F.col("n")
                    * F.col("p_hat")
                    * (F.lit(1.0) - F.col("p_hat"))
                )
                * 1000.0
            ).cast("bigint"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (F.abs(F.col("z_milli")) >= WM_Z_MILLI).cast("bigint")
            )
            .cast("bigint")
            .alias("n_flagged"),
            F.max(F.abs(F.col("z_milli"))).cast("bigint").alias(
                "max_abs_z_milli"
            ),
        )
    )


_WM_ORACLE = f"""
WITH per_doc AS (
  SELECT source,
    len(string_split(lower(trim(text)), ' ')) AS n,
    list_sum(list_transform(string_split(lower(trim(text)), ' '),
      w -> ('0x' || substr(md5(w), 1, 8))::BIGINT % 2)) AS g
  FROM documents
), cal AS (
  SELECT source, n, g,
    CAST(sum(g) OVER () AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
      AS p_hat
  FROM per_doc
), z AS (
  SELECT source, n,
    CAST(round((CAST(g AS DOUBLE) - n * p_hat)
      / sqrt(n * p_hat * (1.0 - p_hat)) * 1000.0) AS BIGINT) AS z_milli
  FROM cal
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN abs(z_milli) >= {WM_Z_MILLI} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_flagged,
  CAST(max(abs(z_milli)) AS BIGINT) AS max_abs_z_milli
FROM z GROUP BY source
"""


#: greedy max-coverage selection: number of documents to pick
MAXCOVER_K = 5

#: max covered-term count served as a driver-held In-list filter; past
#: this the greedy loop switches to a broadcast anti-join (the In-list
#: is serialized into EVERY task of the round — fine for a few thousand
#: strings, a scalability regression beyond; ADVICE r12)
_MAXCOVER_INSET_MAX = 4096


def q_max_cover_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection (the submodular
    facility-location selection used for demo/eval-set curation and
    coreset picking): pick MAXCOVER_K documents that together cover the
    most distinct BIGRAMS, one greedy argmax at a time (greedy is
    (1−1/e)-optimal — the classic Nemhauser bound — and the only shape
    that distributes). Bigrams, not unigrams: the fixture's unigram
    vocabulary is so small one document covers it entirely and the
    greedy loop degenerates to a single round. Output: one row per
    round with the picked doc, its marginal gain, and cumulative
    coverage.

    Determinism: argmax ties break on doc_id ASC; all counts exact.

    Scale shape: the (doc, term) presence relation materializes ONCE
    (localCheckpoint — it is the inverted-index build every selection
    pass shares); each round filters the pinned presence table against
    the driver-held covered-term set (an In-list/InSet predicate — the
    literal set ships with the task, so it must stay small) + one
    per-doc count + a TakeOrdered(1) argmax (1-row driver collect —
    bounded state, the quantile-fit pattern); the covered set grows by
    the pick's terms only. When the covered set outgrows the In-list
    (> _MAXCOVER_INSET_MAX terms), the round falls back to a broadcast
    anti-join — same rows, distributed membership test (ADVICE r12:
    a plan-serialized set that grows with every pick's vocabulary is a
    scalability regression past a few thousand terms). K rounds ⇒ K
    bounded shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    arr = _words()
    bigrams = F.expr(
        "transform(sequence(1, size(arr) - 1),"
        " i -> concat(arr[i-1], ' ', arr[i]))"
    )
    pres = (
        docs.select("doc_id", arr.alias("arr"))
        .filter(F.size("arr") >= 2)
        .select("doc_id", F.explode(bigrams).alias("w"))
        .distinct()
        .localCheckpoint()
    )
    # The covered-term set is bounded by K × terms-per-pick (a few
    # hundred strings), so hold it on the DRIVER and filter the pinned
    # presence table with an InSet predicate instead of re-materializing
    # the whole anti-joined relation every round (r12, guide §2.4: the
    # old shape paid one anti-join shuffle + one full localCheckpoint
    # rewrite of `pres` per round; now each round is one map-side filter
    # + partial agg + a bounded collect of the pick's terms). Same
    # greedy, same tie-break, identical output. NULL-safety note
    # (ADVICE r12): ~isin(...) drops NULL terms where the old anti-join
    # kept them — unreachable here because `w` comes from explode over
    # concat of split output (never NULL by construction); guard with
    # isNotNull if term derivation ever changes. Past
    # _MAXCOVER_INSET_MAX covered terms the In-list would bloat every
    # serialized task, so the round falls back to a broadcast anti-join
    # (identical rows: both are "w not in covered" over non-null w).
    covered: set[str] = set()
    out, cum = [], 0
    for rnd in range(1, MAXCOVER_K + 1):
        if not covered:
            remaining = pres
        elif len(covered) <= _MAXCOVER_INSET_MAX:
            remaining = pres.filter(~F.col("w").isin(*covered))
        else:
            cov_df = spark.createDataFrame(
                [(w,) for w in covered], "w string"
            )
            remaining = pres.join(F.broadcast(cov_df), "w", "left_anti")
        pick = (
            remaining.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("doc_id").asc())
            .limit(1)
            .collect()
        )
        if not pick:
            break
        doc, gain = pick[0]["doc_id"], pick[0]["gain"]
        cum += gain
        out.append((rnd, doc, gain, cum))
        covered.update(
            r["w"]
            for r in remaining.filter(F.col("doc_id") == doc)
            .select("w")
            .collect()
        )
    return spark.createDataFrame(
        out, "round bigint, doc_id bigint, gain bigint, covered_terms bigint"
    )


def _maxcover_oracle() -> str:
    parts = []
    prev_rem = "pres"
    selects = []
    for i in range(1, MAXCOVER_K + 1):
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT {i} AS round, doc_id,"
            f" count(*) AS gain FROM {prev_rem} GROUP BY doc_id"
            f" ORDER BY gain DESC, doc_id ASC LIMIT 1),\n"
            f"c{i} AS MATERIALIZED (SELECT DISTINCT r.w FROM {prev_rem} r"
            f" JOIN p{i} USING (doc_id)),\n"
            f"r{i} AS MATERIALIZED (SELECT a.doc_id, a.w FROM {prev_rem} a"
            f" ANTI JOIN c{i} b USING (w))"
        )
        selects.append(f"SELECT round, doc_id, gain FROM p{i}")
        prev_rem = f"r{i}"
    chain = ",\n".join(parts)
    union = "\nUNION ALL ".join(selects)
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
  FROM documents
),
pres AS MATERIALIZED (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, len(arr) - 1),
      i -> arr[i] || ' ' || arr[i+1])) AS w
  FROM tok WHERE len(arr) >= 2
),
{chain},
picks AS ({union})
SELECT CAST(round AS BIGINT) AS round, CAST(doc_id AS BIGINT) AS doc_id,
  CAST(gain AS BIGINT) AS gain,
  CAST(sum(gain) OVER (ORDER BY round
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS covered_terms
FROM picks
"""


#: total document budget to apportion across sources
QUOTA_BUDGET = 10_000


def q_quota_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed document
    budget across sources proportional to their corpus share — the
    exact-integer answer to "give me 10k docs with the corpus mix":
    naive rounding of per-source quotas over- or under-shoots the
    budget; largest-remainder provably sums to EXACTLY the budget and
    is the standard seat-apportionment algorithm. Ties on equal
    remainders break on source ASC (engine-stable).

    Exactness: base = ⌊B·n_s/N⌋ and remainder B·n_s mod N are pure
    integer arithmetic; the leftover seats go to the largest
    remainders by rank — no floats anywhere.

    Scale shape: one map-side count per source; all windows run over
    the |sources|-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wall = Window.partitionBy()
    scored = (
        per_src.withColumn("n_all", F.sum("n_docs").over(wall))
        .withColumn(
            "base_quota",
            F.expr(f"{QUOTA_BUDGET} * n_docs div n_all"),
        )
        .withColumn(
            "remainder",
            F.expr(f"{QUOTA_BUDGET} * n_docs % n_all"),
        )
        .withColumn("sum_base", F.sum("base_quota").over(wall))
        .withColumn(
            "rem_rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("remainder").desc(), F.col("source").asc()
                )
            ),
        )
    )
    return scored.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("base_quota").cast("bigint").alias("base_quota"),
        (
            F.col("base_quota")
            + (
                F.col("rem_rank") <= QUOTA_BUDGET - F.col("sum_base")
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("quota"),
    )


_QUOTA_ORACLE = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), scored AS (
  SELECT source, n_docs,
    sum(n_docs) OVER () AS n_all,
    {QUOTA_BUDGET} * n_docs // sum(n_docs) OVER () AS base_quota,
    {QUOTA_BUDGET} * n_docs % (sum(n_docs) OVER ()) AS remainder
  FROM per_src
), ranked AS (
  SELECT source, n_docs, base_quota,
    sum(base_quota) OVER () AS sum_base,
    row_number() OVER (ORDER BY remainder DESC, source ASC) AS rem_rank
  FROM scored
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(base_quota AS BIGINT) AS base_quota,
  CAST(base_quota + CASE WHEN rem_rank <= {QUOTA_BUDGET} - sum_base
                         THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM ranked
"""


#: context lengths to sweep (whitespace tokens)
CTX_SWEEP = (32, 64, 128, 256)

#: MinHash-LSH parameter grid: (bands, rows-per-band) combos sharing a
#: 128-hash signature budget, and the Jaccard levels to evaluate
LSH_GRID = ((32, 4), (16, 8), (8, 16), (64, 2))
LSH_JACCARDS = (50, 70, 80, 90, 95)  # in percent


def q_context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-loss sweep over candidate context lengths — the table
    that PICKS max_seq_len: for each length in CTX_SWEEP, what fraction
    of corpus tokens survives truncation and how many docs are cut at
    all. truncation_loss_report prices ONE length; training-config
    decisions need the curve (the knee is where doubling the window
    stops buying tokens).

    Exactness: all integer counts; loss is one ppm division per cell.

    Scale shape: token counts are map-only size(split(·)); the explode
    is |CTX_SWEEP| rows per doc; one (length) aggregate. Text never
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_words())
    swept = docs.select(n.alias("n_tok")).select(
        "n_tok",
        F.explode(
            F.array(*[F.lit(c) for c in CTX_SWEEP])
        ).alias("max_len"),
    )
    return (
        swept.groupBy("max_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(F.least(F.col("n_tok"), F.col("max_len")))
            .cast("bigint")
            .alias("kept_tokens"),
            F.sum((F.col("n_tok") > F.col("max_len")).cast("bigint"))
            .cast("bigint")
            .alias("n_truncated_docs"),
        )
        .select(
            F.col("max_len").cast("bigint").alias("max_len"),
            "n_docs",
            "total_tokens",
            "kept_tokens",
            "n_truncated_docs",
            F.expr(
                "(total_tokens - kept_tokens) * 1000000L"
                " div total_tokens"
            ).alias("lost_ppm"),
        )
    )


_CTX_SWEEP_ORACLE = f"""
WITH t AS (
  SELECT len(string_split(lower(trim(text)), ' ')) AS n_tok
  FROM documents
), swept AS (
  SELECT n_tok, unnest([{', '.join(str(c) for c in CTX_SWEEP)}])
    AS max_len
  FROM t
), agg AS (
  SELECT max_len,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
    CAST(sum(least(n_tok, max_len)) AS BIGINT) AS kept_tokens,
    CAST(sum(CASE WHEN n_tok > max_len THEN 1 ELSE 0 END) AS BIGINT)
      AS n_truncated_docs
  FROM swept GROUP BY max_len
)
SELECT CAST(max_len AS BIGINT) AS max_len, n_docs, total_tokens,
  kept_tokens, n_truncated_docs,
  CAST((total_tokens - kept_tokens) * 1000000 // total_tokens
       AS BIGINT) AS lost_ppm
FROM agg
"""


def q_minhash_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH tuning table — pure planning math, no corpus scan:
    for each (bands b, rows r) split of a 128-hash signature, the
    S-curve threshold (1/b)^(1/r) and the candidate-pair probability
    1 − (1 − s^r)^b at each Jaccard level s. This is the table you
    read BEFORE running dedup_minhash_lsh: pick the (b, r) whose
    threshold sits just under your dedup cut and whose false-positive
    mass (probability at low s) your verifier can afford.

    Exactness: probabilities are single closed-form double expressions
    per CELL over integer grid points, quantized to ppm — identical on
    both engines.

    Scale: the output is |grid| × |levels| rows from a range source —
    the one operator in the registry whose cost is O(1) by design
    (the planner must be free to consult)."""
    grid = spark.createDataFrame(
        [(b, r) for b, r in LSH_GRID], "b int, r int"
    )
    lv = spark.createDataFrame(
        [(j,) for j in LSH_JACCARDS], "j_pct int"
    )
    # broadcast keeps even this 4×5 grid product a BroadcastNestedLoop
    # join — the registry-wide CartesianProduct ban admits no exceptions
    cells = grid.crossJoin(F.broadcast(lv))
    s = F.col("j_pct").cast("double") / 100.0
    thr = F.pow(
        F.lit(1.0) / F.col("b").cast("double"),
        F.lit(1.0) / F.col("r").cast("double"),
    )
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(s, F.col("r").cast("double")),
        F.col("b").cast("double"),
    )
    return cells.select(
        F.col("b").cast("bigint").alias("bands"),
        F.col("r").cast("bigint").alias("rows_per_band"),
        F.col("j_pct").cast("bigint").alias("jaccard_pct"),
        F.round(thr * 1_000_000).cast("bigint").alias("threshold_ppm"),
        F.round(p * 1_000_000).cast("bigint").alias(
            "candidate_prob_ppm"
        ),
    )


def _lsh_planner_oracle() -> str:
    grid = " UNION ALL ".join(
        f"SELECT {b} AS b, {r} AS r" for b, r in LSH_GRID
    )
    levels = ", ".join(str(j) for j in LSH_JACCARDS)
    return f"""
WITH grid AS ({grid}),
lv AS (SELECT unnest([{levels}]) AS j_pct),
cells AS (SELECT b, r, j_pct FROM grid CROSS JOIN lv)
SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
  CAST(j_pct AS BIGINT) AS jaccard_pct,
  CAST(round(pow(1.0 / b, 1.0 / r) * 1000000) AS BIGINT)
    AS threshold_ppm,
  CAST(round((1.0 - pow(1.0 - pow(j_pct / 100.0, CAST(r AS DOUBLE)),
                        CAST(b AS DOUBLE))) * 1000000) AS BIGINT)
    AS candidate_prob_ppm
FROM cells
"""


#: span corruption (T5/UL2 denoising) planning: target noise density
#: 15% (mask a position iff md5(doc_id:pos) mod 1000 < 150 — the
#: deterministic stand-in for the training-time RNG, so both engines
#: and every retry agree), adjacent masked positions merge into spans
SPAN_NOISE_PERMILLE = 150


def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption PLAN statistics (the T5/UL2 denoising objective's
    data-side step): deterministically mark ~15% of each document's
    token positions, merge adjacent marks into spans (what the encoder
    sees as one sentinel), and report per doc the realized mask ratio,
    span count, and mean span length — the knobs (noise density, mean
    span length) a pre-training run monitors against its targets. The
    hash-derived mask is the reproducibility contract: any engine, any
    retry, any partitioning produces the same corruption plan.

    Exactness: mask decisions are integer hash comparisons; span
    merging is the islands-and-gaps window (a span starts where the
    previous position is unmasked); ratios exported as exact ppm /
    micro integer divisions.

    Scale shape: posexplode is bounded by document length; the only
    window partitions BY DOC over its own masked positions (never
    corpus-wide); output one row per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        _words().alias("toks"),
    ).select("doc_id", F.size("toks").alias("n_tokens"), "toks")
    pos = toks.select(
        "doc_id",
        "n_tokens",
        F.posexplode("toks").alias("p", "w"),
    ).select("doc_id", "n_tokens", "p")
    pos_hash = _md5_int("concat(cast(doc_id as string), ':', cast(p as string))")
    masked = pos.filter(F.expr(f"pmod({pos_hash}, 1000) < {SPAN_NOISE_PERMILLE}"))
    w = Window.partitionBy("doc_id").orderBy("p")
    spans = masked.withColumn(
        "new_span",
        F.when(
            F.lag("p").over(w).isNull()
            | (F.lag("p").over(w) != F.col("p") - 1),
            1,
        ).otherwise(0),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_masked"),
        F.sum("new_span").cast("bigint").alias("n_spans"),
    )
    return (
        toks.select("doc_id", "n_tokens")
        .join(per_doc.drop("n_tokens"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_masked", F.lit(0)).alias("n_masked"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.expr(
                "coalesce(n_masked, 0L) * 1000000 div n_tokens"
            ).alias("mask_ratio_ppm"),
            F.expr(
                "CASE WHEN coalesce(n_spans, 0L) > 0 THEN"
                " n_masked * 1000000 div n_spans END"
            ).alias("mean_span_len_micro"),
        )
    )


_SPAN_CORRUPTION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens FROM toks
), pos AS (
  SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS p
  FROM toks
), masked AS (
  SELECT doc_id, p FROM pos
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                            || CAST(p AS VARCHAR)), 1, 8))::BIGINT
        % 1000 < {SPAN_NOISE_PERMILLE}
), spans AS (
  SELECT doc_id, p,
    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
           OR lag(p) OVER (PARTITION BY doc_id ORDER BY p) != p - 1
         THEN 1 ELSE 0 END AS new_span
  FROM masked
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked,
    CAST(sum(new_span) AS BIGINT) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
  coalesce(p.n_masked, 0) AS n_masked,
  coalesce(p.n_spans, 0) AS n_spans,
  CAST(coalesce(p.n_masked, 0) * 1000000 // b.n_tokens AS BIGINT)
    AS mask_ratio_ppm,
  CASE WHEN coalesce(p.n_spans, 0) > 0 THEN
    CAST(p.n_masked * 1000000 // p.n_spans AS BIGINT)
  END AS mean_span_len_micro
FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
"""


QUERIES = {
    "url_canonicalize_dedup": q_url_canonicalize_dedup,
    "shard_manifest": q_shard_manifest,
    "top_p_source_selection": q_top_p_source_selection,
    "html_strip_clean": q_html_strip_clean,
    "length_bucket_batches": q_length_bucket_batches,
    "pii_redact": q_pii_redact,
    "decontaminate": q_decontaminate,
    "sequence_packing": q_sequence_packing,
    "tfidf_top_terms": q_tfidf_top_terms,
    "group_sample_fixed_n": q_group_sample_fixed_n,
    "embedding_quantize_int8": q_embedding_quantize_int8,
    "source_mix_rebalance": q_source_mix_rebalance,
    "blocklist_screen": q_blocklist_screen,
    "negative_sampling_pairs": q_negative_sampling_pairs,
    "doc_chunk_overlap": q_doc_chunk_overlap,
    "embedding_quality_score": q_embedding_quality_score,
    "zscore_normalize": q_zscore_normalize,
    "agg_salted_sum": q_agg_salted_sum,
    "chunk_dedup": q_chunk_dedup,
    "quality_gate_verdict": q_quality_gate_verdict,
    "dedup_incremental_vs_history": q_dedup_incremental_vs_history,
    "dedup_incremental_bloom": q_dedup_incremental_bloom,
    "corpus_global_shuffle": q_corpus_global_shuffle,
    "dedup_survivorship": q_dedup_survivorship,
    "sampling_temperature_mix": q_sampling_temperature_mix,
    "winnowing_fingerprint": q_winnowing_fingerprint,
    "cross_source_dup_matrix": q_cross_source_dup_matrix,
    "span_corruption_plan": q_span_corruption_plan,
    "dsir_importance_weights": q_dsir_importance_weights,
    "curriculum_stages": q_curriculum_stages,
    "watermark_greenlist_scan": q_watermark_greenlist_scan,
    "max_cover_selection": q_max_cover_selection,
    "quota_apportionment": q_quota_apportionment,
    "context_length_sweep": q_context_length_sweep,
    "minhash_lsh_planner": q_minhash_lsh_planner,
    "content_defined_chunks": q_content_defined_chunks,
    "truncation_loss_report": q_truncation_loss_report,
}

ORACLES = {
    "url_canonicalize_dedup": _URL_CANON_ORACLE,
    "shard_manifest": _SHARD_ORACLE,
    "top_p_source_selection": _TOP_P_ORACLE,
    "html_strip_clean": """
WITH staged AS (
  SELECT doc_id, source,
    '<html><body><p>' ||
    replace(replace(text, ' the ', ' <b>the</b> '), ' and ', ' &amp; ') ||
    '</p><div class="footer">(c) ' || source || '</div></body></html>'
      AS html,
    text
  FROM documents
), stripped AS (
  SELECT doc_id, html,
    trim(regexp_replace(
      replace(replace(replace(
        regexp_replace(html, '<[^>]*>', ' ', 'g'),
        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
      '[ \t\n\r]+', ' ', 'g')) AS clean_text,
    trim(regexp_replace(
      replace(text, ' and ', ' & ') || ' (c) ' || source,
      '[ \t\n\r]+', ' ', 'g')) AS expected
  FROM staged
)
SELECT doc_id, clean_text,
  clean_text = expected AS is_lossless,
  CAST(length(clean_text) AS BIGINT) * 1000000 // length(html)
    AS retained_ppm
FROM stripped
""",
    "length_bucket_batches": _LENGTH_BUCKET_ORACLE,
    "pii_redact": f"""
SELECT event_id,
  regexp_replace(regexp_replace(props, '{RE_EMAIL}', '<EMAIL>', 'g'),
                 '{RE_NUMBER_RUN}', '<NUM>', 'g') AS clean_props,
  CAST(len(regexp_extract_all(props, '{RE_NUMBER_RUN}')) AS INTEGER) AS n_number_runs,
  CAST(len(regexp_extract_all(props, '{RE_EMAIL}')) AS INTEGER) AS n_emails
FROM events
""",
    "decontaminate": f"""
WITH sh AS (
  SELECT doc_id, doc_id % {EVAL_MOD} < {EVAL_CUT} AS is_eval,
    unnest(list_distinct(list_transform(
      generate_series(1, len(string_split(lower(trim(text)), ' ')) - 2),
      i -> string_split(lower(trim(text)), ' ')[i] || ' ' ||
           string_split(lower(trim(text)), ' ')[i+1] || ' ' ||
           string_split(lower(trim(text)), ' ')[i+2]))) AS shingle
  FROM documents
)
SELECT t.doc_id, CAST(count(DISTINCT t.shingle) AS BIGINT) AS n_shared_shingles
FROM (SELECT * FROM sh WHERE NOT is_eval) t
WHERE t.shingle IN (SELECT shingle FROM sh WHERE is_eval)
GROUP BY t.doc_id
""",
    "sequence_packing": f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), walk AS (
  SELECT doc_id, source, n_tokens, rn,
    0 AS pack_id, n_tokens AS pack_fill_after
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.source, t.n_tokens, t.rn,
    CASE WHEN w.pack_fill_after > 0
              AND w.pack_fill_after + t.n_tokens > {PACK_BUDGET}
         THEN w.pack_id + 1 ELSE w.pack_id END,
    CASE WHEN w.pack_fill_after > 0
              AND w.pack_fill_after + t.n_tokens > {PACK_BUDGET}
         THEN t.n_tokens ELSE w.pack_fill_after + t.n_tokens END
  FROM walk w JOIN toks t ON t.source = w.source AND t.rn = w.rn + 1
)
SELECT doc_id, source, n_tokens,
  CAST(pack_id AS INTEGER) AS pack_id,
  CAST(pack_fill_after AS INTEGER) AS pack_fill_after
FROM walk
""",
    "tfidf_top_terms": f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
    CAST(round(tf.tf * (CAST(n.n_docs AS DOUBLE) - df.df + 0.5)
               / (df.df + 0.5) * 1000000.0) AS BIGINT) AS score_mu
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id,
  CAST(row_number() OVER (PARTITION BY doc_id
       ORDER BY score_mu DESC, term ASC) AS INTEGER) AS rank,
  term, score_mu
FROM scored
QUALIFY rank <= {TOP_TERMS}
""",
    "group_sample_fixed_n": f"""
SELECT source,
  CAST(row_number() OVER (PARTITION BY source
       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INTEGER) AS rk,
  doc_id, lang
FROM documents
QUALIFY rk <= {GROUP_SAMPLE_N}
""",
    "source_mix_rebalance": f"""
WITH w(lang, wt) AS (VALUES {_MIX_VALUES}),
counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
t AS (
  SELECT min(n * {MIX_DENOM} // wt) AS t FROM counts JOIN w USING (lang)
),
quota AS (
  SELECT w.lang, (SELECT t FROM t) * wt // {MIX_DENOM} AS q FROM w
),
ranked AS (
  SELECT doc_id, lang, source,
    row_number() OVER (
      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) AS rk
  FROM documents
)
SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, source
FROM ranked JOIN quota USING (lang)
WHERE rk <= q
""",
    "embedding_quantize_int8": """
WITH e AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), s AS (
  SELECT vec_id, dv,
    list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, dv, scale,
    list_transform(dv, x -> CAST(round(x / scale) AS INTEGER)) AS q8
  FROM s
)
SELECT vec_id,
  CAST(round(scale * 1000000.0) AS BIGINT) AS scale_mu,
  array_to_string(q8, ',') AS q8,
  CAST(round(list_max(list_transform(
      generate_series(1, len(dv)),
      i -> abs(dv[i] - CAST(q8[i] AS DOUBLE) * scale))) * 1000000.0) AS BIGINT)
    AS max_err_mu
FROM q
""",
    "blocklist_screen": _BLOCKLIST_ORACLE,
    "negative_sampling_pairs": _NEG_ORACLE,
    "doc_chunk_overlap": f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks,
    unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS st
  FROM t
)
SELECT doc_id,
  CAST((st - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
  CAST(st AS INTEGER) AS chunk_start,
  CAST(len(list_slice(toks, st, st + {CHUNK_TOKENS} - 1)) AS INTEGER)
    AS n_chunk_tokens,
  array_to_string(list_slice(toks, st, st + {CHUNK_TOKENS} - 1), ' ')
    AS chunk_text
FROM s
""",
    "zscore_normalize": """
WITH stats AS (
  SELECT count(*) AS n,
    sum(CAST(round(l_quantity * 100) AS BIGINT)) AS s_q,
    sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS DECIMAL(19,0))
        * CAST(CAST(round(l_quantity * 100) AS BIGINT) AS DECIMAL(19,0))) AS ss_q,
    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s_p,
    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0))
        * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0))) AS ss_p
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
  CAST(round((CAST(CAST(round(l_quantity * 100) AS BIGINT) AS DOUBLE)
      - CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE))
    / sqrt((CAST(ss_q AS DOUBLE)
      - (CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(s_q AS DOUBLE))
      / CAST(n AS DOUBLE))
    * 1000000) AS BIGINT) AS z_l_quantity_mu,
  CAST(round((CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
      - CAST(s_p AS DOUBLE) / CAST(n AS DOUBLE))
    / sqrt((CAST(ss_p AS DOUBLE)
      - (CAST(s_p AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(s_p AS DOUBLE))
      / CAST(n AS DOUBLE))
    * 1000000) AS BIGINT) AS z_l_extendedprice_mu
FROM lineitem CROSS JOIN stats
""",
    "agg_salted_sum": """
SELECT event_type,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
  count(*) AS n_events
FROM events
GROUP BY event_type
""",
    "embedding_quality_score": f"""
WITH w AS (
  SELECT [{", ".join(str(_scorer_weight(i)) for i in range(_SCORER_DIM))}] AS wv
)
SELECT vec_id, label,
  CAST(round(list_sum(list_transform(
      list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), wv),
      p -> p[1] * p[2])) * 1000000) AS BIGINT) AS logit_mu,
  CAST(list_sum(list_transform(
      list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), wv),
      p -> p[1] * p[2])) > 0 AS INTEGER) AS keep
FROM embeddings CROSS JOIN w
""",
    "chunk_dedup": f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks,
    unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS st
  FROM t
), chunks AS (
  SELECT doc_id,
    CAST((st - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
    array_to_string(list_slice(toks, st, st + {CHUNK_TOKENS} - 1), ' ')
      AS chunk_text
  FROM s
)
SELECT md5(chunk_text) AS chunk_fp,
  min(doc_id * 100000 + chunk_idx) // 100000 AS rep_doc_id,
  CAST(min(doc_id * 100000 + chunk_idx) % 100000 AS INTEGER) AS rep_chunk_idx,
  count(*) AS n_copies
FROM chunks
GROUP BY chunk_fp
HAVING count(*) > 1
""",
    "quality_gate_verdict": f"""
WITH d AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    len(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
    length(text) AS n_chars,
    len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
)
SELECT doc_id,
  CAST(n_tokens AS INTEGER) AS n_tokens,
  CAST(n_tokens < {GATE_MIN_TOKENS} AS INTEGER) AS flag_short,
  CAST(n_upper * {_UPPER_Q} > {_UPPER_P} * n_chars AS INTEGER) AS flag_upper,
  CAST(n_uniq * {_UNIQ_Q} < {_UNIQ_P} * n_tokens AS INTEGER) AS flag_repetitive,
  CAST((CAST(n_tokens < {GATE_MIN_TOKENS} AS INTEGER)
      + CAST(n_upper * {_UPPER_Q} > {_UPPER_P} * n_chars AS INTEGER)
      + CAST(n_uniq * {_UNIQ_Q} < {_UNIQ_P} * n_tokens AS INTEGER)) = 0 AS INTEGER) AS keep
FROM d
""",
    "dedup_incremental_vs_history": f"""
WITH hist AS (
  SELECT DISTINCT md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % {HIST_MOD} < {HIST_CUT}
)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id % {HIST_MOD} >= {HIST_CUT}
  AND md5(lower(trim(text))) NOT IN (SELECT fp FROM hist)
""",
    # bloom prefilter + exact verify == the plain anti-join, bit-equal
    "dedup_incremental_bloom": f"""
WITH hist AS (
  SELECT DISTINCT md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % {HIST_MOD} < {HIST_CUT}
)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id % {HIST_MOD} >= {HIST_CUT}
  AND md5(lower(trim(text))) NOT IN (SELECT fp FROM hist)
""",
    "corpus_global_shuffle": _SHUFFLE_ORACLE,
    "dedup_survivorship": _SURVIVORSHIP_ORACLE,
    "sampling_temperature_mix": _TEMPERATURE_ORACLE,
    "winnowing_fingerprint": _WINNOW_ORACLE,
    "cross_source_dup_matrix": _CROSS_SOURCE_ORACLE,
    "span_corruption_plan": _SPAN_CORRUPTION_ORACLE,
    "dsir_importance_weights": _DSIR_ORACLE,
    "curriculum_stages": _CURRICULUM_ORACLE,
    "watermark_greenlist_scan": _WM_ORACLE,
    "max_cover_selection": _maxcover_oracle(),
    "quota_apportionment": _QUOTA_ORACLE,
    "context_length_sweep": _CTX_SWEEP_ORACLE,
    "minhash_lsh_planner": _lsh_planner_oracle(),
    "content_defined_chunks": _CDC_ORACLE,
    "truncation_loss_report": _TRUNC_ORACLE,
}
