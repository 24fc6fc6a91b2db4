"""LLM training-data preparation operators — the pipeline stages between
a raw crawled corpus and a tokenizer-ready dataset (north star in
BASELINE.json; entirely absent from the reference, whose surface is the
numeric tokenize pipeline of SURVEY.md §2.1): PII redaction,
train/eval decontamination, sequence packing, BM25-ish salient terms,
per-group deterministic sampling, and int8 embedding quantization.

Scale design (100 TB):
- pii_redact, embedding_quantize, group_sample are map-only column
  expressions (sample adds one narrow per-group window) — shuffle-free
  or single-key-shuffle stages that trivially scale out.
- decontaminate shuffles only (doc_id, shingle) pairs — never document
  text — and the eval side (a few % of the corpus) is broadcast, so the
  contamination check is a map-side hash probe per shingle.
- sequence_packing is the one genuinely sequential op (greedy first-fit
  depends on every earlier document); it is sequential PER SOURCE only,
  so `applyInPandas` gives per-group parallelism — the standard way LLM
  pipelines shard packing (one worker per shard, deterministic order
  within a shard).

Determinism for the oracle gate: BM25-ish idf uses NO transcendental
functions — scores are single IEEE divisions of exact small integers
(+0.5), bit-identical across engines; ranking happens on the quantized
integer score so last-ulp differences cannot reorder ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events, load_spread, load_table

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
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
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
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term")
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
    key = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
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
    shard = F.expr(
        f"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        f" AS INT) % {N_SHARDS}"
    )
    toks = F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
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
            F.expr(
                "pmod(CAST(conv(substring(md5(CAST(doc_id AS STRING)),"
                " 1, 15), 16, 10) AS BIGINT), 2147483647)"
            )
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
}
