"""LLM training-data preparation operators, part 2 (north star in
BASELINE.json; absent from the reference, SURVEY.md §2.2): overlapping
document chunking, exact z-score feature standardization, and skew-safe
two-phase (salted) aggregation.

Scale design (100 TB):
- doc_chunk_overlap is a map-only explode: each document expands to its
  chunk windows inside the scan stage — no shuffle, output rows ~= input
  tokens / stride. The standard pre-embedding / pre-indexing step that
  splits long documents into overlapping context windows.
- zscore_normalize is the classic fit/transform split of the flagship
  tokenizer applied to standardization: the "fit" is one aggregation
  producing KBs of driver state (count + exact integer sums), the
  transform is map-only arithmetic. Sums run in exact integer/decimal
  space so the fitted moments are bit-identical regardless of partition
  count or aggregation order — the float-sum nondeterminism that plagues
  distributed standardization is engineered out, not tolerated.
- agg_salted_sum demonstrates the two-phase aggregation a skewed key
  distribution needs at scale: partial aggregate on (key, salt) spreads
  one hot key over 16 reducers, the final aggregate combines 16 small
  partials. Decimal partials make the salt provably result-neutral (the
  oracle is the UNSALTED single-phase SQL — same bits out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_events, load_table

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
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
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
from fractions import Fraction as _Fraction  # noqa: E402

_UPPER_P, _UPPER_Q = (
    _Fraction(GATE_MAX_UPPER_RATIO).limit_denominator(10_000).as_integer_ratio()
)
_UNIQ_P, _UNIQ_Q = (
    _Fraction(GATE_MIN_UNIQUE_RATIO).limit_denominator(10_000).as_integer_ratio()
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
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), " "))
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


QUERIES = {
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
}

ORACLES = {
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
}
