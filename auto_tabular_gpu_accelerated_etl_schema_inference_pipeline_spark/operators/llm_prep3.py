"""Training-data curation operators, round 4 (north-star lanes beyond
the reference — SURVEY.md §2.2): deterministic corpus shuffling,
duplicate survivorship, and temperature-based source mixing.

All three follow the repo's exact-arithmetic oracle discipline: hash
permutations are pure integer arithmetic (no engine hash functions),
and the one float (pow in the temperature mix) is quantized to 6dp
micro-units on BOTH engines before any downstream arithmetic, so every
comparison/div is exact-integer (the unigram_lm_score / entropy
pattern, text_lm.py:56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table

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
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias(
            "pos", "w"
        ),
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    sh = (
        toks.withColumn("w2", F.lead("w", 1).over(wd))
        .withColumn("w3", F.lead("w", 2).over(wd))
        .filter(F.col("w3").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.expr(
                "cast(conv(substring(md5(concat_ws(' ', w, w2, w3)), 1, 8),"
                " 16, 10) as bigint)"
            ).alias("h"),
        )
    )
    key = (
        F.col("h") * F.lit(_WINNOW_POSMOD)
        + (F.lit(_WINNOW_POSMOD - 1) - F.col("pos"))
    )
    wwin = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    wcnt = W.partitionBy("doc_id")
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
    norm = F.lower(F.trim(F.col("text")))
    prefix = F.array_join(F.slice(F.split(norm, " "), 1, 5), " ")
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


QUERIES = {
    "corpus_global_shuffle": q_corpus_global_shuffle,
    "dedup_survivorship": q_dedup_survivorship,
    "sampling_temperature_mix": q_sampling_temperature_mix,
    "winnowing_fingerprint": q_winnowing_fingerprint,
    "cross_source_dup_matrix": q_cross_source_dup_matrix,
}

ORACLES = {
    "corpus_global_shuffle": _SHUFFLE_ORACLE,
    "dedup_survivorship": _SURVIVORSHIP_ORACLE,
    "sampling_temperature_mix": _TEMPERATURE_ORACLE,
    "winnowing_fingerprint": _WINNOW_ORACLE,
    "cross_source_dup_matrix": _CROSS_SOURCE_ORACLE,
}
