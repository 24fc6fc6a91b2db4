"""Training-data curation operators, round 4 batch 2 (north-star lanes
beyond the reference — SURVEY.md §2.2): DSIR importance weighting,
content-defined chunking, and truncation-loss accounting.

Same exact-arithmetic oracle discipline as llm_prep3.py: hashes are
md5-prefix integers (portable across engines), the single float per
operator (one ``ln`` in DSIR) is quantized to micro-nats BEFORE any
downstream arithmetic, and every sum/div after that is exact BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table

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
    arr = F.split(F.lower(F.trim(F.col("text"))), " ")
    buckets = F.expr(
        "transform(sequence(1, size(arr) - 1), i -> "
        "cast(conv(substring(md5(concat(arr[i-1], ' ', arr[i])), 1, 8),"
        f" 16, 10) as bigint) % {DSIR_BUCKETS})"
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
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias(
            "pos", "w"
        ),
    )
    bf = (
        F.expr(
            "cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)"
            f" % {CDC_MOD}"
        )
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
    n = F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
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
    arr = F.split(F.lower(F.trim(F.col("text"))), " ")
    g = F.expr(
        "aggregate(arr, 0L, (acc, w) -> acc + "
        "(cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint) % 2))"
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
    arr = F.split(F.lower(F.trim(F.col("text"))), " ")
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
    n = F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
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
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
    ).select("doc_id", F.size("toks").alias("n_tokens"), "toks")
    pos = toks.select(
        "doc_id",
        "n_tokens",
        F.posexplode("toks").alias("p", "w"),
    ).select("doc_id", "n_tokens", "p")
    masked = pos.filter(
        F.expr(
            "pmod(cast(conv(substring(md5(concat(cast(doc_id as string),"
            f" ':', cast(p as string))), 1, 8), 16, 10) as bigint), 1000)"
            f" < {SPAN_NOISE_PERMILLE}"
        )
    )
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
