"""Deduplication operators over ``documents`` — exact, n-gram Jaccard,
MinHash-LSH, SimHash (north-star LLM-pipeline surface; absent from the
reference, SURVEY.md §2.2).

Scale design (100 TB):
- **exact**: group by md5(normalized text) — the shuffle key is a 16-byte
  digest instead of the full document, so the exchange moves ~32 B/row
  regardless of document size. Map-side partial aggregation applies.
  Ahead of MinHash it needs no exchange: equal digests share every
  bucket, so the bucket window keeps the first (minhash_near_dup_drop_ids).
- **n-gram Jaccard (exact)**: inverted-index self-join (explode distinct
  tokens -> pair counts -> Jaccard from set sizes). Quadratic in the df of
  hot tokens — usable as the *verifier*; at scale you bound candidate
  pairs first (df-threshold / prefix filtering) or use MinHash-LSH below.
- **MinHash-LSH**: k minhashes from xxhash64 (JVM built-in, no UDF),
  banded into b groups of r; candidate pairs agree on >= 1 band bucket —
  the classic (1-(1-s^r)^b) S-curve. Shuffle is per-(band, bucket), so
  work scales with collisions, not n^2. Candidates are verified with the
  exact Jaccard join. xxhash64 has no DuckDB twin -> rows-only check;
  the exact-Jaccard operator above is the oracle-graded ground truth,
  and dedup_minhash_portable is the md5-keyed twin whose ENTIRE
  sketch->band->candidate->verify pipeline the oracle replays.
- **SimHash**: 64-bit signature via bit-vote over token hashes; near-dups
  agree on most bits. Banding the 64 bits into 4x16 gives pigeonhole
  candidate generation for hamming distance <= 3 entirely with equi-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_spread, load_table, pinned_shuffle_width, quote_name, write_released

JACCARD_THRESHOLD = 0.95
MINHASH_K = 32          # number of hash functions
MINHASH_BANDS = 4       # bands of r = K/BANDS = 8 rows each: collision
                        # prob at j=0.95 is 1-(1-0.95^8)^4 ≈ 0.96, at
                        # j=0.85 only ≈ 0.66 — a sharp S-curve matters
                        # here because the word-soup corpus is globally
                        # similar (most pairs have j >= 0.8)
SIMHASH_BITS = 64
VERIFY_TOP_M = 10       # exact-verify budget per doc in the linear
                        # drop-ids path (see minhash_near_dup_drop_ids)
REPS_PER_BUCKET = 16    # candidate partners per (band, bucket) in the
                        # drop-ids path: each doc pairs only with the
                        # bucket's 16 smallest ids, so giant LSH buckets
                        # cost O(bucket * 16) instead of O(bucket^2)


def _norm_text():
    return F.lower(F.trim(F.col("text")))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: representative = min(doc_id) per
    distinct text, with the duplicate count."""
    docs = load_spread(spark, sf_dir, "documents")
    return (
        docs.groupBy(_norm_text().alias("text_norm"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("rep_doc_id", "n_copies")
    )


def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on md5 digest — the at-scale variant (32-byte
    shuffle key instead of full text). Output identical to q_dedup_exact
    whenever md5 is collision-free on the corpus."""
    docs = load_spread(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(_norm_text()).alias("fp"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("fp", "rep_doc_id", "n_copies")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (j >= 0.95) via an
    AllPairs/PPJoin-style PREFIX-FILTERED inverted-index self-join.

    Why not the naive per-token self-join: candidates there are
    sum(df^2) over tokens — on this corpus (31-token vocabulary, 5000
    docs at sf0.1) that is 4.5e8 join rows for an output of ~1e6 pairs.
    The prefix filter is the standard LOSSLESS pruning: order tokens
    globally by (document frequency, token); if J(A,B) >= t, the overlap
    o >= ceil(t*|A|), so the first common token in that order sits among
    A's first |A| - o + 1 <= |A| - ceil(t*|A|) + 1 tokens (pigeonhole),
    and symmetrically for B. Indexing only that prefix (~2 tokens/doc at
    t=0.95) shrinks the candidate join ~100x with zero recall loss.
    ceil(t*sz) is computed in exact integer arithmetic (t as a rational
    p/q) — float ceil(0.95*20) = 20 in IEEE would SHORTEN the prefix and
    silently drop pairs.

    Candidates then pass the lossless length filter (q*min >= p*max) and
    exact verification: token arrays joined back (broadcast here; at a
    scale where the per-doc token table outgrows the broadcast limit the
    same plan runs as a shuffle hash join on the pair ids), jaccard =
    |A∩B| / (|A|+|B|-|A∩B|) as one integer division — bit-identical to
    the oracle's arithmetic."""
    from fractions import Fraction

    frac = Fraction(JACCARD_THRESHOLD).limit_denominator(10_000)
    tp, tq = frac.numerator, frac.denominator
    docs = load_spread(spark, sf_dir, "documents")
    toks_arr = F.array_distinct(F.split(_norm_text(), " "))
    toks_df = docs.select("doc_id", toks_arr.alias("toks"))
    tok_rows = toks_df.select("doc_id", F.explode("toks").alias("tok"))
    dfreq = tok_rows.groupBy("tok").agg(F.count("*").alias("dfreq"))
    ranked = (
        tok_rows.join(F.broadcast(dfreq), "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("dfreq", "tok")
            ),
        )
    )
    sizes = toks_df.select("doc_id", F.size("toks").alias("sz"))
    # prefix length = sz - ceil(t*sz) + 1, exact: ceil(tp*sz/tq)
    prefix = (
        ranked.join(sizes, "doc_id")
        .filter(
            F.col("rn")
            <= F.col("sz") - F.expr(f"({tp} * sz + {tq} - 1) div {tq}") + 1
        )
        .select("doc_id", "tok", "sz")
    )
    # VERIFY strategy: exact |A∩B| per candidate. Adaptive physical
    # choice on a collected statistic (the AQE idea applied to expression
    # choice): when the global vocabulary fits in 62 bits, each token set
    # becomes one BIGINT bitmask and the intersection is bit_count(a & b)
    # — the same exact integers as array_intersect at a fraction of the
    # cost. The 8-byte mask rides THROUGH the prefix relation (tiny:
    # ~2 rows/doc) into the candidate join itself, so candidates come out
    # of the join already verifiable — zero post-join lookups. Real
    # corpora blow past 62 tokens, so the array path stays the general
    # case (token arrays are too wide to ride the join; they stay in a
    # broadcast side-table) — the mask path is what a fused
    # similarity-join operator emits for small (or per-block)
    # dictionaries.
    # BOUNDED driver materialization: 63 rows decide the branch. At 100 TB
    # the dictionary is billions of rows — collecting it whole is a driver
    # OOM; limit(63) keeps the decision O(1) and, when it does return <=62
    # rows, that IS the complete vocabulary, so the bitmask below is exact.
    vocab = [r["tok"] for r in dfreq.select("tok").limit(63).collect()]
    # Single branch decision reused at every mask/general fork below
    # (ADVICE r10): a threshold tweak that updated only some of the three
    # sites would silently mix the paths — e.g. drop the mask branch's
    # required post-filter dropDuplicates.
    use_mask = len(vocab) <= 62
    if use_mask:
        # token -> single-bit BIGINT via literal-column create_map: no SQL
        # string interpolation, so quotes/backslashes in tokens can't be
        # mangled by the parser. Lookup misses are impossible (vocab is
        # complete on this branch), so no NULL-mask hazard.
        tok_bit = F.create_map(
            *[
                c
                for i, t in enumerate(vocab)
                for c in (F.lit(t), F.lit(1 << i).cast("bigint"))
            ]
        )
        mask = F.aggregate(
            F.col("toks"),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc.bitwiseOR(tok_bit[t]),
        )
        masks = toks_df.select("doc_id", mask.alias("m"))
        pref = prefix.join(F.broadcast(masks), "doc_id")
        a = pref.select(
            F.col("doc_id").alias("a_id"), "tok",
            F.col("sz").alias("sz_a"), F.col("m").alias("m_a"),
        )
        b = pref.select(
            F.col("doc_id").alias("b_id"), "tok",
            F.col("sz").alias("sz_b"), F.col("m").alias("m_b"),
        )
        inter = F.bit_count(F.col("m_a").bitwiseAND(F.col("m_b")))
        union = F.bit_count("m_a") + F.bit_count("m_b") - inter
    else:
        a = prefix.select(
            F.col("doc_id").alias("a_id"), "tok", F.col("sz").alias("sz_a")
        )
        b = prefix.select(
            F.col("doc_id").alias("b_id"), "tok", F.col("sz").alias("sz_b")
        )
        inter = F.size(F.array_intersect("toks_a", "toks_b"))
        union = F.size("toks_a") + F.size("toks_b") - inter
    cand = (
        a.join(b, "tok")
        .filter(F.col("a_id") < F.col("b_id"))
        # lossless length filter: j <= min/max, so tq*min >= tp*max must hold
        .filter(
            F.lit(tq) * F.least("sz_a", "sz_b")
            >= F.lit(tp) * F.greatest("sz_a", "sz_b")
        )
    )
    if use_mask:
        verified = cand
    else:
        ta = F.broadcast(
            toks_df.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("toks_a"))
        )
        tb = F.broadcast(
            toks_df.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("toks_b"))
        )
        # Parallelism pin (PROBE_TOP5_LINEARITY_r09): the candidate
        # relation's BYTES are tiny (ids + prefix token), so AQE's
        # byte-based coalescing hands the whole verify fan-out — two
        # broadcast probes + array_intersect per candidate, the most
        # CPU-expensive rows in the plan — to a handful of tasks
        # (measured: 7 tasks, 345 s for a 50k-doc corpus; bytes are the
        # wrong proxy for verify CPU). Since breaking the stage costs an
        # exchange anyway, spend it twice over the NARROW id pairs:
        # dedup the multi-prefix candidate collisions first (map-side
        # partial agg, so the shuffle carries unique pairs), then a
        # fixed-width repartition (exempt from AQE coalescing) so
        # verification runs at full cluster width. The mask branch
        # stays exchange-free — its verify is inline bit ops.
        par = pinned_shuffle_width(spark)
        verified = (
            cand.select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
            .repartition(par, "a_id", "b_id")
            .join(ta, "a_id")
            .join(tb, "b_id")
        )
    # A pair can collide on up to prefix-length (~2 at t=0.95) shared
    # tokens, so candidates carry duplicates. Where the dedup happens
    # differs by branch, deliberately: the MASK branch verifies inline
    # (bit ops riding the candidate join — zero extra exchange), so its
    # dropDuplicates runs AFTER the jaccard filter where only survivors
    # (output-sized: 0.3M vs 3.4M raw at sf0.1) hit an exchange. The
    # GENERAL branch already deduplicates the narrow id pairs BEFORE its
    # expensive verify (the exchange exists anyway for the parallelism
    # pin above), so its output is unique by construction and needs no
    # second pass.
    out = verified.withColumn("jaccard", inter / union).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    ).select("a_id", "b_id", "jaccard")
    if use_mask:
        out = out.dropDuplicates(["a_id", "b_id"])
    return out


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint-pinned (a_id, b_id, jaccard) PPJoin near-dup
    relation — the most expensive shared subplan in the repo, computed
    at most once per session via session_memo and reused by four
    consumers (dedup_ngram_jaccard itself, dedup_components' general
    case, graph_pagerank, dedup_transitivity_audit). Uncached, each
    re-ran the whole prefix-build + candidate-join + verify pipeline
    (VERDICT r4 item 4: the transitivity audit alone cost 11.3 s)."""
    from ..session import session_memo

    return session_memo(
        spark,
        "near_dup_pairs",
        sf_dir,
        lambda: q_dedup_ngram_jaccard(spark, sf_dir),
    )


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint-pinned containment relation (subset_rep,
    superset_rep, group sizes) — computed at most once per session via
    session_memo and reused by its two consumers
    (containment_pairs itself and dedup_detector_agreement's census) —
    r13, the near_dup_pairs/minhash_portable_pairs discipline: uncached,
    the detector census re-ran the whole mask-group containment
    pipeline (~1.5 s) on every invocation."""
    from ..session import session_memo

    return session_memo(
        spark,
        "containment_pairs",
        sf_dir,
        lambda: q_containment_pairs(spark, sf_dir),
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment join at the DISTINCT-set level: which token sets
    are proper subsets of which (the quote/excerpt-detection primitive —
    J(A,B) misses A ⊂ B when |B| >> |A|; containment |A∩B|/|A| = 1
    catches it). Reported per (subset, superset) canonical-set pair
    with group sizes — doc-level expansion is a join away and
    intentionally NOT materialized (a universal superset would cross
    every group; the mask-level relation is the bounded artifact).

    Same canonicalization as the dedup clustering collapse: docs group
    by their 62-bit token mask (one 8-byte-key shuffle), and
    containment is ma & mb == ma over the D² mask pairs — map-only
    popcount-free bit math on a crossJoin of two D-row relations
    (D bounded by the same <= 4096 guard; the general path blocks by a
    rare token first, PPJoin-style). Oracle: list_has_all over the
    recomputed distinct sets."""
    docs = load_spread(spark, sf_dir, "documents")
    toks_df = docs.select(
        "doc_id", F.array_distinct(F.split(_norm_text(), " ")).alias("toks")
    )
    vocab = [
        r["tok"]
        for r in toks_df.select(F.explode("toks").alias("tok"))
        .distinct()
        .limit(63)
        .collect()
    ]
    assert len(vocab) <= 62, "fixture vocabulary exceeds mask width"
    tok_bit = F.create_map(
        *[
            c
            for i, t in enumerate(vocab)
            for c in (F.lit(t), F.lit(1 << i).cast("bigint"))
        ]
    )
    mask = F.aggregate(
        F.col("toks"),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc.bitwiseOR(tok_bit[t]),
    )
    groups = (
        toks_df.select("doc_id", mask.alias("m"))
        .groupBy("m")
        .agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .localCheckpoint()
    )
    a = groups.select(
        F.col("m").alias("ma"),
        F.col("rep").alias("subset_rep"),
        F.col("n_docs").alias("n_subset_docs"),
    )
    b = groups.select(
        F.col("m").alias("mb"),
        F.col("rep").alias("superset_rep"),
        F.col("n_docs").alias("n_superset_docs"),
    )
    return (
        a.crossJoin(b)
        .filter(
            (F.col("ma") != F.col("mb"))
            & (F.col("ma").bitwiseAND(F.col("mb")) == F.col("ma"))
        )
        .select(
            "subset_rep",
            "superset_rep",
            "n_subset_docs",
            "n_superset_docs",
        )
    )


_CONTAINMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id,
    list_sort(list_distinct(string_split(lower(trim(text)), ' '))) AS s
  FROM documents
), groups AS (
  SELECT s, min(doc_id) AS rep, count(*) AS n_docs
  FROM toks GROUP BY s
)
SELECT a.rep AS subset_rep, b.rep AS superset_rep,
  a.n_docs AS n_subset_docs, b.n_docs AS n_superset_docs
FROM groups a JOIN groups b
  ON a.rep <> b.rep AND list_has_all(b.s, a.s)
"""


#: The MinHash stage as SQL text: one definition of the signature, the
#: bands, the estimate and the verify, shared by the drop path and the
#: pair path. A ``selectExpr`` string crosses Py4J as one argument; the
#: same projections built from Column objects sent one command per
#: function node. Building the corpus pipeline's near-dedup stage took
#: 2,718 commands and 0.5-0.9 s of driver time before any job ran; as
#: text it takes 142 and ~0.24 s (4 vCPU).
_R = MINHASH_K // MINHASH_BANDS
#: k minhashes: min over the doc's tokens of xxhash64(token, i). Pure
#: built-ins, no UDF.
_SIG = "array({}) AS sig".format(
    ", ".join(f"array_min(transform(toks, t -> xxhash64(t, {i})))" for i in range(MINHASH_K))
)
#: one (band, bucket) row per band: the bucket hashes the band's r slots
_BANDS = "inline(array({}))".format(
    ", ".join(
        "named_struct('band', {}, 'bucket', xxhash64({}))".format(
            i, ", ".join(f"sig[{i * _R + j}]" for j in range(_R))
        )
        for i in range(MINHASH_BANDS)
    )
)
#: MinHash estimate of a pair's Jaccard: the share of agreeing slots
_EST = f"size(filter(zip_with(a_sig, b_sig, (x, y) -> x = y), m -> m)) / {MINHASH_K}"
#: exact token-set Jaccard of a pair
_JACCARD = (
    "size(array_intersect(toks_a, toks_b))"
    " / (size(toks_a) + size(toks_b) - size(array_intersect(toks_a, toks_b)))"
)
_AT_LEAST = f">= {JACCARD_THRESHOLD!r}D"


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs, verified with exact Jaccard.

    sig: k=32 minhashes; bands: 4 bands x 8 rows hashed to a bucket key;
    candidates: equi-join on (band, bucket); verify: exact token-set
    Jaccard >= threshold on the candidate pairs only. At 100 TB the
    verify join touches only colliding pairs — the LSH S-curve keeps that
    near-linear for high thresholds. Rows-only check (xxhash64 is
    Spark-specific); ground truth = dedup_ngram_jaccard. Written to a
    temporary table with both pins released (write_released)."""
    pairs = minhash_near_dup_pairs(pin_doc_tokens(load_spread(spark, sf_dir, "documents")))
    return write_released(pairs, release=(pairs,))


def _doc_toks():
    """Each doc's distinct normalized tokens."""
    return F.array_distinct(F.split(_norm_text(), " ")).alias("toks")


def pin_doc_tokens(docs: DataFrame, *keep) -> DataFrame:
    """``(doc_id, *keep, toks)`` over a text-bearing frame, pinned with
    ``localCheckpoint``: ``toks`` is each doc's distinct normalized
    tokens, the one input the MinHash operators read. ``keep`` are
    extra columns (names or expressions) a caller wants on the same pin,
    so the text is read and tokenized in one pass and nothing
    downstream of the pin carries it.

    The pin is what makes the signatures cheap (r12, guide §1.2 per-task
    work): the 32 array_min(transform(...)) slots are higher-order
    functions — excluded from both whole-stage codegen and common-
    subexpression elimination — so inlining the split+distinct
    EXPRESSION into each slot re-evaluated the tokenization 33x per row
    (measured: the signature+bands pass dropped 4.9 s -> 2.1 s at sf0.1
    when the slots read a pinned column instead). The verify stage
    broadcasts the same pinned column. ``localCheckpoint``, not
    ``persist()``: under AQE each cached relation runs as its own query
    stage, ~3 more jobs per corpus curation. The pin is released
    through its ``LogicalRDD`` (``unpin``). A ``doc_fp()`` in ``keep``
    adds the exact dedup to the drop path (minhash_near_dup_drop_ids)."""
    return docs.select("doc_id", *keep, _doc_toks()).localCheckpoint()


def doc_fp():
    """The 16-byte md5 of the normalized text: equal keys, equal toks."""
    return F.unhex(F.md5(_norm_text())).alias("fp")


def _minhash_bands(toks_df: DataFrame, carry_sig: bool = False) -> DataFrame:
    """Shared MinHash plumbing over a ``(doc_id, toks, *carried)`` frame:
    the (doc_id, band, bucket) frame, unpinned. With ``carry_sig`` (the
    drop path) every row also carries the 32-long signature, the
    token-set size (~260 B/row, used for in-bucket Jaccard estimation
    and the length filter) and, when the frame has one, the 16-byte
    ``fp`` (doc_fp); the band-0 row carries ``keep``: a struct of the
    doc's columns but ``toks`` and ``fp``, null on the other bands, so a
    doc's own columns cross the exchange once. Bands never carry token
    arrays: at scale the arrays dominate the row width and the bucket
    fan-out squares it."""
    if not carry_sig:
        return toks_df.selectExpr("doc_id", _SIG).selectExpr("doc_id", _BANDS)
    fp = [c for c in toks_df.columns if c == "fp"]
    keep = ", ".join(quote_name(c) for c in toks_df.columns if c not in ("toks", "fp"))
    return (
        toks_df.selectExpr("doc_id", *fp, _SIG, "size(toks) AS sz", f"struct({keep}) AS keep")
        .selectExpr("doc_id", *fp, "sig", "sz", "keep", _BANDS)
        .selectExpr("doc_id", *fp, "sig", "sz", "band", "bucket", "IF(band = 0, keep, NULL) AS keep")
    )


def _broadcast_toks(toks_df: DataFrame, id_col: str, toks_col: str) -> DataFrame:
    return toks_df.selectExpr(f"doc_id AS {id_col}", f"toks AS {toks_col}").hint("broadcast")


def minhash_near_dup_pairs(toks_df: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup pairs over a ``(doc_id, toks)`` frame (see
    pin_doc_tokens) — see q_dedup_minhash_lsh for the algorithm notes.
    NOTE: output is ALL verified pairs — inherently quadratic in
    near-dup cluster size (a 1600-doc family is ~1.3M pairs). For dedup
    decisions use minhash_near_dup_drop_ids, which is linear."""
    # Pin the bands (r12, guide §2.4/§5): both sides of the self-join
    # read them, and Catalyst shares no subtrees across DAG branches, so
    # unpinned each side recomputed the signatures (measured ~+40% CPU
    # sharing the (band, bucket) exchange instead). Ids + buckets only,
    # never raw text.
    bands = _minhash_bands(toks_df).localCheckpoint()
    cand = (
        bands.selectExpr("doc_id AS a_id", "band", "bucket")
        .join(bands.selectExpr("doc_id AS b_id", "band", "bucket"), ["band", "bucket"])
        .filter("a_id < b_id")
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    # verification: broadcast the token table (per-doc distinct tokens —
    # MBs, not the quadratic pair set) so the exact-Jaccard check is a
    # map-only stage over the candidates.
    return (
        cand.join(_broadcast_toks(toks_df, "a_id", "toks_a"), "a_id")
        .join(_broadcast_toks(toks_df, "b_id", "toks_b"), "b_id")
        .selectExpr("a_id", "b_id", f"{_JACCARD} AS jaccard")
        .filter(f"jaccard {_AT_LEAST}")
    )


def _bucket_rep_pairs(bands: DataFrame) -> DataFrame:
    """``(b_id, b_sig, sz_b, dup, a_id, a_sig, sz_a, keep)``: every band
    row (b) beside each of its (band, bucket)'s REPS_PER_BUCKET smallest
    ids (a) — the rows of ``reps ⋈ bands`` on (band, bucket), ``keep``
    null — plus one SELF row per band-0 row: ``a_*`` null and ``keep``
    the doc's carried columns. One exchange: the representatives reach
    every row of their bucket as one list (<= REPS_PER_BUCKET entries)
    collected over the whole (band, bucket) window, and a band-0 row
    appends its self entry before the list is inlined. No join, and no
    broadcast of the band rows, so the shape holds once they outgrow a
    broadcast. With ``fp`` the window is also the exact dedup: copies
    share every bucket, and a row whose predecessor in (fp, doc_id)
    order has its fp is a ``dup`` (a window over fp would add an
    exchange). Dups are never representatives and send only the band-0
    self row, ``dup`` set; without ``fp`` no row is a dup."""
    bucket = "PARTITION BY band, bucket"
    lag = f"coalesce(lag(fp) OVER ({bucket} ORDER BY fp, doc_id) = fp, false)"
    dup = lag if "fp" in bands.columns else "false"
    rep = "named_struct('a_id', doc_id, 'a_sig', sig, 'sz_a', sz, 'keep', NULL)"
    own = "array(named_struct('a_id', NULL, 'a_sig', NULL, 'sz_a', NULL, 'keep', b_keep))"
    return (
        bands.selectExpr("*", f"{dup} AS dup")
        .selectExpr("*", f"row_number() OVER ({bucket} ORDER BY dup, doc_id) AS rep_rk")
        .selectExpr(
            "doc_id AS b_id", "sig AS b_sig", "sz AS sz_b", "dup", "keep AS b_keep",
            f"collect_list(IF(rep_rk <= {REPS_PER_BUCKET} AND NOT dup, {rep}, NULL))"
            f" OVER ({bucket}) AS reps",
        )
        .selectExpr(
            "b_id", "b_sig", "sz_b", "dup",
            f"inline(CASE WHEN b_keep IS NULL THEN IF(dup, NULL, reps) WHEN dup THEN {own}"
            f" ELSE concat(reps, {own}) END)",
        )
    )


def minhash_near_dup_drop_ids(toks_df: DataFrame) -> DataFrame:
    """Near-dedup fates over a ``(doc_id, toks, *carried)`` frame (see
    pin_doc_tokens): one row per input row, ``(doc_id, *carried,
    dropped)`` in the input's column order without ``toks``. ``dropped``
    is true when the doc has a smaller-id near-dup: at most VERIFY_TOP_M
    exact-Jaccard verifications per doc instead of the all-pairs
    formulation's O(cluster^2) (measured 66 s -> seconds at sf0.1 where
    the corpus has ~1600-doc near-dup families; exact verification over
    ~200-token arrays is ~100x the cost of the 32-slot signature compare
    used here for estimation). A caller keeps the survivors with
    ``NOT dropped``: the fate is decided in the stage that already
    groups the candidates by b_id, so nothing joins back onto the input.
    Rows that share a doc_id share a fate, as under an anti-join on
    doc_id; a null doc_id is never dropped.

    With an ``fp`` column (doc_fp, not returned) this is also the exact
    dedup: each row but the first per fp (lowest doc_id) drops on its
    own, and the near-dedup sees first rows only — the two-step form
    (first per fp, then near-dedup) without its exchange. The two differ
    only where one doc_id labels a first row and an exact copy of a
    smaller id's text: the verify lookups, keyed on doc_id, read the
    copy's token set too.

    Plan: in-bucket candidate pairs carry only ids + signatures + token-
    set sizes. Two pruners bound the exact-verify work:
    1. LENGTH FILTER (lossless): jaccard <= min(|A|,|B|)/max(|A|,|B|),
       so pairs failing size_ratio >= threshold can never verify — the
       classic similarity-join length bound, zero recall cost.
    2. TOP-M by MinHash ESTIMATE (fraction of agreeing signature slots,
       ties broken by closest set size, then a_id): only the top
       VERIFY_TOP_M candidates per doc are exact-verified. One
       best-estimated partner is NOT enough: fixture docs have ~30
       distinct tokens, so a 32-slot estimate saturates at 1.0 for
       jaccard as low as ~0.8 and the single top pick is noise among
       the ties — measured recall 0.43 with M=1 vs 0.92 with M=10 +
       length filter + cross-band pair dedup (sf0.01). Precision stays
       1 (exact verify gates every drop); recall tested >= 0.9 against
       the all-pairs drop set."""
    # Signatures are computed in the map stage of the one (band, bucket)
    # exchange below, their only reader, so the bands are not pinned.
    bands = _minhash_bands(toks_df, carry_sig=True)
    # GIANT-BUCKET CAP: the droppable side pairs only with its bucket's
    # REPS_PER_BUCKET smallest ids. Near-dup families land in the same
    # buckets, so a family of K docs would otherwise emit K^2 in-bucket
    # pairs per band (measured: 1600-doc families -> 10M candidate rows
    # x 260 B of carried signature at sf0.1 = the near-dedup stage's
    # whole cost). Capping the partner set keeps the pairing linear in
    # bucket size; recall survives (tested >= 0.9 vs the all-pairs drop
    # set) because any family member verifies against the family's
    # smallest ids, which are exactly the docs the dedup keeps. The
    # candidates are filtered after the inline, in generated code, not
    # by a higher-order filter over the list (lambdas are interpreted).
    pairs = _bucket_rep_pairs(bands).filter(
        "keep IS NOT NULL OR (a_id < b_id"
        f" AND least(sz_a, sz_b) / greatest(sz_a, sz_b) {_AT_LEAST})"
    )
    # One exchange on b_id carries the candidates and each doc's self
    # row. A pair colliding in several bands appears once per band with
    # the same estimate: dense_rank gives its copies one rank, so the
    # top M ranks are the top M distinct pairs, and only the first copy
    # (lag) is verified. The self row (null estimate) ranks last.
    by_b = "PARTITION BY b_id ORDER BY est DESC, sz_diff, a_id"
    best = (
        pairs.selectExpr(
            "a_id", "b_id", "dup", "keep",
            f"IF(keep IS NULL, {_EST}, NULL) AS est", "abs(sz_a - sz_b) AS sz_diff",
        )
        .selectExpr(
            "a_id", "b_id", "dup", "keep",
            f"dense_rank() OVER ({by_b}) AS rk", f"lag(a_id) OVER ({by_b}) AS prev_a",
        )
        .filter(f"keep IS NOT NULL OR (rk <= {VERIFY_TOP_M} AND NOT prev_a <=> a_id)")
    )
    # Verify against the broadcast token sets; the self row looks up
    # neither side. Both joins keep the b_id partitioning, so the fate
    # is a window over b_id with no further exchange.
    verified = (
        best.join(_broadcast_toks(toks_df, "a_id", "toks_a"), "a_id", "left")
        .join(
            _broadcast_toks(toks_df, "v_id", "toks_b"),
            F.expr("keep IS NULL AND v_id = b_id"),
            "left",
        )
        .selectExpr("b_id", "dup", "keep", f"IF(keep IS NULL, {_JACCARD} {_AT_LEAST}, NULL) AS hit")
    )
    return (
        verified.selectExpr("dup", "keep", "bool_or(hit) OVER (PARTITION BY b_id) AS dropped")
        .filter("keep IS NOT NULL")
        .selectExpr("keep.*", "dup OR coalesce(dropped, false) AS dropped")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + hamming-<=4 near-dup pairs via
    16-bit-band pigeonhole joins. Bit votes: for each bit position, +1 if
    the token hash has the bit set else -1; sign of the total is the
    signature bit. Rows-only (xxhash64)."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(_norm_text(), " "))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    from functools import reduce

    bit_terms = [
        F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        for b in range(SIMHASH_BITS)
    ]
    sim = votes.select(
        "doc_id",
        reduce(lambda x, y: x.bitwiseOR(y), bit_terms).alias("simhash"),
    )
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.ckey")
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 4)
        .select("a_id", "b_id", "hamming")
    )
    return pairs


def q_dedup_char_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram shingle Jaccard (order-sensitive, unlike the
    token-set variant: catches word-reordered near-dups as DIFFERENT) on
    a blocked subset (doc_id < 100 -> exact all-pairs). Shingles built
    with sequence+transform+substring — pure built-ins."""
    # normalized text materialized BEFORE the shingle lambda reads it —
    # an expression inside substr(i, ...) re-normalizes per shingle
    # (O(chars^2)); a column reference evaluates once per row
    docs = (
        load_spread(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", _norm_text().alias("txt"))
    )
    txt = F.col("txt")
    n = F.length(txt)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 4, F.lit(1))),
            lambda i: txt.substr(i, F.lit(5)),
        )
    )
    s = docs.select("doc_id", shingles.alias("sh"))
    a = s.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.25)
        .select("a_id", "b_id", "jaccard")
    )


FUZZY_MAX_DIST = 4


def q_fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) join over the DISTINCT name
    vocabulary — the entity-resolution primitive ("same product,
    differently spelled") where token-set Jaccard is too coarse.

    Scale design: rows are first collapsed to distinct values with
    counts (one hash aggregation — the vocabulary is orders of magnitude
    smaller than the row count; here 20k parts share ~100 names), THEN
    the quadratic fuzzy comparison runs on the vocabulary only, blocked
    by the head noun (last word) so candidates form within blocks via an
    equi-join. Canonicalize-the-vocabulary-then-map-back is how real ER
    pipelines avoid row-level O(n^2); a row-level variant of this query
    measured 42 s at sf0.1 for a quadratically-exploding pair table.
    levenshtein() is the textbook DP in both engines -> exact integer
    oracle.

    Mega-block exposure: a hot head noun at catalog scale concentrates
    b^2 comparisons in one sort-merge group — the same single-emitter
    shape PROBE_MARKET_BASKET_r08 measured for basket mega-orders. The
    size-routed block decomposition built for that twin is generic over
    any (key, value) relation, so the scale remedy here is
    analytics.basket_pair_stream_guarded over (block, p_name) —
    pair-for-pair parity with this join's stream is pinned in
    tests/test_properties.py. Not routed by default: the TPC-H name
    vocabulary (~100 names over ~92 color blocks) never approaches the
    threshold."""
    parts = load_table(spark, sf_dir, "part")
    names = (
        parts.groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
        .withColumn("block", F.element_at(F.split(F.col("p_name"), " "), -1))
    )
    a = names.select(
        F.col("p_name").alias("a_name"), F.col("n_parts").alias("n_parts_a"), "block"
    )
    b = names.select(
        F.col("p_name").alias("b_name"), F.col("n_parts").alias("n_parts_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("a_name") < F.col("b_name"))
        .withColumn("edit_dist", F.levenshtein("a_name", "b_name").cast("int"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select("a_name", "b_name", "edit_dist", "n_parts_a", "n_parts_b")
    )


def q_dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the near-dup graph — the threshold-quality
    check for dedup_ngram_jaccard: if A~B and B~C but A≁C (an open
    wedge), the 0.95 cut is slicing through duplicate clusters and the
    downstream connected-components collapse will merge documents that
    are NOT mutually near-dups. Reported as the global clustering
    coefficient gcc = 3·triangles / wedges: near 1 ⇒ the pair relation
    is effectively transitive (clusters are cliques, CC-collapse is
    faithful); low ⇒ chains of borderline pairs — tighten the threshold
    or verify within clusters (the SemDeDup posture).

    Exactness: pure integer graph census (wedges = Σ d(d−1)/2,
    triangles via the ordered-triple join), one integer division.

    Scale shape: the doc-level near-dup graph is a CLIQUE BLOW-UP of a
    far smaller group graph — docs with identical distinct-token sets
    have J = 1 (complete clique), and between two groups the pair
    predicate is all-or-nothing (it only sees the sets). The census is
    therefore computed COMBINATORIALLY on the collapsed graph: edges =
    Σ C(s,2) + Σ_{g~h} s_g·s_h, wedges = Σ s·C(d,2) with d = s−1 +
    Σ_{h~g} s_h, triangles = Σ C(s,3) + Σ_{g~h} [C(s_g,2)s_h +
    s_g·C(s_h,2)] + Σ_{g~h~k~g} s_g·s_h·s_k — exactly the raw-graph
    integers (parity-checked against the raw-census oracle), but the
    3-way triangle join runs on |groups| ≪ |docs| vertices. The group
    edge list derives from the session-memoized near_dup_pairs relation
    (shared with dedup_ngram_jaccard / dedup_components /
    graph_pagerank) by mapping endpoints to groups and deduplicating —
    at 100 TB this is the only census that survives: a raw triangle
    join over near-clique clusters is Σ d² ≈ |cluster|³ row explosions,
    while the collapsed one is linear in pairs plus a cube on the tiny
    group graph."""
    sets = load_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split(_norm_text(), " "))).alias(
            "s"
        ),
    )
    wg = Window.partitionBy("s")
    dm = sets.select(
        "doc_id",
        F.min("doc_id").over(wg).alias("gid"),
        F.count(F.lit(1)).over(wg).cast("bigint").alias("sz"),
    ).localCheckpoint()
    gsz = dm.select("gid", "sz").distinct()
    p = near_dup_pairs(spark, sf_dir)
    ga = dm.select(F.col("doc_id").alias("a_id"), F.col("gid").alias("ga"))
    gb = dm.select(F.col("doc_id").alias("b_id"), F.col("gid").alias("gb"))
    ge = (
        p.join(F.broadcast(ga), "a_id")
        .join(F.broadcast(gb), "b_id")
        .filter(F.col("ga") != F.col("gb"))
        .select(
            F.least("ga", "gb").alias("x"), F.greatest("ga", "gb").alias("y")
        )
        .distinct()
        .localCheckpoint()  # three edge refs in the triangle join below
    )
    szx = gsz.select(F.col("gid").alias("x"), F.col("sz").alias("sx"))
    szy = gsz.select(F.col("gid").alias("y"), F.col("sz").alias("sy"))
    gew = ge.join(F.broadcast(szx), "x").join(F.broadcast(szy), "y")
    # per-group neighbor mass Σ_{h~g} s_h, then doc degree d = s-1+mass
    nbr = (
        gew.select(F.col("x").alias("gid"), F.col("sy").alias("ns"))
        .union(gew.select(F.col("y").alias("gid"), F.col("sx").alias("ns")))
        .groupBy("gid")
        .agg(F.sum("ns").alias("nbr"))
    )
    degg = gsz.join(nbr, "gid", "left").select(
        "gid",
        "sz",
        (F.col("sz") - 1 + F.coalesce("nbr", F.lit(0))).alias("d"),
    )
    within = degg.agg(
        F.sum(F.expr("sz * (sz - 1) div 2")).alias("e_in"),
        F.sum(F.expr("sz * (d * (d - 1) div 2)")).alias("n_wedges"),
        F.sum(F.expr("sz * (sz - 1) * (sz - 2) div 6")).alias("t_in"),
    )
    across = gew.agg(
        F.sum(F.expr("sx * sy")).alias("e_x"),
        F.sum(
            F.expr("(sx * (sx - 1) div 2) * sy + sx * (sy * (sy - 1) div 2)")
        ).alias("t_two"),
    )
    # group-level triangles (x<y<z by edge normalization), blown up
    e2 = ge.select(F.col("x").alias("y"), F.col("y").alias("z"))
    e3 = ge.select(F.col("x").alias("x2"), F.col("y").alias("z2"))
    szz = gsz.select(F.col("gid").alias("z"), F.col("sz").alias("sz3"))
    t3 = (
        ge.join(e2, "y")
        .join(e3, (F.col("x") == F.col("x2")) & (F.col("z") == F.col("z2")))
        .join(F.broadcast(szx), "x")
        .join(F.broadcast(szy), "y")
        .join(F.broadcast(szz), "z")
        .agg(F.coalesce(F.sum(F.expr("sx * sy * sz3")), F.lit(0)).alias("t_three"))
    )
    return (
        within.crossJoin(F.broadcast(across))
        .crossJoin(F.broadcast(t3))
        .select(
            (F.col("e_in") + F.coalesce("e_x", F.lit(0)))
            .cast("bigint")
            .alias("n_edges"),
            F.col("n_wedges").cast("bigint").alias("n_wedges"),
            (
                F.col("t_in")
                + F.coalesce("t_two", F.lit(0))
                + F.col("t_three")
            )
            .cast("bigint")
            .alias("n_triangles"),
        )
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges > 0 THEN"
                " 3 * n_triangles * 1000000L div n_wedges"
                " ELSE NULL END"
            ).alias("gcc_ppm"),
        )
    )


_TRANSITIVITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS s
  FROM documents
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))
      / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
             AS DOUBLE) >= 0.95
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs
  ) GROUP BY v
), w AS (
  SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg
), tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
), st AS (SELECT count(*) AS n_edges FROM pairs)
SELECT CAST(st.n_edges AS BIGINT) AS n_edges,
  CAST(w.n_wedges AS BIGINT) AS n_wedges,
  CAST(tri.n_triangles AS BIGINT) AS n_triangles,
  CASE WHEN w.n_wedges > 0 THEN
    CAST(3 * tri.n_triangles * 1000000 // w.n_wedges AS BIGINT)
  END AS gcc_ppm
FROM st, w, tri
"""


#: portable MinHash: 16 md5-derived hash functions in 4 bands × 4 rows
#: (S-curve threshold (1/4)^(1/4) ≈ 0.71 — see minhash_lsh_planner);
#: candidates verified at exact Jaccard ≥ 0.8 (integer cross-multiply;
#: the fixture's tiny shared vocabulary makes 0.7-Jaccard token sets
#: ubiquitous — 46k pairs — while 0.8 keeps the output a dup REPORT)
PMH_K = 16
PMH_BANDS = 4
PMH_ROWS = 4
PMH_VERIFY_NUM = 4   # jaccard >= PMH_VERIFY_NUM / PMH_VERIFY_DEN
PMH_VERIFY_DEN = 5


def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with ENGINE-PORTABLE hashes — the
    value-verified twin of dedup_minhash_lsh: the production lane keys
    on xxhash64 (JVM-native, fastest) which no other engine replicates,
    so its external check is rows-only; this lane derives the k=16
    minhashes from md5 (bit-identical everywhere), so the ENTIRE
    sketch→band→candidate→verify pipeline is replayed by the DuckDB
    oracle and the MinHash family graduates from rows-only to
    value-verified. Banding: 4 bands × 4 rows (threshold ≈ 0.71 per
    minhash_lsh_planner); candidates sharing any band bucket are
    verified at exact token-set Jaccard ≥ 0.8 via integer
    cross-multiplication — no float enters the pipeline at all
    (jaccard_ppm is one integer division at output).

    Scale shape: signatures are in-array folds over the distinct token
    set (no explode of hash values); candidate generation carries the
    xxhash lane's giant-bucket guard (each member pairs only with its
    bucket's REPS_PER_BUCKET smallest ids — O(B·16) per bucket, never
    O(B²), and deterministic so the oracle replays it); the only
    shuffles are the band-bucket join and the bounded verified-pair
    output; the per-doc token arrays ride along for verification
    (bounded by doc length) — full text never shuffles."""
    # load_spread spreads an under-split scan (r12, guide §2.5): the 16-way
    # md5 minhash fold below otherwise runs on the single scan core
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.split(F.lower(F.trim(F.col("text"))), " ")
            )
        ).alias("arr"),
    ).localCheckpoint()  # feeds signatures AND verification
    sig = F.expr(
        f"transform(sequence(0, {PMH_K - 1}), i -> "
        "array_min(transform(arr, t -> "
        "cast(conv(substring(md5(concat(t, ':', cast(i as string))),"
        " 1, 8), 16, 10) as bigint))))"
    )
    bands = (
        toks.select("doc_id", sig.alias("sig"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {PMH_BANDS - 1}), b -> "
                    "struct(b AS band, md5(concat_ws(',', "
                    f"slice(sig, b * {PMH_ROWS} + 1, {PMH_ROWS})))"
                    " AS key))"
                )
            ).alias("bk"),
        )
        .select("doc_id", "bk.band", "bk.key")
    )
    # giant-bucket guard (the REPS_PER_BUCKET discipline of the xxhash
    # lane): each member pairs only with its bucket's REPS_PER_BUCKET
    # smallest doc_ids, so a bucket of size B costs O(B·16), never
    # O(B²) — on this globally-similar corpus the 0.71-threshold
    # S-curve admits most pairs, and the uncapped join IS the n²
    # blowup LSH exists to avoid. Deterministic (rank by doc_id), so
    # the oracle replays the cap exactly.
    ranked_b = bands.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("band", "key").orderBy("doc_id")
        ),
    ).localCheckpoint()  # both candidate-join sides
    reps = ranked_b.filter(F.col("rnk") <= REPS_PER_BUCKET)
    cand = (
        reps.alias("x")
        .join(
            ranked_b.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
        )
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("a_id"), F.col("arr").alias("sa"))
    tb = toks.select(F.col("doc_id").alias("b_id"), F.col("arr").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn("inter", inter)
        .withColumn("uni", union)
        .filter(
            F.col("inter") * PMH_VERIFY_DEN
            >= F.col("uni") * PMH_VERIFY_NUM
        )
        .select(
            "a_id",
            "b_id",
            F.expr("inter * 1000000L div uni").alias("jaccard_ppm"),
        )
    )


_PMH_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
    list_sort(list_distinct(string_split(lower(trim(text)), ' ')))
      AS arr
  FROM documents
), sigs AS MATERIALIZED (
  SELECT doc_id,
    list_transform(generate_series(0, {PMH_K - 1}), i ->
      list_min(list_transform(arr, t ->
        ('0x' || substr(md5(t || ':' || CAST(i AS VARCHAR)), 1, 8))
          ::BIGINT))) AS sig
  FROM toks
), bands AS MATERIALIZED (
  SELECT doc_id, b AS band,
    md5(array_to_string(sig[b * {PMH_ROWS} + 1 : (b + 1) * {PMH_ROWS}],
                        ',')) AS key
  FROM sigs, unnest(generate_series(0, {PMH_BANDS - 1})) u(b)
), ranked_b AS MATERIALIZED (
  SELECT doc_id, band, key,
    row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rnk
  FROM bands
), cand AS MATERIALIZED (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
  FROM ranked_b x JOIN ranked_b y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
  WHERE x.rnk <= {REPS_PER_BUCKET}
)
SELECT c.a_id, c.b_id,
  CAST(len(list_intersect(a.arr, b.arr)) * 1000000
       // (len(a.arr) + len(b.arr) - len(list_intersect(a.arr, b.arr)))
       AS BIGINT) AS jaccard_ppm
FROM cand c
JOIN toks a ON a.doc_id = c.a_id
JOIN toks b ON b.doc_id = c.b_id
WHERE len(list_intersect(a.arr, b.arr)) * {PMH_VERIFY_DEN}
      >= (len(a.arr) + len(b.arr) - len(list_intersect(a.arr, b.arr)))
         * {PMH_VERIFY_NUM}
"""


#: portable SimHash: 32-bit signature, 4 bands × 8 bits (pigeonhole
#: covers hamming ≤ 3), exact hamming verify threshold
PSH_BITS = 32
PSH_BANDS = 4
PSH_HAMMING = 3


def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with ENGINE-PORTABLE hashes — the
    value-verified twin of dedup_simhash (xxhash64-keyed, rows-only),
    completing the sketch-portability trio with dedup_minhash_portable
    and hll_portable_distinct: 32-bit signature from md5-derived
    per-token bit votes, 4×8-bit pigeonhole bands (any pair within
    hamming ≤ 3 must agree on ≥ 1 band), candidates capped by the
    REPS_PER_BUCKET giant-bucket guard and verified with the exact
    popcount-of-xor hamming distance — every stage integer-exact and
    replayed by the DuckDB oracle.

    Scale shape: votes are one groupBy(doc) with 32 conditional sums
    (map-side combinable); banding and the capped bucket join follow
    the minhash-portable shape; verification is a bit op on two
    8-byte signatures riding the pair rows."""
    # load_spread spreads an under-split scan (r12, guide §2.5)
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), " "))
        ).alias("tok"),
    ).withColumn(
        "h",
        F.expr(
            "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"
        ),
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(PSH_BITS)
        ]
    )
    from functools import reduce

    bit_terms = [
        F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        for b in range(PSH_BITS)
    ]
    sim = votes.select(
        "doc_id",
        reduce(lambda x, y: x.bitwiseOR(y), bit_terms).alias("sig"),
    ).localCheckpoint()  # feeds banding AND both verify sides
    bands = sim.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("sig", i * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("key"),
                    )
                    for i in range(PSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.key")
    ranked_b = bands.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("band", "key").orderBy("doc_id")
        ),
    ).localCheckpoint()
    reps = ranked_b.filter(F.col("rnk") <= REPS_PER_BUCKET)
    return (
        reps.alias("x")
        .join(
            ranked_b.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.bit_count(
                F.col("x.sig").bitwiseXOR(F.col("y.sig"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= PSH_HAMMING)
        .select("a_id", "b_id", F.col("hamming").cast("int").alias("hamming"))
    )


_PSH_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT DISTINCT doc_id,
    unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS tok
  FROM documents
), hashed AS MATERIALIZED (
  SELECT doc_id,
    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
  FROM toks
), sigs AS MATERIALIZED (
  SELECT doc_id,
    {' + '.join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {1 << b} ELSE 0 END)::BIGINT"
        for b in range(PSH_BITS)
    )} AS sig
  FROM hashed GROUP BY doc_id
), bands AS MATERIALIZED (
  SELECT doc_id, sig, b AS band, (sig >> (b * 8)) & 255 AS key
  FROM sigs, unnest(generate_series(0, {PSH_BANDS - 1})) u(b)
), ranked_b AS MATERIALIZED (
  SELECT doc_id, sig, band, key,
    row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rnk
  FROM bands
)
SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
  CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
FROM ranked_b x JOIN ranked_b y
  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
WHERE x.rnk <= {REPS_PER_BUCKET}
  AND bit_count(xor(x.sig, y.sig)) <= {PSH_HAMMING}
"""


def minhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized portable-MinHash pair relation — shared by the
    dedup_minhash_portable entry and the detector-agreement census
    (uncached, the full sketch→band→verify pipeline ran twice)."""
    from ..session import session_memo

    return session_memo(
        spark,
        "minhash_portable_pairs",
        sf_dir,
        lambda: q_dedup_minhash_portable(spark, sf_dir),
    )


def q_dedup_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-agreement census across the three near-dup families —
    the curation artifact an operator reads before trusting ANY single
    detector: every (canonical-set, canonical-set) pair flagged by the
    exact PPJoin (J ≥ 0.95), the portable MinHash-LSH lane (J ≥ 0.8
    verified), or set containment, tallied by which detectors fired.
    High exact∧minhash overlap validates the sketch's recall at its
    band threshold; containment-only pairs are the excerpt/quote class
    Jaccard structurally misses — the census quantifies each regime
    instead of asserting it.

    Scale shape: the three pair relations are each bounded
    (output-sized) and the PPJoin one comes from the session memo;
    doc-level pairs collapse to canonical-set pairs (distinct on two
    ids) before the flag joins, so the census never revisits text or
    token arrays. Output is at most 7 rows."""
    sets = load_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split(_norm_text(), " "))).alias(
            "s"
        ),
    )
    wg = Window.partitionBy("s")
    dm = sets.select(
        "doc_id", F.min("doc_id").over(wg).alias("rep")
    ).localCheckpoint()
    ra = dm.select(F.col("doc_id").alias("a_id"), F.col("rep").alias("ra"))
    rb = dm.select(F.col("doc_id").alias("b_id"), F.col("rep").alias("rb"))

    def to_rep_pairs(doc_pairs: DataFrame) -> DataFrame:
        return (
            doc_pairs.join(F.broadcast(ra), "a_id")
            .join(F.broadcast(rb), "b_id")
            .filter(F.col("ra") != F.col("rb"))
            .select(
                F.least("ra", "rb").alias("x"),
                F.greatest("ra", "rb").alias("y"),
            )
            .distinct()
        )

    # Each detector's rep-pair set is consumed TWICE below (once in the
    # union that enumerates all pairs, once as its flag join) — pin the
    # three bounded relations so the census runs each detector once
    # instead of twice (r12, guide §2.4; containment was the worst
    # offender: unlike the other two it has no session memo, so its
    # whole mask-group pipeline re-ran per consumer).
    jac = to_rep_pairs(
        near_dup_pairs(spark, sf_dir).select("a_id", "b_id")
    ).localCheckpoint()
    mh = to_rep_pairs(
        minhash_portable_pairs(spark, sf_dir).select("a_id", "b_id")
    ).localCheckpoint()
    ct = (
        containment_pairs(spark, sf_dir)
        .select(
            F.least("subset_rep", "superset_rep").alias("x"),
            F.greatest("subset_rep", "superset_rep").alias("y"),
        )
        .distinct()
        .localCheckpoint()
    )
    allp = jac.unionByName(mh).unionByName(ct).distinct()
    flags = (
        allp.join(jac.withColumn("fj", F.lit(1)), ["x", "y"], "left")
        .join(mh.withColumn("fm", F.lit(1)), ["x", "y"], "left")
        .join(ct.withColumn("fc", F.lit(1)), ["x", "y"], "left")
        .select(
            F.coalesce("fj", F.lit(0)).cast("int").alias("has_jaccard"),
            F.coalesce("fm", F.lit(0)).cast("int").alias("has_minhash"),
            F.coalesce("fc", F.lit(0)).cast("int").alias("has_containment"),
        )
    )
    return flags.groupBy(
        "has_jaccard", "has_minhash", "has_containment"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


def _detector_agreement_oracle() -> str:
    ngram_pairs_sql = f"""
SELECT a.doc_id AS a_id, b.doc_id AS b_id
FROM toks0 a JOIN toks0 b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))
    / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
    >= {JACCARD_THRESHOLD}
"""
    return f"""
WITH toks0 AS MATERIALIZED (
  SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS s
  FROM documents
), dm AS MATERIALIZED (
  SELECT doc_id,
    min(doc_id) OVER (PARTITION BY list_sort(s)) AS rep
  FROM toks0
), j AS MATERIALIZED (
  SELECT DISTINCT least(da.rep, db.rep) AS x, greatest(da.rep, db.rep) AS y
  FROM ({ngram_pairs_sql}) p
  JOIN dm da ON p.a_id = da.doc_id JOIN dm db ON p.b_id = db.doc_id
  WHERE da.rep != db.rep
), m AS MATERIALIZED (
  SELECT DISTINCT least(da.rep, db.rep) AS x, greatest(da.rep, db.rep) AS y
  FROM ({_PMH_ORACLE}) p
  JOIN dm da ON p.a_id = da.doc_id JOIN dm db ON p.b_id = db.doc_id
  WHERE da.rep != db.rep
), c AS MATERIALIZED (
  SELECT DISTINCT least(subset_rep, superset_rep) AS x,
    greatest(subset_rep, superset_rep) AS y
  FROM ({_CONTAINMENT_ORACLE})
), allp AS MATERIALIZED (
  SELECT x, y FROM j UNION SELECT x, y FROM m UNION SELECT x, y FROM c
)
SELECT
  CAST(CASE WHEN j.x IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
    AS has_jaccard,
  CAST(CASE WHEN m.x IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
    AS has_minhash,
  CAST(CASE WHEN c.x IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
    AS has_containment,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM allp
LEFT JOIN j ON allp.x = j.x AND allp.y = j.y
LEFT JOIN m ON allp.x = m.x AND allp.y = m.y
LEFT JOIN c ON allp.x = c.x AND allp.y = c.y
GROUP BY 1, 2, 3
"""


QUERIES = {
    "dedup_detector_agreement": q_dedup_detector_agreement,
    "dedup_simhash_portable": q_dedup_simhash_portable,
    "dedup_minhash_portable": minhash_portable_pairs,  # memoized
    "dedup_transitivity_audit": q_dedup_transitivity_audit,
    "containment_pairs": containment_pairs,  # memoized containment relation
    "dedup_exact": q_dedup_exact,
    "fuzzy_join_parts": q_fuzzy_join_parts,
    "dedup_char_shingle_jaccard": q_dedup_char_shingle_jaccard,
    "dedup_exact_hash": q_dedup_exact_hash,
    "dedup_ngram_jaccard": near_dup_pairs,  # memoized PPJoin relation
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
}

ORACLES = {
    "dedup_detector_agreement": _detector_agreement_oracle(),
    "dedup_simhash_portable": _PSH_ORACLE,
    "dedup_minhash_portable": _PMH_ORACLE,
    "dedup_transitivity_audit": _TRANSITIVITY_ORACLE,
    "containment_pairs": _CONTAINMENT_ORACLE,
    "fuzzy_join_parts": f"""
WITH names AS (
  SELECT p_name, count(*) AS n_parts,
    string_split(p_name, ' ')[-1] AS block
  FROM part GROUP BY p_name
)
SELECT a.p_name AS a_name, b.p_name AS b_name,
  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b USING (block)
WHERE a.p_name < b.p_name
  AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
""",
    "dedup_exact": """
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY lower(trim(text))
""",
    "dedup_exact_hash": """
SELECT md5(lower(trim(text))) AS fp,
  min(doc_id) AS rep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY 1
""",
    "dedup_char_shingle_jaccard": """
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(length(lower(trim(text))) - 4, 1)),
      i -> substr(lower(trim(text)), i, 5))) AS sh
  FROM documents WHERE doc_id < 100
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
  len(list_intersect(a.sh, b.sh))
    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.25
""",
    "dedup_ngram_jaccard": f"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS s
  FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
  len(list_intersect(a.s, b.s))
    / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
FROM toks a JOIN toks b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))
    / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
    >= {JACCARD_THRESHOLD}
""",
}
