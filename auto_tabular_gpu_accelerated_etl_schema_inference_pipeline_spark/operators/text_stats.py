"""Corpus-statistics operators, round 4 batch 3: Heaps'-law vocabulary
growth, Zipf rank-frequency slope, and chi-squared term–source
association (feature selection). All three are the "read the corpus
before you train on it" reports next to text.py's per-doc quality
metrics — they describe the CORPUS (vocabulary saturation, frequency
shape, vocabulary-vs-source dependence) rather than any one document.

Exactness: counts are exact BIGINT; each ln is quantized to micro-nats
per ROW before any cross-row sum (the text_lm.py discipline); the Zipf
least-squares slope is then a single rounded division of exact integer
sums; each chi-squared CELL is quantized to micro before the exact
integer sum over cells (float-sum association order never crosses rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table

#: vocabulary-growth checkpoints: corpus prefixes at i/HEAPS_STEPS of the
#: doc_id range, i = 1..HEAPS_STEPS (doc_id order is the fixture's stable
#: ingest order — any stable order works; the curve shape is the point)
HEAPS_STEPS = 10

#: Zipf fit: regress ln(freq) on ln(rank) over the top-N terms. 100 terms
#: covers the straight-line head where the law holds; the long tail bends
#: and would need the Zipf–Mandelbrot shift.
ZIPF_TOP_TERMS = 100

#: chi-squared screen: the top-N corpus terms ranked by document
#: frequency (ties broken lexicographically for determinism)
CHI2_TOP_TERMS = 50


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )


def q_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct vocabulary size and
    total token count at HEAPS_STEPS cumulative corpus prefixes (by
    doc_id). The curve answers the tokenizer-budget question — is the
    vocabulary saturating (safe to freeze a vocab / dedup more
    aggressively) or still growing near-linearly (corpus is topically
    open-ended)? V(n) ≈ K·n^β with β < 1 for natural text.

    Scale shape (plan-audited): exactly TWO exploded corpus passes — the
    two bounded collapses (per-TERM first-occurrence doc, |vocab| rows;
    per-DOC token counts via map-only size(split(·)) — no explode) —
    plus one column-pruned plain scan for max(doc_id) (deriving the max
    from either collapsed table would re-run its whole exploded subtree:
    Catalyst shares no subtrees across DAG branches). The ≤-joins are
    broadcast nested-loop joins against the 10-row spine, i.e. a
    map-side filter per checkpoint, never a row-scale shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    doc_counts = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), " ")).alias(
            "n_tok"
        ),
    )
    # 10-row checkpoint spine: thresholds at i/HEAPS_STEPS of max doc_id
    # (one column-pruned scan of the id column only)
    spine = (
        docs.agg(F.max("doc_id").alias("max_id"))
        .crossJoin(
            spark.range(1, HEAPS_STEPS + 1).select(
                F.col("id").alias("checkpoint")
            )
        )
        .select(
            "checkpoint",
            F.expr(f"checkpoint * max_id div {HEAPS_STEPS}").alias("thr"),
        )
        .localCheckpoint()  # 10 rows, consumed by two ≤-joins
    )
    vocab = (
        firsts.join(
            F.broadcast(spine),
            F.col("first_doc") <= F.col("thr"),
        )
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"))
    )
    toks = (
        doc_counts.join(
            F.broadcast(spine), F.col("doc_id") <= F.col("thr")
        )
        .groupBy("checkpoint")
        .agg(
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )
    return (
        vocab.join(toks, "checkpoint")
        .select(
            F.col("checkpoint").cast("bigint").alias("checkpoint"),
            "n_docs",
            "total_tokens",
            "vocab_size",
        )
    )


_HEAPS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
    unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), firsts AS (
  SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w
), doc_counts AS (
  SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
), spine AS (
  SELECT i AS checkpoint,
    i * (SELECT max(doc_id) FROM doc_counts) // {HEAPS_STEPS} AS thr
  FROM range(1, {HEAPS_STEPS} + 1) r(i)
), vocab AS (
  SELECT s.checkpoint, CAST(count(*) AS BIGINT) AS vocab_size
  FROM firsts f JOIN spine s ON f.first_doc <= s.thr
  GROUP BY s.checkpoint
), toks AS (
  SELECT s.checkpoint,
    CAST(sum(d.n_tok) AS BIGINT) AS total_tokens,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM doc_counts d JOIN spine s ON d.doc_id <= s.thr
  GROUP BY s.checkpoint
)
SELECT CAST(v.checkpoint AS BIGINT) AS checkpoint, t.n_docs,
  t.total_tokens, v.vocab_size
FROM vocab v JOIN toks t ON t.checkpoint = v.checkpoint
"""


def q_zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: least-squares slope of ln(freq) against
    ln(rank) over the ZIPF_TOP_TERMS most frequent terms. Natural text
    sits near slope −1; a corpus drifting toward −0.5 (flat head) smells
    of boilerplate/duplication, one below −1.5 of a tiny closed
    vocabulary (logs, generated text) — a one-number corpus fingerprint
    next to lexical_diversity_report.

    Exactness: x = ln(rank), y = ln(freq) are quantized per TERM to
    micro-nats (identical single-value ln on both engines); Σx, Σy, Σxy,
    Σx² are then exact integer sums, and slope_micro =
    round(1e6·(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)) is one double division of
    exact integers.

    Scale shape: term histogram in one pass, then TakeOrderedAndProject
    for the top 100 (no global sort materializes), then a 100-row
    aggregate. The rank window orders 100 rows."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        _tokens(docs)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(ZIPF_TOP_TERMS)
    )
    ranked = freq.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
        ),
    )
    mu = lambda c: F.round(  # noqa: E731
        F.round(F.log(c.cast("double")), 6) * 1_000_000
    ).cast("bigint")
    pts = ranked.select(
        mu(F.col("rank")).alias("x"), mu(F.col("cnt")).alias("y")
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return agg.select(
        "n_terms",
        "sx",
        "sy",
        F.round(
            (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            * 1_000_000.0
            / (
                F.col("n_terms") * F.col("sxx")
                - F.col("sx") * F.col("sx")
            ).cast("double")
        )
        .cast("bigint")
        .alias("zipf_slope_micro"),
    )


_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), freq AS (
  SELECT w, count(*) AS cnt FROM tok GROUP BY w
  ORDER BY cnt DESC, w ASC LIMIT {ZIPF_TOP_TERMS}
), ranked AS (
  SELECT cnt,
    row_number() OVER (ORDER BY cnt DESC, w ASC) AS rnk
  FROM freq
), pts AS (
  SELECT
    CAST(round(round(ln(CAST(rnk AS DOUBLE)), 6) * 1000000) AS BIGINT)
      AS x,
    CAST(round(round(ln(CAST(cnt AS DOUBLE)), 6) * 1000000) AS BIGINT)
      AS y
  FROM ranked
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * y) AS BIGINT) AS sxy,
    CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT n_terms, sx, sy,
  CAST(round(CAST(n_terms * sxy - sx * sy AS DOUBLE) * 1000000.0
             / CAST(n_terms * sxx - sx * sx AS DOUBLE)) AS BIGINT)
    AS zipf_slope_micro
FROM agg
"""


def q_chi2_term_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared association between term presence and source over the
    CHI2_TOP_TERMS most document-frequent terms — the classic
    feature-selection screen (terms with high chi² are source markers;
    near-zero chi² terms are source-neutral stopwords). For each term the
    contingency table is (present/absent) × source over DOCUMENT
    presence, chi² = Σ_cells (O − E)² / E with E from the margins.

    Exactness: every O and margin is an exact BIGINT; each CELL's
    (O−E)²/E is one double expression over those integers quantized to
    micro, and the per-term chi² is the exact integer sum of its
    2·|sources| cell values — no cross-row float accumulation.

    Scale shape: presence pairs are distinct (doc, term) — one shuffle
    bounded by presence cardinality; the top-term list (50 rows) and the
    per-source doc counts (|sources| rows) broadcast; the absent-cell
    spine is a 50 × |sources| cross join of two broadcast relations."""
    docs = load_table(spark, sf_dir, "documents")
    pres = (
        _tokens(docs).select("doc_id", "source", "w").distinct()
    )
    term_df = pres.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    top = (
        term_df.orderBy(F.col("n_t").desc(), F.col("w").asc())
        .limit(CHI2_TOP_TERMS)
        .localCheckpoint()  # 50 rows, consumed by the cell join AND the
        # contingency spine — unpinned, each consumer re-ran the whole
        # exploded presence aggregate (Catalyst shares no subtrees)
    )
    # per-source totals; the global N derives from them via a window
    # over |sources| rows instead of a second scan of documents
    src_tot = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_s"))
        .withColumn("n_all", F.sum("n_s").over(Window.partitionBy()))
    )
    cells = (
        pres.join(F.broadcast(top.select("w", "n_t")), "w")
        .groupBy("w", "n_t", "source")
        .agg(F.count(F.lit(1)).alias("o_ps"))
    )
    spine = F.broadcast(top).crossJoin(F.broadcast(src_tot))
    full = spine.join(
        cells.select("w", "source", "o_ps"), ["w", "source"], "left"
    ).select(
        "w",
        "n_t",
        "source",
        "n_s",
        "n_all",
        F.coalesce(F.col("o_ps"), F.lit(0)).alias("o_ps"),
    )
    cell_mu = lambda o, e: F.round(  # noqa: E731
        (o.cast("double") - e) * (o.cast("double") - e) / e * 1_000_000.0
    ).cast("bigint")
    e_pres = (
        F.col("n_s").cast("double")
        * F.col("n_t").cast("double")
        / F.col("n_all").cast("double")
    )
    e_abs = (
        F.col("n_s").cast("double")
        * (F.col("n_all") - F.col("n_t")).cast("double")
        / F.col("n_all").cast("double")
    )
    return (
        full.select(
            "w",
            "n_t",
            (
                cell_mu(F.col("o_ps"), e_pres)
                + cell_mu(F.col("n_s") - F.col("o_ps"), e_abs)
            ).alias("cell_mu"),
        )
        .groupBy("w")
        .agg(
            F.max("n_t").cast("bigint").alias("n_docs_with_term"),
            F.sum("cell_mu").cast("bigint").alias("chi2_micro"),
        )
    )


_CHI2_ORACLE = f"""
WITH pres AS (
  SELECT DISTINCT doc_id, source,
    unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), term_df AS (
  SELECT w, count(*) AS n_t FROM pres GROUP BY w
), top AS (
  SELECT w, n_t FROM term_df ORDER BY n_t DESC, w ASC
  LIMIT {CHI2_TOP_TERMS}
), src_tot AS (
  SELECT source, count(*) AS n_s FROM documents GROUP BY source
), n_total AS (
  SELECT count(*) AS n_all FROM documents
), cells AS (
  SELECT p.w, p.source, count(*) AS o_ps
  FROM pres p JOIN top ON top.w = p.w
  GROUP BY p.w, p.source
), full_sp AS (
  SELECT top.w, top.n_t, s.source, s.n_s, n.n_all,
    coalesce(c.o_ps, 0) AS o_ps
  FROM top CROSS JOIN src_tot s CROSS JOIN n_total n
  LEFT JOIN cells c ON c.w = top.w AND c.source = s.source
), per_cell AS (
  SELECT w, n_t,
    CAST(round(
      (CAST(o_ps AS DOUBLE)
        - CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)
          / CAST(n_all AS DOUBLE))
      * (CAST(o_ps AS DOUBLE)
        - CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)
          / CAST(n_all AS DOUBLE))
      / (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)
         / CAST(n_all AS DOUBLE)) * 1000000.0) AS BIGINT)
    + CAST(round(
      (CAST(n_s - o_ps AS DOUBLE)
        - CAST(n_s AS DOUBLE) * CAST(n_all - n_t AS DOUBLE)
          / CAST(n_all AS DOUBLE))
      * (CAST(n_s - o_ps AS DOUBLE)
        - CAST(n_s AS DOUBLE) * CAST(n_all - n_t AS DOUBLE)
          / CAST(n_all AS DOUBLE))
      / (CAST(n_s AS DOUBLE) * CAST(n_all - n_t AS DOUBLE)
         / CAST(n_all AS DOUBLE)) * 1000000.0) AS BIGINT)
    AS cell_mu
  FROM full_sp
)
SELECT w, CAST(max(n_t) AS BIGINT) AS n_docs_with_term,
  CAST(sum(cell_mu) AS BIGINT) AS chi2_micro
FROM per_cell GROUP BY w
"""


#: burstiness screen: the top-N corpus terms by document frequency
BURSTY_TOP_TERMS = 50

#: PMI co-occurrence: pairs among the top-N document-frequency terms
PMI_TOP_TERMS = 20


def q_burstiness_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Fano factor = variance/mean of the per-document
    count, over ALL docs including zeros) for the BURSTY_TOP_TERMS most
    document-frequent terms. Function words arrive ~Poisson (Fano ≈ 1);
    content/topical words are bursty (Fano ≫ 1 — absent from most docs,
    repeated when present); Fano near 1 for EVERY high-df term is the
    signature of templated/boilerplate text. Complements zipf_slope_fit
    (frequency shape) with a dispersion shape.

    Exactness: zero-count docs contribute nothing to Σx and Σx², so both
    sums come exactly from the docs CONTAINING the term, and
    fano_ppm = round(1e6 · (N·Σx² − (Σx)²) / (N·Σx)) is one rounded
    division of exact BIGINTs (N = total docs rides in as a 1-row
    broadcast).

    Scale shape: one (doc, term) count aggregate, broadcast top-term
    filter, per-term collapse — text never shuffles, the output is 50
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    per_doc = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("x")
    )
    top = (
        per_doc.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("w").asc())
        .limit(BURSTY_TOP_TERMS)
        .select("w", "df")
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n_all"))
    stats = (
        per_doc.join(F.broadcast(top), "w")
        .groupBy("w")
        .agg(
            F.max("df").alias("df"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .crossJoin(F.broadcast(n_total))
    )
    return stats.select(
        "w",
        F.col("df").cast("bigint").alias("n_docs_with_term"),
        F.col("sx").cast("bigint").alias("total_count"),
        F.round(
            (
                F.col("n_all") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double")
            * 1_000_000.0
            / (F.col("n_all") * F.col("sx")).cast("double")
        )
        .cast("bigint")
        .alias("fano_ppm"),
    )


_BURSTY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), per_doc AS (
  SELECT doc_id, w, count(*) AS x FROM tok GROUP BY 1, 2
), top AS (
  SELECT w, count(*) AS df FROM per_doc GROUP BY w
  ORDER BY df DESC, w ASC LIMIT {BURSTY_TOP_TERMS}
), n_total AS (SELECT count(*) AS n_all FROM documents)
SELECT p.w,
  CAST(max(top.df) AS BIGINT) AS n_docs_with_term,
  CAST(sum(p.x) AS BIGINT) AS total_count,
  CAST(round(
    CAST(max(n.n_all) * sum(p.x * p.x) - sum(p.x) * sum(p.x) AS DOUBLE)
    * 1000000.0
    / CAST(max(n.n_all) * sum(p.x) AS DOUBLE)) AS BIGINT) AS fano_ppm
FROM per_doc p
JOIN top ON top.w = p.w
CROSS JOIN n_total n
GROUP BY p.w
"""


def q_pmi_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of term CO-OCCURRENCE (document
    presence) for all pairs among the PMI_TOP_TERMS most
    document-frequent terms — pmi = ln(P(a,b) / (P(a)·P(b))), the
    word-association statistic behind collocation mining and the
    classic embedding objective (SGNS factorizes the shifted PMI
    matrix). Positive PMI pairs travel together (collocations, topical
    pairs); strongly negative pairs are near-complementary (register or
    language markers).

    Exactness: counts are exact; pmi_mu = round(round(ln((c_ab·N) /
    (c_a·c_b)), 6)·1e6) is one single-value ln per PAIR over a ratio of
    exact integers — nothing float crosses rows.

    Scale shape (plan-audited): exactly TWO exploded corpus passes (the
    fit/score floor — vocabulary cut, then presence) plus one plain
    count scan. Within-doc pairing happens on the per-doc ARRAY of
    surviving top terms (≤ PMI_TOP_TERMS elements → ≤190 pairs emitted
    by a higher-order transform), not a row self-join — the naive
    pt⋈pt formulation re-ran the whole presence subtree for each side
    because Catalyst shares no subtrees. Marginals ride in on the
    broadcast top list."""
    docs = load_table(spark, sf_dir, "documents")
    pres = _tokens(docs).select("doc_id", "w").distinct()
    top = (
        pres.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("w").asc())
        .limit(PMI_TOP_TERMS)
    )
    per_doc = (
        pres.join(F.broadcast(top), "w")
        .groupBy("doc_id")
        .agg(
            F.expr("sort_array(collect_list(struct(w, df)))").alias("arr")
        )
    )
    pair_expr = F.expr(
        "flatten(transform(arr, (x, i) -> "
        "transform(slice(arr, i + 2, size(arr)), y -> "
        "struct(x.w AS term_a, y.w AS term_b, "
        "x.df AS c_a, y.df AS c_b))))"
    )
    pairs = (
        per_doc.select(F.explode(pair_expr).alias("p"))
        .select("p.*")
        .groupBy("term_a", "term_b")
        .agg(
            F.count(F.lit(1)).alias("c_ab"),
            F.max("c_a").alias("c_a"),
            F.max("c_b").alias("c_b"),
        )
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n_all"))
    return (
        pairs.crossJoin(F.broadcast(n_total))
        .select(
            "term_a",
            "term_b",
            F.col("c_ab").cast("bigint").alias("n_co_docs"),
            F.round(
                F.round(
                    F.log(
                        (F.col("c_ab") * F.col("n_all")).cast("double")
                        / (F.col("c_a") * F.col("c_b")).cast("double")
                    ),
                    6,
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("pmi_mu"),
        )
    )


_PMI_ORACLE = f"""
WITH pres AS (
  SELECT DISTINCT doc_id,
    unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), top AS (
  SELECT w, count(*) AS df FROM pres GROUP BY w
  ORDER BY df DESC, w ASC LIMIT {PMI_TOP_TERMS}
), pt AS (
  SELECT p.doc_id, p.w, top.df
  FROM pres p JOIN top ON top.w = p.w
), pairs AS (
  SELECT a.w AS term_a, b.w AS term_b, count(*) AS c_ab,
    max(a.df) AS c_a, max(b.df) AS c_b
  FROM pt a JOIN pt b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
)
SELECT term_a, term_b, CAST(c_ab AS BIGINT) AS n_co_docs,
  CAST(round(round(ln(
    CAST(c_ab * (SELECT count(*) FROM documents) AS DOUBLE)
    / CAST(c_a * c_b AS DOUBLE)), 6) * 1000000) AS BIGINT) AS pmi_mu
FROM pairs
"""


#: novelty curve: corpus deciles by doc_id ingest order
NOVELTY_DECILES = 10


def q_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram novelty decay over ingest order: for each corpus decile
    (by doc_id), what share of bigram INSTANCES was never seen in any
    earlier document? Fresh corpora start near 100% novel and decay as
    the n-gram space saturates; a decile whose novelty jumps back up
    marks a distribution shift (new source landing mid-ingest), and one
    that collapses toward 0 is recrawl/duplication — the pretraining
    "is the tail of this crawl still worth tokenizing" curve, the
    instance-weighted complement of vocab_growth_heaps' type counts.

    Exactness: all counts exact BIGINT; novelty_ppm is one integer div.

    Scale shape (plan-audited): exploded pass 1 fits per-BIGRAM first-
    occurrence doc (|bigram vocab| rows); exploded pass 2 re-joins
    instances to that table on the bigram hash key (shuffle bounded by
    instance count — the only row-scale shuffle) and collapses per doc;
    decile thresholds derive from a window over the bounded per-doc
    table. A doc's own first use counts as novel (first_doc = doc_id ⇒
    strictly-earlier test fails)."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split(F.lower(F.trim(F.col("text"))), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(arr) - 1),"
        " i -> concat(arr[i-1], ' ', arr[i]))"
    )
    inst = (
        docs.select("doc_id", arr.alias("arr"))
        .filter(F.size("arr") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
    )
    firsts = inst.groupBy("b").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        inst.join(firsts, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                (F.col("first_doc") < F.col("doc_id")).cast("bigint")
            ).alias("n_seen"),
        )
    )
    wall = Window.partitionBy()
    bounded = per_doc.withColumn(
        "min_id", F.min("doc_id").over(wall)
    ).withColumn("max_id", F.max("doc_id").over(wall))
    dec = F.least(
        F.lit(NOVELTY_DECILES - 1),
        F.expr(
            f"((doc_id - min_id) * {NOVELTY_DECILES})"
            " div (max_id - min_id + 1)"
        ),
    ).cast("bigint")
    return (
        bounded.select(dec.alias("decile"), "n_bigrams", "n_seen")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            F.sum("n_seen").cast("bigint").alias("seen_bigrams"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr(
                "(total_bigrams - seen_bigrams) * 1000000L"
                " div total_bigrams"
            ),
        )
    )


_NOVELTY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
  FROM documents
), inst AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(arr) - 1),
      i -> arr[i] || ' ' || arr[i+1])) AS b
  FROM tok WHERE len(arr) >= 2
), firsts AS (
  SELECT b, min(doc_id) AS first_doc FROM inst GROUP BY b
), per_doc AS (
  SELECT i.doc_id, count(*) AS n_bigrams,
    sum(CASE WHEN f.first_doc < i.doc_id THEN 1 ELSE 0 END) AS n_seen
  FROM inst i JOIN firsts f ON f.b = i.b
  GROUP BY i.doc_id
), bounded AS (
  SELECT doc_id, n_bigrams, n_seen,
    min(doc_id) OVER () AS min_id, max(doc_id) OVER () AS max_id
  FROM per_doc
), agg AS (
  SELECT least({NOVELTY_DECILES} - 1,
      (doc_id - min_id) * {NOVELTY_DECILES} // (max_id - min_id + 1))
      AS decile,
    count(*) AS n_docs, sum(n_bigrams) AS total_bigrams,
    sum(n_seen) AS seen_bigrams
  FROM bounded GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(total_bigrams AS BIGINT) AS total_bigrams,
  CAST(seen_bigrams AS BIGINT) AS seen_bigrams,
  CAST((total_bigrams - seen_bigrams) * 1000000 // total_bigrams
       AS BIGINT) AS novelty_ppm
FROM agg
"""


#: JS divergence: doc-length bin width in characters
JS_BIN_CHARS = 100


def q_js_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's doc-length
    distribution against the REST of the corpus — the bounded,
    symmetric drift metric (0 ≤ JS ≤ ln 2) that PSI and KL are not:
    PSI explodes on empty bins and KL is asymmetric, so JS is the
    right "which source is distributionally weird" ranking. Bins are
    JS_BIN_CHARS-character length buckets.

    Exactness: the whole statistic derives from the (source × bin)
    histogram; per-PRESENT-bin contributions are quantized to
    micro-nats and summed exactly; bins where the source is ABSENT
    contribute 0.5·ln2·q exactly (p = 0 ⇒ m = q/2 ⇒ the log collapses
    to the constant ln 2), folded in algebraically as
    0.5·ln2·(1 − Σ_present q) — no zero-row materialization, the
    t_closeness_audit trick.

    Scale shape: ONE corpus scan → the bounded histogram; every total
    (per-bin, per-source, global) is a window over it."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.expr(f"n_chars div {JS_BIN_CHARS}").cast("bigint")
    g = (
        docs.select("source", b.alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wb = Window.partitionBy("bin")
    ws = Window.partitionBy("source")
    wall = Window.partitionBy()
    h = (
        g.withColumn("cnt_b", F.sum("cnt").over(wb))
        .withColumn("n_s", F.sum("cnt").over(ws))
        .withColumn("n_all", F.sum("cnt").over(wall))
    )
    p = F.col("cnt").cast("double") / F.col("n_s").cast("double")
    q = (F.col("cnt_b") - F.col("cnt")).cast("double") / (
        F.col("n_all") - F.col("n_s")
    ).cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * p * F.log(p / m) + F.when(
        q > 0, F.lit(0.5) * q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    # Σ_present q is derived from EXACT integer sums (Σ(cnt_b − cnt)
    # over present bins, one division at the end) — a float sum of
    # per-bin q values would be association-order-dependent
    per_bin = h.select(
        "source",
        "n_s",
        "n_all",
        F.round(term * 1_000_000).cast("bigint").alias("term_mu"),
        (F.col("cnt_b") - F.col("cnt")).alias("rest_cnt"),
    )
    return per_bin.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins_present"),
        (
            F.sum("term_mu")
            + F.round(
                F.lit(0.5 * 0.6931471805599453)
                * (
                    F.lit(1.0)
                    - F.sum("rest_cnt").cast("double")
                    / (F.max("n_all") - F.max("n_s")).cast("double")
                )
                * 1_000_000
            ).cast("bigint")
        ).alias("js_mu"),
    )


_JS_ORACLE = f"""
WITH g AS (
  SELECT source, n_chars // {JS_BIN_CHARS} AS bin, count(*) AS cnt
  FROM documents GROUP BY 1, 2
), h AS (
  SELECT source, cnt,
    sum(cnt) OVER (PARTITION BY bin) AS cnt_b,
    sum(cnt) OVER (PARTITION BY source) AS n_s,
    sum(cnt) OVER () AS n_all
  FROM g
), per_bin AS (
  SELECT source, n_s,
    CAST(round((
      0.5 * (CAST(cnt AS DOUBLE) / CAST(n_s AS DOUBLE))
          * ln((CAST(cnt AS DOUBLE) / CAST(n_s AS DOUBLE))
               / ((CAST(cnt AS DOUBLE) / CAST(n_s AS DOUBLE)
                   + CAST(cnt_b - cnt AS DOUBLE)
                     / CAST(n_all - n_s AS DOUBLE)) / 2.0))
      + CASE WHEN cnt_b - cnt > 0 THEN
          0.5 * (CAST(cnt_b - cnt AS DOUBLE) / CAST(n_all - n_s AS DOUBLE))
          * ln((CAST(cnt_b - cnt AS DOUBLE) / CAST(n_all - n_s AS DOUBLE))
               / ((CAST(cnt AS DOUBLE) / CAST(n_s AS DOUBLE)
                   + CAST(cnt_b - cnt AS DOUBLE)
                     / CAST(n_all - n_s AS DOUBLE)) / 2.0))
        ELSE 0.0 END) * 1000000) AS BIGINT) AS term_mu,
    cnt_b - cnt AS rest_cnt, n_all, n_s
  FROM h
)
SELECT source, CAST(count(*) AS BIGINT) AS n_bins_present,
  CAST(sum(term_mu)
    + CAST(round(0.5 * 0.6931471805599453
        * (1.0 - CAST(sum(rest_cnt) AS DOUBLE)
                 / CAST(max(n_all) - max(n_s) AS DOUBLE))
        * 1000000) AS BIGINT) AS BIGINT) AS js_mu
FROM per_bin GROUP BY source
"""


QUERIES = {
    "vocab_growth_heaps": q_vocab_growth_heaps,
    "burstiness_top_terms": q_burstiness_top_terms,
    "pmi_cooccurrence_pairs": q_pmi_cooccurrence_pairs,
    "ngram_novelty_curve": q_ngram_novelty_curve,
    "js_divergence_by_source": q_js_divergence_by_source,
    "zipf_slope_fit": q_zipf_slope_fit,
    "chi2_term_source": q_chi2_term_source,
}

ORACLES = {
    "vocab_growth_heaps": _HEAPS_ORACLE,
    "burstiness_top_terms": _BURSTY_ORACLE,
    "pmi_cooccurrence_pairs": _PMI_ORACLE,
    "ngram_novelty_curve": _NOVELTY_ORACLE,
    "js_divergence_by_source": _JS_ORACLE,
    "zipf_slope_fit": _ZIPF_ORACLE,
    "chi2_term_source": _CHI2_ORACLE,
}
