"""The tokenizer's fit/transform split as a model, plus pure-SQL model
inference queries.

The reference's fitted state (boundary tensor at etl_benchmark.py:74 /
host_thresholds at etl_benchmark_numba.py:62) dies with the process; a
real pipeline fits once and transforms many times. QuantileBinModel is
that split: a sketch fit to ``bins+1`` boundary floats per column (KBs of
driver-side state) and the map-only Bucketizer transform. Its one
persisted format is the parquet boundary artifact of
``quantile_bin.save_boundaries`` / ``load_boundaries``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from .quantile_bin import DEFAULT_BINS, bucketize, fit_quantile_boundaries


@dataclass
class QuantileBinModel:
    """Fitted boundaries per column: fit once, transform any later frame
    without refitting."""

    boundaries: dict[str, list[float]]

    @classmethod
    def fit(
        cls, df: DataFrame, cols: list[str], bins: int = DEFAULT_BINS
    ) -> "QuantileBinModel":
        return cls(fit_quantile_boundaries(df, cols, bins))

    def transform(
        self, df: DataFrame, keep_cols: list[str] | None = None
    ) -> DataFrame:
        return bucketize(df, self.boundaries, keep_cols=keep_cols)


# --- ML inference as pure SQL (operator fusion — the ICDE 2025
# "Machine Learning Inference Pipeline Execution Using Pure SQL"
# pattern applied to a fitted decision tree) -------------------------

#: a depth-3 tree over lineitem features, FITTED OFFLINE and shipped as
#: literals — inference is one fused CASE expression inside the scan
#: projection: zero UDF, zero model server, whole-stage codegen. Leaf
#: scores are the model's predicted return-rate (ppm).
TREE_LEAVES = {
    1: ("small_lowdisc", 240_000),
    2: ("small_discounted", 260_000),
    3: ("bulk_cheap", 250_000),
    4: ("bulk_mid", 245_000),
    5: ("bulk_large", 255_000),
}

_TREE_CASE = """
CASE
  WHEN l_quantity <= 25 THEN
    CASE WHEN CAST(round(l_discount * 100) AS INTEGER) <= 5
         THEN 1 ELSE 2 END
  ELSE
    CASE WHEN CAST(round(l_extendedprice * 100) AS BIGINT) <= 3000000
         THEN 3
         ELSE CASE WHEN l_quantity <= 40 THEN 4 ELSE 5 END
    END
END
"""


def q_decision_tree_calibration(spark, sf_dir: str):
    """Decision-tree INFERENCE in pure SQL + calibration audit: every
    lineitem routes through the fused CASE tree (see _TREE_CASE — the
    shipped model), then per leaf the PREDICTED return-rate ppm is laid
    next to the OBSERVED rate (returnflag = 'R' share, exact integer
    ppm) — the model-monitoring table that tells you which leaves have
    drifted. Inference is map-only inside the scan stage; the audit is
    one 5-group aggregate. At 100 TB this replaces a row-at-a-time
    model server with the scan itself — the operator-fusion argument."""
    from pyspark.sql import functions as F

    from ..session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    leaf_label = F.create_map(
        *[
            c
            for k, (label, _) in TREE_LEAVES.items()
            for c in (F.lit(k), F.lit(label))
        ]
    )
    leaf_score = F.create_map(
        *[
            c
            for k, (_, score) in TREE_LEAVES.items()
            for c in (F.lit(k), F.lit(score))
        ]
    )
    scored = li.select(
        F.expr(_TREE_CASE).alias("leaf_id"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_return"),
    )
    agg = scored.groupBy("leaf_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("is_return").alias("n_returns"),
    )
    return agg.select(
        "leaf_id",
        leaf_label[F.col("leaf_id")].alias("leaf_label"),
        "n_rows",
        leaf_score[F.col("leaf_id")].cast("bigint").alias(
            "predicted_return_ppm"
        ),
        F.expr("n_returns * 1000000L div n_rows").alias(
            "observed_return_ppm"
        ),
    )


def _tree_oracle() -> str:
    label_case = " ".join(
        f"WHEN {k} THEN '{label}'" for k, (label, _) in TREE_LEAVES.items()
    )
    score_case = " ".join(
        f"WHEN {k} THEN {score}" for k, (_, score) in TREE_LEAVES.items()
    )
    return f"""
WITH scored AS (
  SELECT {_TREE_CASE} AS leaf_id,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_return
  FROM lineitem
), agg AS (
  SELECT leaf_id, count(*) AS n_rows,
    CAST(sum(is_return) AS BIGINT) AS n_returns
  FROM scored GROUP BY 1
)
SELECT leaf_id,
  CASE leaf_id {label_case} END AS leaf_label,
  n_rows,
  CAST(CASE leaf_id {score_case} END AS BIGINT) AS predicted_return_ppm,
  CAST(n_returns * 1000000 // n_rows AS BIGINT) AS observed_return_ppm
FROM agg
"""


#: AUC screen: the quality score is the whitespace token count; the
#: positive class is lang = 'en' — "does the cheap score separate the
#: target language?" is the canonical screen-before-you-train question
AUC_POS_LANG = "en"


def q_auc_quality_screen(spark, sf_dir: str):
    """ROC AUC of a cheap quality score (token count) as a classifier
    for the target class (lang = 'en') — the Mann–Whitney formulation
    with exact tie handling: AUC = U / (n_pos · n_neg) where
    U = Σ_values pos_v · (neg_below_v + neg_v / 2). AUC ≈ 0.5 means the
    score can't rank the class; an annotation pipeline reports this
    before spending model capacity on the feature.

    Exactness: doubling clears the half-tie term —
    auc_ppm = round(Σ pos_v·(2·neg_below_v + neg_v) · 1e6 / (2·n_pos·n_neg))
    over exact BIGINT counts; one rounded division at the end.

    Scale shape: the corpus collapses in one pass to the per-VALUE
    (pos_v, neg_v) histogram — the KS/quantile escape hatch: the ordered
    window runs over |distinct score values| rows (the value DOMAIN),
    never |rows|; totals ride the same window spine."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..session import load_table

    docs = load_table(spark, sf_dir, "documents")
    v = F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
    pos = (F.col("lang") == AUC_POS_LANG).cast("bigint")
    hist = (
        docs.select(v.alias("v"), pos.alias("p"))
        .groupBy("v")
        .agg(
            F.sum("p").alias("pos_v"),
            F.sum(1 - F.col("p")).alias("neg_v"),
        )
    )
    w_below = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.partitionBy()
    scored = hist.select(
        F.col("pos_v")
        * (
            2 * F.coalesce(F.sum("neg_v").over(w_below), F.lit(0))
            + F.col("neg_v")
        ),
        F.col("pos_v"),
        F.col("neg_v"),
    ).toDF("u2_term", "pos_v", "neg_v")
    agg = scored.agg(
        F.sum("u2_term").cast("bigint").alias("u2"),
        F.sum("pos_v").cast("bigint").alias("n_pos"),
        F.sum("neg_v").cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("u2").cast("double")
            * 1_000_000.0
            / (2.0 * F.col("n_pos") * F.col("n_neg")).cast("double")
        )
        .cast("bigint")
        .alias("auc_ppm"),
    )


_AUC_ORACLE = f"""
WITH hist AS (
  SELECT len(string_split(lower(trim(text)), ' ')) AS v,
    sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 1 ELSE 0 END) AS pos_v,
    sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 0 ELSE 1 END) AS neg_v
  FROM documents GROUP BY 1
), scored AS (
  SELECT pos_v, neg_v,
    pos_v * (2 * coalesce(sum(neg_v) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + neg_v)
      AS u2_term
  FROM hist
)
SELECT CAST(sum(pos_v) AS BIGINT) AS n_pos,
  CAST(sum(neg_v) AS BIGINT) AS n_neg,
  CAST(round(CAST(sum(u2_term) AS DOUBLE) * 1000000.0
             / CAST(2.0 * sum(pos_v) * sum(neg_v) AS DOUBLE)) AS BIGINT)
    AS auc_ppm
FROM scored
"""


#: naive Bayes: vocabulary = the NB_VOCAB most document-frequent terms
#: (ties lexicographic); add-one smoothing over that closed vocabulary
NB_VOCAB = 200


def q_naive_bayes_source_confusion(spark, sf_dir: str):
    """Multinomial naive Bayes fit AND scored in pure SQL — train a
    per-source unigram model over the top-NB_VOCAB vocabulary (add-one
    smoothing), score every document, predict argmax source, and emit
    the (true source × predicted source) confusion matrix. The
    self-classification accuracy of a source is a direct measure of how
    lexically distinctive it is — the same signal chi2_term_source gives
    per TERM, aggregated to a per-SOURCE separability report.

    Exactness: per-(term, source) log-likelihood ln((c_ts+1)/(n_s+V))
    and per-source prior ln(n_docs_s/N) are quantized to micro-nats as
    single-value lns; a document's score per source is then an exact
    integer sum, and argmax ties break on source ASC — engine-stable.

    Scale shape: the model is a broadcast (NB_VOCAB × |sources|) table
    built from one token-histogram pass; scoring is one
    explode + broadcast join + (doc, source) partial agg; the argmax is
    a window over |sources| rows per doc. Text never shuffles."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..session import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    top = (
        tok.select("doc_id", "w")
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("w").asc())
        .limit(NB_VOCAB)
        .select("w")
    )
    # Corpus-pass economy (plan-audited): the naive formulation explodes
    # the corpus SIX times (vocab df, per-source counts ×2 branches,
    # per-doc hits, per-doc totals) because Catalyst shares no subtrees
    # across DAG branches. Fix: localCheckpoint the two BOUNDED
    # intermediates that fan out — the 200-term vocabulary and the
    # (doc, term) hit table — the same lineage-pinning the iterative
    # graph operators use. Result: exploded pass 1 fits the vocabulary,
    # exploded pass 2 builds doc_hits; model / floor / scoring all read
    # the pinned tables; per-doc token totals are a map-only
    # size(split(·)) scan. Two exploded passes is the fit/score floor.
    top = top.localCheckpoint()
    doc_hits = (
        tok.join(F.broadcast(top), "w")
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .localCheckpoint()
    )
    ts = doc_hits.groupBy(F.col("source").alias("m_source"), "w").agg(
        F.sum("n_w").alias("c_ts")
    )
    w_src = Window.partitionBy("m_source")
    mu = lambda c: F.round(F.round(F.log(c), 6) * 1_000_000).cast(  # noqa: E731
        "bigint"
    )
    model = ts.withColumn("n_s", F.sum("c_ts").over(w_src)).select(
        "m_source",
        "w",
        mu(
            (F.col("c_ts") + 1).cast("double")
            / (F.col("n_s") + NB_VOCAB).cast("double")
        ).alias("ll_mu"),
    )
    # unseen-(term,source) smoothing floor ln(1/(n_s+V)) per source
    floor = ts.groupBy("m_source").agg(
        mu(
            F.lit(1.0) / (F.sum("c_ts") + NB_VOCAB).cast("double")
        ).alias("floor_mu")
    )
    prior = docs.groupBy(F.col("source").alias("m_source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    prior = prior.select(
        "m_source",
        mu(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(Window.partitionBy()).cast("double")
        ).alias("prior_mu"),
    ).localCheckpoint()  # |sources| rows, consumed by two branches
    # score: per doc, per candidate source — vocabulary hits via
    # broadcast join; misses covered by n_oov * floor. The candidate
    # spine is (doc × source) so a doc with ZERO vocabulary hits is
    # still classified (score = prior + n_tok·floor) instead of being
    # silently dropped by the inner hit join.
    cand = doc_hits.join(F.broadcast(model), "w").groupBy(
        "doc_id", "m_source"
    ).agg(
        F.sum(F.col("n_w") * F.col("ll_mu")).alias("hit_mu"),
        F.sum("n_w").alias("n_hit"),
    )
    tot = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), " ")).alias(
            "n_tok"
        ),
    )
    spine = tot.crossJoin(F.broadcast(prior.select("m_source")))
    scored = (
        spine.join(cand, ["doc_id", "m_source"], "left")
        .join(F.broadcast(floor), "m_source")
        .join(F.broadcast(prior), "m_source")
        .select(
            "doc_id",
            "source",
            "m_source",
            (
                F.col("prior_mu")
                + F.coalesce(F.col("hit_mu"), F.lit(0))
                + (F.col("n_tok") - F.coalesce(F.col("n_hit"), F.lit(0)))
                * F.col("floor_mu")
            ).alias("score_mu"),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("score_mu").desc(), F.col("m_source").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", F.col("m_source").alias("predicted"))
    )
    return (
        pred.groupBy("source", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


_NB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
    unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), top AS (
  SELECT w FROM (
    SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w
  ) ORDER BY df DESC, w ASC LIMIT {NB_VOCAB}
), ts AS (
  SELECT t.source AS m_source, t.w, count(*) AS c_ts
  FROM tok t JOIN top ON top.w = t.w
  GROUP BY 1, 2
), model AS (
  SELECT m_source, w,
    CAST(round(round(ln(CAST(c_ts + 1 AS DOUBLE)
      / CAST(sum(c_ts) OVER (PARTITION BY m_source) + {NB_VOCAB}
             AS DOUBLE)), 6) * 1000000) AS BIGINT) AS ll_mu
  FROM ts
), floor_t AS (
  SELECT m_source,
    CAST(round(round(ln(1.0
      / CAST(sum(c_ts) + {NB_VOCAB} AS DOUBLE)), 6) * 1000000)
      AS BIGINT) AS floor_mu
  FROM ts GROUP BY m_source
), prior AS (
  SELECT source AS m_source,
    CAST(round(round(ln(CAST(count(*) AS DOUBLE)
      / CAST((SELECT count(*) FROM documents) AS DOUBLE)), 6)
      * 1000000) AS BIGINT) AS prior_mu
  FROM documents GROUP BY source
), doc_hits AS (
  SELECT t.doc_id, t.w, count(*) AS n_w
  FROM tok t JOIN top ON top.w = t.w
  GROUP BY 1, 2
), tot AS (
  SELECT doc_id, source, count(*) AS n_tok FROM tok GROUP BY 1, 2
), cand AS (
  SELECT d.doc_id, m.m_source,
    sum(d.n_w * m.ll_mu) AS hit_mu, sum(d.n_w) AS n_hit
  FROM doc_hits d JOIN model m ON m.w = d.w
  GROUP BY 1, 2
), scored AS (
  SELECT t.doc_id, t.source, p.m_source,
    p.prior_mu + coalesce(c.hit_mu, 0)
      + (t.n_tok - coalesce(c.n_hit, 0)) * f.floor_mu AS score_mu
  FROM tot t
  CROSS JOIN prior p
  LEFT JOIN cand c ON c.doc_id = t.doc_id AND c.m_source = p.m_source
  JOIN floor_t f ON f.m_source = p.m_source
), pred AS (
  SELECT doc_id, source, m_source AS predicted,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY score_mu DESC, m_source ASC) AS rn
  FROM scored
)
SELECT source, predicted, CAST(count(*) AS BIGINT) AS n
FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


QUERIES = {
    "decision_tree_calibration": q_decision_tree_calibration,
    "auc_quality_screen": q_auc_quality_screen,
    "naive_bayes_source_confusion": q_naive_bayes_source_confusion,
}
ORACLES = {
    "decision_tree_calibration": _tree_oracle(),
    "auc_quality_screen": _AUC_ORACLE,
    "naive_bayes_source_confusion": _NB_ORACLE,
}
