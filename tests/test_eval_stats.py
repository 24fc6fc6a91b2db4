"""Property tests for the round-4 batch-3/4 statistics operators —
semantic invariants the oracle parity check can't see (parity proves
both engines agree, not that the agreed-on answer has the claimed
structure). Synthetic-fixture tests write tiny parquet tables with the
standard schemas so the closed-form answer is known exactly."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.eval_stats import (  # noqa: E402
    q_cohens_kappa_raters,
    q_kaplan_meier_retention,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.model import (  # noqa: E402
    AUC_POS_LANG,
    q_auc_quality_screen,
    q_naive_bayes_source_confusion,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.text_stats import (  # noqa: E402
    q_burstiness_top_terms,
    q_vocab_growth_heaps,
    q_zipf_slope_fit,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.similarity import (  # noqa: E402
    q_matryoshka_dim_quality,
    q_silhouette_by_label,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.audit import (  # noqa: E402
    q_t_closeness_audit,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (  # noqa: E402
    CURRICULUM_STAGE_DOCS,
    q_curriculum_stages,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (  # noqa: E402
    load_table,
)


def _write_docs(spark, tmp_path, rows):
    """rows: list of (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in rows],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return str(tmp_path)


def test_km_life_table_invariants(spark, sf_dir):
    """Survival is non-increasing in t, n_risk is non-increasing, the
    life table accounts for every user exactly once, and S(t) stays in
    [0, 1e6]."""
    rows = sorted(
        q_kaplan_meier_retention(spark, sf_dir).collect(),
        key=lambda r: r["t"],
    )
    assert rows, "life table is empty"
    users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r["d"] + r["c"] for r in rows) == users
    prev_s, prev_n = 1_000_000, None
    for r in rows:
        assert 0 <= r["survival_ppm"] <= 1_000_000
        assert r["survival_ppm"] <= prev_s + 1  # rounding slack of 1 ppm
        prev_s = r["survival_ppm"]
        if prev_n is not None:
            assert r["n_risk"] <= prev_n
        prev_n = r["n_risk"]
    # non-vacuous on the shipped fixtures: some churn must be observed
    assert sum(r["d"] for r in rows) > 0


def test_kappa_perfect_agreement_is_one(spark, tmp_path):
    """Two raters that agree on every doc (and the table is not
    single-class) must score kappa_ppm == 1e6."""
    long = "w " * 60  # >=200 chars and >=40 tokens -> both raters pass
    sf = _write_docs(
        spark,
        tmp_path,
        [(1, long * 4, "en", "s"), (2, "short", "en", "s"),
         (3, long * 4, "en", "s"), (4, "tiny", "en", "s")],
    )
    row = q_cohens_kappa_raters(spark, sf).collect()[0]
    assert row["agree"] == row["n"] == 4
    assert row["kappa_ppm"] == 1_000_000


def test_auc_perfect_separation_is_one(spark, tmp_path):
    """If every positive-class doc has strictly more tokens than every
    negative doc, AUC must be exactly 1e6 (and 0 for the inverted
    labeling)."""
    sf = _write_docs(
        spark,
        tmp_path,
        [(1, "a b c d e f", AUC_POS_LANG, "s"),
         (2, "a b c d e", AUC_POS_LANG, "s"),
         (3, "a b", "xx", "s"),
         (4, "a", "xx", "s")],
    )
    row = q_auc_quality_screen(spark, sf).collect()[0]
    assert (row["n_pos"], row["n_neg"], row["auc_ppm"]) == (2, 2, 1_000_000)
    sf2 = _write_docs(
        spark,
        tmp_path,
        [(1, "a", AUC_POS_LANG, "s"), (2, "a b c", "xx", "s"),
         (3, "a b c d", "xx", "s")],
    )
    row2 = q_auc_quality_screen(spark, sf2).collect()[0]
    assert row2["auc_ppm"] == 0


def test_naive_bayes_confusion_accounts_for_every_doc(spark, sf_dir):
    cm = q_naive_bayes_source_confusion(spark, sf_dir)
    total = cm.agg(F.sum("n")).collect()[0][0]
    docs = load_table(spark, sf_dir, "documents").count()
    assert total == docs  # zero-hit docs must not drop (doc x src spine)


def test_naive_bayes_separable_fixture_is_diagonal(spark, tmp_path):
    """Disjoint vocabularies per source -> the classifier must recover
    the source exactly (confusion matrix is diagonal)."""
    rows = []
    for i in range(10):
        rows.append((i, "alpha beta gamma " * 3, "en", "sa"))
        rows.append((100 + i, "delta epsilon zeta " * 3, "en", "sb"))
    sf = _write_docs(spark, tmp_path, rows)
    cm = {(r["source"], r["predicted"]): r["n"]
          for r in q_naive_bayes_source_confusion(spark, sf).collect()}
    assert cm == {("sa", "sa"): 10, ("sb", "sb"): 10}


def test_t_closeness_bounds_and_coverage(spark, sf_dir):
    rows = q_t_closeness_audit(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.select("c_nationkey", "c_mktsegment").distinct().count()
    assert len(rows) == classes  # every class audited
    for r in rows:
        assert 0 <= r["tvd_ppm"] <= 1_000_000


def test_heaps_curve_monotone_and_saturates(spark, sf_dir):
    rows = sorted(
        q_vocab_growth_heaps(spark, sf_dir).collect(),
        key=lambda r: r["checkpoint"],
    )
    assert [r["checkpoint"] for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert b["vocab_size"] >= a["vocab_size"]
        assert b["total_tokens"] >= a["total_tokens"]
        assert b["n_docs"] >= a["n_docs"]
    # final checkpoint covers the whole corpus
    docs = load_table(spark, sf_dir, "documents")
    assert rows[-1]["n_docs"] == docs.count()
    vocab = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), " ")
            ).alias("w")
        )
        .distinct()
        .count()
    )
    assert rows[-1]["vocab_size"] == vocab


def test_zipf_slope_negative(spark, sf_dir):
    row = q_zipf_slope_fit(spark, sf_dir).collect()[0]
    assert row["zipf_slope_micro"] < 0  # frequency falls with rank


def test_burstiness_nonnegative_and_mean_bounds(spark, sf_dir):
    for r in q_burstiness_top_terms(spark, sf_dir).collect():
        assert r["fano_ppm"] >= 0  # variance is non-negative
        assert r["total_count"] >= r["n_docs_with_term"]


def test_silhouette_bounds(spark, sf_dir):
    rows = q_silhouette_by_label(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1_000_000 <= r["mean_silhouette_ppm"] <= 1_000_000


def test_matryoshka_errors_nonnegative_and_full_dim_consistent(
    spark, sf_dir
):
    rows = q_matryoshka_dim_quality(spark, sf_dir).collect()
    dims = {r["dim"] for r in rows}
    assert dims == {8, 16, 32}
    n = {r["n_pairs"] for r in rows}
    assert len(n) == 1  # every dim scores the same pair sample
    for r in rows:
        assert r["sum_abs_err_mu"] >= 0


def test_curriculum_stage_sizes_and_rank_contiguity(spark, sf_dir):
    df = q_curriculum_stages(spark, sf_dir)
    sizes = df.groupBy("source", "stage").count().collect()
    for r in sizes:
        assert r["count"] <= CURRICULUM_STAGE_DOCS
    ranks = df.groupBy("source").agg(
        F.min("source_rank").alias("lo"),
        F.max("source_rank").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("source_rank").alias("nd"),
    )
    for r in ranks.collect():
        assert r["lo"] == 1 and r["hi"] == r["n"] == r["nd"]


def test_km_censoring_biases_naive_mean_down(spark, sf_dir):
    """The motivation for KM: the naive mean lifetime over CHURNED users
    only must not exceed the KM-weighted view — censored users carry the
    longest observed lifetimes by construction (they were still active
    at window end). Weak-form check: max censored lifetime >= max
    churned lifetime on the shipped fixture."""
    rows = q_kaplan_meier_retention(spark, sf_dir).collect()
    max_churn = max((r["t"] for r in rows if r["d"] > 0), default=None)
    max_cens = max((r["t"] for r in rows if r["c"] > 0), default=None)
    assert max_churn is not None and max_cens is not None
    assert max_cens >= max_churn


def test_kcore_is_true_fixpoint_and_min_degree_holds(spark, sf_dir):
    """The fixed KCORE_ROUNDS unroll must REACH the fixpoint on the
    shipped fixtures (otherwise the answer is a truncation, not the
    k-core): every surviving node has within-core degree >= k, and one
    additional peel removes nothing."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        KCORE_K,
        q_graph_kcore,
    )

    rows = q_graph_kcore(spark, sf_dir).collect()
    assert rows, "k-core is empty on the fixture"
    degs = {r["node"]: r["core_degree"] for r in rows}
    # min-degree property == one more peel is a no-op (nothing < k left)
    assert min(degs.values()) >= KCORE_K


def test_ngram_novelty_first_decile_is_most_novel(spark, sf_dir):
    """Decile 0 contains the corpus's first documents — nothing precedes
    them, so its novelty must be the maximum across deciles, and every
    decile's novelty_ppm must be a valid proportion."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.text_stats import (
        q_ngram_novelty_curve,
    )

    rows = sorted(
        q_ngram_novelty_curve(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert rows[0]["decile"] == 0
    for r in rows:
        assert 0 <= r["novelty_ppm"] <= 1_000_000
        assert r["seen_bigrams"] <= r["total_bigrams"]
    assert rows[0]["novelty_ppm"] == max(r["novelty_ppm"] for r in rows)


def test_watermark_unwatermarked_fixture_flags_nothing(spark, sf_dir):
    """Natural (un-watermarked) text should sit near z = 0: with the
    3-sigma threshold the false-positive rate is ~0.3%, so flags on the
    fixture must be a tiny fraction of docs."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        q_watermark_greenlist_scan,
    )

    rows = q_watermark_greenlist_scan(spark, sf_dir).collect()
    n_docs = sum(r["n_docs"] for r in rows)
    n_flagged = sum(r["n_flagged"] for r in rows)
    assert n_flagged <= max(2, n_docs // 50)


def test_max_cover_gains_monotone_nonincreasing(spark, sf_dir):
    """Greedy marginal gains are non-increasing (submodularity of
    coverage) and cumulative coverage is their exact running sum."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        MAXCOVER_K,
        q_max_cover_selection,
    )

    rows = sorted(
        q_max_cover_selection(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert 1 <= len(rows) <= MAXCOVER_K
    cum = 0
    prev_gain = None
    for r in rows:
        if prev_gain is not None:
            assert r["gain"] <= prev_gain
        prev_gain = r["gain"]
        cum += r["gain"]
        assert r["covered_terms"] == cum
    # picks are distinct documents
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_sprt_decision_consistent_with_llr(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.eval_stats import (
        SPRT_BOUND_MICRO,
        q_sprt_sequential_test,
    )

    row = q_sprt_sequential_test(spark, sf_dir).collect()[0]
    if row["decision"] == "continue":
        assert row["decision_hour"] is None
        assert abs(row["llr_final_micro"]) < SPRT_BOUND_MICRO
    else:
        assert row["decision_hour"] is not None


def test_dp_noise_is_bounded_and_counts_hidden(spark, sf_dir):
    """Laplace(b=1/eps) noise from a u in (0,1) grid is finite; the
    released value must be within a plausible band of the true count
    (|noise| <= b*ln(2^31) ~ 21.5 for the coarsest u) and the true
    count column must NOT appear in the output schema."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.audit import (
        q_dp_noisy_counts_by_source,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_table,
    )
    import pyspark.sql.functions as SF

    df = q_dp_noisy_counts_by_source(spark, sf_dir)
    assert "n" not in df.columns and "n_docs" not in df.columns
    true = {
        r["source"]: r["cnt"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(SF.count(SF.lit(1)).alias("cnt"))
        .collect()
    }
    for r in df.collect():
        diff = abs(r["noisy_count_milli"] / 1000.0 - true[r["source"]])
        assert diff <= 22.0


def test_disparate_impact_best_source_never_flagged(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.audit import (
        q_disparate_impact_report,
    )

    rows = q_disparate_impact_report(spark, sf_dir).collect()
    best = max(r["pass_ppm"] for r in rows)
    for r in rows:
        assert 0 <= r["impact_ratio_ppm"] <= 1_000_000
        if r["pass_ppm"] == best:
            assert not r["four_fifths_violation"]


def test_js_divergence_bounds(spark, sf_dir):
    """0 <= JS <= ln 2 (693147 micro-nats), up to per-bin rounding."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.text_stats import (
        q_js_divergence_by_source,
    )

    for r in q_js_divergence_by_source(spark, sf_dir).collect():
        assert -50 <= r["js_mu"] <= 693_200  # rounding slack
        assert r["n_bins_present"] >= 1


def test_triplet_violations_are_a_proportion(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.similarity import (
        q_triplet_margin_violations,
    )

    r = q_triplet_margin_violations(spark, sf_dir).collect()[0]
    assert r["n_triplets"] > 0
    assert 0 <= r["n_violations"] <= r["n_triplets"]


def test_linear_interpolate_matches_observed_and_hull(spark, sf_dir):
    """Observed hours carry their own value; interior gaps are filled;
    values outside the observed hull stay NULL; interpolated values lie
    between the surrounding observed values."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_events_linear_interpolate,
    )

    rows = q_events_linear_interpolate(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for _, rs in by_user.items():
        rs.sort(key=lambda r: r["h"])
        obs_idx = [i for i, r in enumerate(rs) if r["observed"]]
        assert obs_idx, "grid spans observed hours by construction"
        lo, hi = obs_idx[0], obs_idx[-1]
        for i, r in enumerate(rs):
            if r["observed"]:
                assert r["value_interp_mu"] is not None
            elif lo < i < hi:
                assert r["value_interp_mu"] is not None
                prev_v = next(
                    rs[j]["value_interp_mu"]
                    for j in range(i, -1, -1)
                    if rs[j]["observed"]
                )
                next_v = next(
                    rs[j]["value_interp_mu"]
                    for j in range(i, len(rs))
                    if rs[j]["observed"]
                )
                lo_v, hi_v = min(prev_v, next_v), max(prev_v, next_v)
                assert lo_v - 1 <= r["value_interp_mu"] <= hi_v + 1


def test_theil_sen_ignores_single_outlier_hour(spark, tmp_path):
    """Robustness: the median-of-slopes must not move when one hour's
    count is corrupted by a huge spike (OLS would). Synthetic fixture:
    a perfectly linear hourly series with one 1000x outlier."""
    import datetime

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_theil_sen_trend,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(24):
        n = 10 + 2 * h  # slope exactly 2 events/hour
        if h == 12:
            n = 5000  # the outlier
        for _ in range(n):
            rows.append(
                (eid, base + datetime.timedelta(hours=h, minutes=1),
                 1, "view", 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    r = q_theil_sen_trend(spark, str(tmp_path)).collect()[0]
    assert r["theil_sen_slope_mu_per_hour"] == 2_000_000


def test_bootstrap_ci_brackets_point_estimate(spark, sf_dir):
    """90% Poisson-bootstrap CI must bracket the full-sample mean for
    (essentially) every source, be properly ordered, and come from all
    BOOT_B replicas (Poisson(1) leaves a source empty with prob
    ~e^-n — never at fixture sizes)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.eval_stats import (
        BOOT_B,
        q_bootstrap_mean_ci,
    )

    rows = q_bootstrap_mean_ci(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_replicas"] == BOOT_B
        assert r["ci_lo_mu"] <= r["ci_hi_mu"]
        assert r["ci_lo_mu"] <= r["mean_mu"] <= r["ci_hi_mu"]


def test_quota_sums_exactly_to_budget(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        QUOTA_BUDGET,
        q_quota_apportionment,
    )

    rows = q_quota_apportionment(spark, sf_dir).collect()
    assert sum(r["quota"] for r in rows) == QUOTA_BUDGET
    for r in rows:
        assert r["quota"] in (r["base_quota"], r["base_quota"] + 1)


def test_funnel_significance_counts_consistent(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.eval_stats import (
        q_funnel_step_significance,
    )

    rows = {r["step"]: r for r in
            q_funnel_step_significance(spark, sf_dir).collect()}
    assert set(rows) == {"view_to_click", "click_to_purchase"}
    for r in rows.values():
        assert 0 <= r["x0"] <= r["n0"] and 0 <= r["x1"] <= r["n1"]
        # non-degenerate at session granularity on the shipped fixtures
        assert r["z_milli"] is not None


def test_max_cover_antijoin_fallback_equivalent(spark, sf_dir):
    """r13 (ADVICE r12): past _MAXCOVER_INSET_MAX covered terms the
    greedy loop switches from the driver-held In-list filter to a
    broadcast anti-join. Forcing the fallback from round 2 onward must
    yield the identical selection — both shapes express "w not in
    covered" over non-null terms."""
    from unittest import mock

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (
        llm_prep,
    )

    base = sorted(
        map(tuple, llm_prep.q_max_cover_selection(spark, sf_dir).collect())
    )
    with mock.patch.object(llm_prep, "_MAXCOVER_INSET_MAX", 0):
        forced = sorted(
            map(
                tuple,
                llm_prep.q_max_cover_selection(spark, sf_dir).collect(),
            )
        )
    assert base == forced and len(base) >= 1


def test_holt_fold_matches_python_replay(spark, sf_dir):
    """r13: events_holt_linear runs as an ordered array fold instead of
    a recursive CTE. The fold must replay the recursion's exact integer
    arithmetic — l' = (2x·10⁶ + 8(l+b)) ÷10, b' = (l' − l + 9b) ÷10,
    every ÷ a trunc-toward-zero division — so replaying it in Python
    over the same daily counts must reproduce every row bit-for-bit
    (the DuckDB oracle additionally certifies the recursion itself in
    test_oracle_parity; this pins the FOLD against an independent
    implementation)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_events_holt_linear,
    )

    out = sorted(
        q_events_holt_linear(spark, sf_dir).collect(), key=lambda r: r["day"]
    )
    assert len(out) >= 2

    def tdiv10(a: int) -> int:
        q = abs(a) // 10
        return q if a >= 0 else -q

    l = out[0]["n_events"] * 1000000
    b = 0
    assert out[0]["level_mu"] == l and out[0]["trend_mu"] == 0
    for row in out[1:]:
        l_new = tdiv10(2 * row["n_events"] * 1000000 + 8 * (l + b))
        b = tdiv10(l_new - l + 9 * b)
        l = l_new
        assert row["level_mu"] == l, row
        assert row["trend_mu"] == b, row
        assert row["forecast_next_mu"] == l + b, row


def test_holt_linear_empty_events_matches_oracle(spark, sf_dir, tmp_path):
    """With no events the global aggregate still yields one (empty)
    series row; the fold must return no rows, as the oracle's walk
    does, instead of slicing with length -1."""
    import duckdb
    import pyarrow.parquet as pq

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        _HOLT_LINEAR_ORACLE,
        q_events_holt_linear,
    )

    empty = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, 0)
    path = os.path.join(str(tmp_path), "events.parquet")
    pq.write_table(empty, path)
    assert q_events_holt_linear(spark, str(tmp_path)).collect() == []
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        assert con.execute(_HOLT_LINEAR_ORACLE).fetchall() == []
    finally:
        con.close()
