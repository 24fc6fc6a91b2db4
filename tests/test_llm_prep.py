"""Unit tests for operators/llm_prep.py — the lanes the fixture data
can't exercise (emails in text, over-budget packing, quantization
round-trip)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import llm_prep  # noqa: E402


def test_pii_redact_email_lane(spark):
    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or call 5551234"),
            (2, "no pii here"),
            (3, "a@b.io and c_d%e@f-g.org, ids 12 345"),
        ],
        "event_id int, props string",
    )
    out = (
        df.select(
            "event_id",
            F.regexp_replace(
                F.regexp_replace(F.col("props"), llm_prep.RE_EMAIL, "<EMAIL>"),
                llm_prep.RE_NUMBER_RUN,
                "<NUM>",
            ).alias("clean_props"),
        )
        .orderBy("event_id")
        .collect()
    )
    assert out[0].clean_props == "contact <EMAIL> or call <NUM>"
    assert out[1].clean_props == "no pii here"
    assert out[2].clean_props == "<EMAIL> and <EMAIL>, ids <NUM> <NUM>"


def test_sequence_packing_overbudget_doc_gets_own_pack(spark, sf_dir):
    # Semantics on a controlled frame: a doc longer than the budget sits
    # alone in its pack; fill resets after each overflow.
    import pandas as pd

    texts = {
        1: "a " * 40,       # 40 tokens after strip -> fits
        2: "b " * 100,      # way over budget -> own pack
        3: "c",             # 1 token
        4: "d " * 30,       # 30 tokens
    }
    df = spark.createDataFrame(
        [(i, "s0", t.strip()) for i, t in texts.items()],
        "doc_id bigint, source string, text string",
    )
    with_tok = df.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tokens")
    )
    out = (
        with_tok.groupBy("source")
        .applyInPandas(
            llm_prep._pack_fn(llm_prep.PACK_BUDGET),
            "doc_id bigint, source string, n_tokens int, pack_id int, pack_fill_after int",
        )
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(out.pack_id) == [0, 1, 2, 2]
    assert list(out.pack_fill_after) == [40, 100, 1, 31]
    assert isinstance(out, pd.DataFrame)


def test_embedding_quantize_bounds(spark, sf_dir):
    out = llm_prep.q_embedding_quantize_int8(spark, sf_dir)
    # q8 is exported as a comma-joined string (scalar wire form); parse it
    # back to ints for the bound checks
    qarr = F.transform(F.split("q8", ","), lambda x: x.cast("int"))
    stats = out.select(
        F.max(F.array_max(qarr)).alias("qmax"),
        F.min(F.array_min(qarr)).alias("qmin"),
        F.max("max_err_mu").alias("errmax"),
        F.min("scale_mu").alias("smin"),
    ).collect()[0]
    assert stats.qmax <= 127 and stats.qmin >= -127
    assert stats.smin > 0
    # reconstruction error bounded by scale/2 -> err_mu <= scale_mu/2 + 1
    joined = out.filter(F.col("max_err_mu") > F.col("scale_mu") / 2 + 1)
    assert joined.count() == 0


def test_decontaminate_no_eval_docs_flagged(spark, sf_dir):
    out = llm_prep.q_decontaminate(spark, sf_dir)
    bad = out.filter(
        (F.col("doc_id") % llm_prep.EVAL_MOD) < llm_prep.EVAL_CUT
    ).count()
    assert bad == 0
    assert out.count() > 0


def test_mix_rebalance_hash_threshold_proportions(spark, sf_dir):
    """The map-only hash-threshold mix must hit each group's quota within
    sampling error, and must be a strict subset of the corpus with the
    same deterministic selection on re-run."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        MIX_DENOM,
        TARGET_MIX,
        mix_rebalance_hash_threshold,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = mix_rebalance_hash_threshold(docs)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    counts = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    t = min(counts[g] * MIX_DENOM // w for g, w in TARGET_MIX.items())
    import math

    for g, w in TARGET_MIX.items():
        q = t * w // MIX_DENOM
        # ~3-sigma binomial tolerance around the quota
        tol = max(3, int(3 * math.sqrt(q)))
        assert abs(got.get(g, 0) - q) <= tol, (g, got.get(g, 0), q, tol)
    # deterministic: identical selection on re-run
    again = mix_rebalance_hash_threshold(docs)
    assert out.exceptAll(again).count() == 0
    assert again.exceptAll(out).count() == 0


def test_winnowing_coverage_guarantee(spark, sf_dir):
    """The SIGMOD-2003 coverage property: every window of WINNOW_W
    consecutive shingles contains at least one selected fingerprint —
    equivalently, gaps between consecutive selected positions within a
    doc never exceed WINNOW_W, the first selection lands inside the
    first window, and the last inside the last. (The naive
    'min-of-window-starting-here' rule fails this on decreasing hash
    runs — this test is what caught it.)"""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        WINNOW_W,
        q_winnowing_fingerprint,
    )

    fps = q_winnowing_fingerprint(spark, sf_dir)
    per_doc = (
        fps.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("fp_pos")).alias("ps"),
            F.count("*").alias("n_sel"),
        )
        .collect()
    )
    assert per_doc, "no fingerprints produced"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            (F.size(F.split(F.lower(F.trim(F.col("text"))), " ")) - 2).alias(
                "n_sh"
            ),
        )
        .collect()
    )
    n_sh = {r["doc_id"]: r["n_sh"] for r in docs}
    for r in per_doc:
        ps, n = r["ps"], n_sh[r["doc_id"]]
        assert ps[0] <= WINNOW_W - 1, (r["doc_id"], ps[0])
        for a, b in zip(ps, ps[1:]):
            assert b - a <= WINNOW_W, (r["doc_id"], a, b)
        if n >= WINNOW_W:
            assert ps[-1] >= n - WINNOW_W, (r["doc_id"], ps[-1], n)
