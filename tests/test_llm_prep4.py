"""Property tests for the round-4 batch-2 operators (llm_prep selection lanes /
graph LPA / retrieval NDCG) — semantic invariants the oracle parity
check can't see (parity proves both engines agree, not that the
agreed-on answer has the claimed structure)."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (  # noqa: E402
    q_content_defined_chunks,
    q_dsir_importance_weights,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (  # noqa: E402
    load_table,
)


def test_cdc_chunks_reassemble_to_document(spark, sf_dir):
    """Concatenating a doc's chunks in chunk_id order must reproduce the
    normalized document exactly: chunking is a partition of the token
    stream (no token lost, duplicated, or reordered)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("norm")
    )
    chunks = q_content_defined_chunks(spark, sf_dir)
    # per-doc word totals must match the original token count
    joined = (
        chunks.groupBy("doc_id")
        .agg(F.sum("n_words").alias("n"))
        .join(docs, "doc_id")
        .withColumn("expect", F.size(F.split(F.col("norm"), " ")))
    )
    bad = joined.filter(F.col("n") != F.col("expect")).count()
    assert bad == 0


def test_cdc_boundaries_are_content_anchored(spark, tmp_path):
    """The defining CDC property — the reason to chunk by content, not
    offset: prepending one (non-boundary) word to a document changes
    ONLY the first chunk; every later chunk keeps its exact content
    hash, so an incremental corpus diff re-stores one chunk, not the
    whole document."""
    import hashlib

    def is_boundary(w: str) -> bool:
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 8 == 0

    words = [f"w{i}" for i in range(200)]
    assert any(is_boundary(w) for w in words)  # doc has >1 chunk
    prefix = next(w for w in ("pad", "filler", "x0", "x1") if not is_boundary(w))
    text_a = " ".join(words)
    text_b = prefix + " " + text_a
    df = spark.createDataFrame(
        [(0, text_a, "en", "srcA", len(text_a)),
         (1, text_b, "en", "srcA", len(text_b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    chunks = q_content_defined_chunks(spark, str(tmp_path))
    rows = chunks.orderBy("doc_id", "chunk_id").collect()
    seq = {0: [], 1: []}
    for r in rows:
        seq[r.doc_id].append((r.n_words, r.chunk_hash))
    # same number of chunks (the prepended word is not a boundary), and
    # every chunk AFTER the first is bit-identical
    assert len(seq[0]) == len(seq[1]) > 1
    assert seq[0][1:] == seq[1][1:]
    assert seq[0][0] != seq[1][0]


def test_dsir_target_domain_scores_higher(spark, sf_dir):
    """DSIR sanity: documents FROM the target domain (lang='en') must
    average a higher importance weight than non-target docs — the whole
    point of the log-ratio score."""
    w = q_dsir_importance_weights(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    per_lang = (
        w.join(docs, "doc_id")
        .withColumn("is_tgt", (F.col("lang") == "en").cast("int"))
        .groupBy("is_tgt")
        .agg(
            (F.sum("dsir_weight_micro") / F.sum("n_bigrams")).alias(
                "mean_per_bigram"
            )
        )
        .collect()
    )
    by = {r.is_tgt: r.mean_per_bigram for r in per_lang}
    assert by[1] > by[0]


def test_lpa_separates_more_than_connected_components(spark, sf_dir):
    """LPA at fixed rounds must produce at least as many communities as
    connected components (it can only split, never merge across
    components: labels propagate along edges only)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        connected_components,
        q_label_propagation_communities,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.analytics import (
        q_orders_market_basket,
    )

    lpa = q_label_propagation_communities(spark, sf_dir)
    n_comm = lpa.select("community").distinct().count()

    e = q_orders_market_basket(spark, sf_dir).select("p1", "p2")
    verts = (
        e.select(F.col("p1").alias("id"))
        .union(e.select(F.col("p2").alias("id")))
        .distinct()
    )
    cc = connected_components(
        verts, e.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )
    n_cc = cc.select("component_id").distinct().count()
    assert n_comm >= n_cc
    # and LPA must label every vertex exactly once
    assert lpa.count() == verts.count()
    assert lpa.select("part_node").distinct().count() == verts.count()
