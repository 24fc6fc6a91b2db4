"""Composite pipeline + env check."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.envcheck import (  # noqa: E402
    engine_info,
)


def test_training_data_prep(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        prepare_training_data,
    )

    out = prepare_training_data(spark, sf_dir)
    assert out.count() > 0
    cols = set(out.columns)
    assert {"doc_id", "lang", "source", "f_tokens_bin", "f_chars_bin"} <= cols


def test_training_data_prep_job_and_pin_budget(spark, sf_dir, tmp_path):
    """prepare_training_data with a sink: its job count and the
    persisted RDDs it leaves behind. One narrow pin feeds the MinHash
    stage and the near-deduped cache; no count() fills the cache, and
    the sink releases it, so only the two localCheckpoints (the token
    pin and the MinHash bands) stay. Measured on the sf0.01 fixture:
    15 jobs at 4 and 8 cores, 13 at 2."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        prepare_training_data,
    )
    from tests.test_serve_model import _jobs

    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    try:
        _, jobs = _jobs(
            spark,
            lambda: prepare_training_data(
                spark, sf_dir, out_path=str(tmp_path / "out")
            ),
        )
        left = set(persisted().keySet()) - before
        assert jobs <= 15
        assert len(left) <= 2
    finally:
        rdds = persisted()
        for rdd_id in set(rdds.keySet()) - before:
            rdds.get(rdd_id).unpersist(False)


def test_engine_info(spark):
    info = engine_info(spark)
    assert info["pyspark_version"]
    assert info["spark.sql.adaptive.enabled"] == "true"
    assert isinstance(info["gpu_available"], bool)
