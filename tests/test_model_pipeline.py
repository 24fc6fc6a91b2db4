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


def test_engine_info(spark):
    info = engine_info(spark)
    assert info["pyspark_version"]
    assert info["spark.sql.adaptive.enabled"] == "true"
    assert isinstance(info["gpu_available"], bool)
