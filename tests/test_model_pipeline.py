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
    """prepare_training_data with a sink: its job count, the persisted
    RDDs it leaves behind, and what it returns. The one narrow pin is
    map-only, the exact dedup runs inside the MinHash bucket window, the
    MinHash bands are not pinned, the survivors come out of the MinHash
    stage with no join back onto the pin, and after the write the cache
    and the pin are released: nothing stays persisted, and the returned
    frame reads the written table. Measured on the sf0.01 fixture: 9
    jobs at 4 and 8 cores."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        prepare_training_data,
    )
    from tests.test_serve_model import _jobs

    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    out_path = str(tmp_path / "out")
    try:
        out, jobs = _jobs(
            spark, lambda: prepare_training_data(spark, sf_dir, out_path=out_path)
        )
        left = set(persisted().keySet()) - before
        assert jobs <= 9
        assert len(left) == 0
        written = spark.read.parquet(out_path).select(*out.columns)
        assert sorted(out.collect(), key=repr) == sorted(written.collect(), key=repr)
        assert out.count() > 0
    finally:
        rdds = persisted()
        for rdd_id in set(rdds.keySet()) - before:
            rdds.get(rdd_id).unpersist(False)


def test_training_data_prep_lane_leaves_nothing_persisted(spark, sf_dir):
    """The training_data_prep registry lane writes its table to a
    temporary directory and returns a frame over it: building and
    collecting the lane adds no persisted RDD, and the rows are those
    of the lazy pipeline."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        prepare_training_data,
        q_training_data_prep,
    )

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    try:
        rows = q_training_data_prep(spark, sf_dir).collect()
        assert not set(persisted().keySet()) - before
        lazy = prepare_training_data(spark, sf_dir)
        assert sorted(rows, key=repr) == sorted(lazy.collect(), key=repr)
    finally:
        rdds = persisted()
        for rdd_id in set(rdds.keySet()) - before:
            rdds.get(rdd_id).unpersist(False)


def test_engine_info(spark):
    info = engine_info(spark)
    assert info["pyspark_version"]
    assert info["spark.sql.adaptive.enabled"] == "true"
    assert isinstance(info["gpu_available"], bool)
