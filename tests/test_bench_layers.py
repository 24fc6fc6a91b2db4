"""The benchmark (perfbench) wraps named functions of the package by
replacing ``vars(owner)[attr]``; a rename or a move that drops one of
those names crashes every benchmark run. perfbench's own tests are not
part of this suite, so the names are pinned here. bench.py imports
perfbench's event-log rollup for its ``layers`` block, so importing
``bench`` here pins those names too."""

import bench
from perfbench.eventlog import MEASURES
from perfbench.workloads import LAYERS


def test_benchmark_layers_resolve():
    missing = [name for owner, attr, name, _ in LAYERS if attr not in vars(owner)]
    assert not missing, missing


def test_bench_lane_records_from_rollup():
    def group(**counts):
        return {**dict.fromkeys(MEASURES, 0), **counts}

    by_group = {
        "memo:execute": group(jobs=1, stages=1, tasks=4, python_s=0.25),
        "cold:construct": group(jobs=2, stages=2, tasks=3),
        "cold:execute": group(jobs=1, stages=2, tasks=8,
                              shuffle_write_bytes=4096, spill_bytes=512),
        "other:construct": group(jobs=5),
    }
    walls = {"memo": (0.01, 0.2), "cold": (0.5, 0.3), "idle": (0.001, 0.002)}
    layers = bench.lane_layers(by_group, walls)
    assert set(layers) == set(walls)
    assert layers["memo"]["memo_hit"] is True
    assert layers["cold"]["memo_hit"] is False
    assert layers["cold"] == {
        "construct_s": 0.5, "execute_s": 0.3, "jobs": 3, "stages": 4,
        "tasks": 11, "shuffle_write_bytes": 4096, "spill_bytes": 512,
        "python_s": 0, "memo_hit": False,
    }
    assert layers["memo"]["python_s"] == 0.25
    assert layers["idle"] == {
        "construct_s": 0.001, "execute_s": 0.002, "jobs": 0, "stages": 0,
        "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "python_s": 0, "memo_hit": True,
    }


def test_corpus_pipeline_calls_drop_ids_through_module_attribute(
    spark, sf_dir, monkeypatch
):
    """perfbench traces the corpus op's MinHash stage by replacing
    ``pipelines.minhash_near_dup_drop_ids``, and a traced run fails its
    check if that span never fires. prepare_training_data must call the
    stage through that module attribute, exactly once."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        pipelines,
    )

    calls = []
    real = pipelines.minhash_near_dup_drop_ids

    def spy(toks_df):
        calls.append(toks_df.columns)
        return real(toks_df)

    monkeypatch.setattr(pipelines, "minhash_near_dup_drop_ids", spy)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    try:
        pipelines.prepare_training_data(spark, sf_dir)
    finally:
        rdds = persisted()
        for rdd_id in set(rdds.keySet()) - before:
            rdds.get(rdd_id).unpersist(False)
    assert calls == [["doc_id", "lang", "source", "f_tokens", "f_chars", "fp", "toks"]]
