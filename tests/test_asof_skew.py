"""As-of formulations parity + salted-join equivalence under skew."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def test_asof_pandas_matches_window_formulation(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.asof_pandas import (
        q_asof_join_pandas,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_asof_join_events_orders,
    )

    a = q_asof_join_events_orders(spark, sf_dir)
    b = q_asof_join_pandas(spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_salted_join_equals_plain_join(spark):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.functions.skew import (
        salted_join,
    )

    # skewed large side: 90% of rows share key 0
    large = spark.range(0, 100_000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    plain = large.join(small, "k").select("k", "payload", "v")
    salted = salted_join(large, small, "k", n_salt=8).select("k", "payload", "v")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """AQE's OptimizeSkewedJoin must mark and split the hot partition
    (skew=true in the final plan) when one join key dominates — the
    runtime complement to the explicit salting in functions/skew.py.
    Thresholds are floored because fixture shuffles are tiny; at real
    scale the defaults (256 MB / factor 5) do the same job."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = (
            spark.range(200_000)
            .select((F.col("id") * 0 + 7).alias("k"), F.col("id").alias("v"))
            .union(
                spark.range(5_000).select(
                    (F.col("id") % 100).alias("k"), F.col("id").alias("v")
                )
            )
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.sum("v"), F.sum("w"))
        j.collect()  # AQE decides at runtime — force execution first
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skew_probe_builders_split_hot_partition(spark, sf_dir):
    """Pin the skewed-key scale probe's OWN code path (scripts/
    probe_skew.py): its Zipf-keyed builder must put ~20% of rows on one
    key, and AQE must mark that partition skewed (skew=true) on the
    probe's both-sides-shuffled join — so the probe measures a split
    hot key, not an unsplit one, every time it is re-run. Thresholds
    floored for fixture size, same as the probe floors them for 60 M
    rows and production leaves the 256 MB defaults.

    The shuffle width is pinned, like probe_skew.run() pins it: over P
    hash partitions the hot one holds 1/5 + (4/5)/P of the rows and a
    typical one (4/5)/P, a ratio of 1 + P/4. At the session default
    P = cores that is exactly the skew factor 2 on a 4-core host, so
    whether AQE marked the partition came down to hash noise."""
    import importlib

    probe = importlib.import_module("scripts.probe_skew")

    confs = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n_keys = 1000
        big = probe.keyed(
            probe.replicated_lineitem(spark, sf_dir, reps=3),
            n_keys,
            hot_fraction_inv=5,
        )
        hot = big.filter(F.col("k") == 0).count()
        total = big.count()
        assert 0.15 < hot / total < 0.25, f"hot share {hot/total:.3f}"
        q = probe.shuffle_join_agg(big, probe.dim_side(spark, n_keys))
        row = q.collect()[0]
        assert row["n"] == total  # unique dim keys: join preserves rows
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_directions_union_matches_join_form(spark, sf_dir):
    """The zero-fan-out merge-sorted union formulation must be
    row-for-row identical to the equi-join + argmax form (same oracle
    string backs both registry entries)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_asof_join_directions,
        q_asof_join_directions_union,
    )

    a = q_asof_join_directions(spark, sf_dir)
    b = q_asof_join_directions_union(spark, sf_dir).select(*a.columns)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_range_join_bucketed_matches_direct(spark, sf_dir):
    """The (user, hour_bucket) equi-join form of the 1-hour lookahead
    range join must be row-for-row identical to the direct range
    condition, including zero-activity signups at count 0."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_events_range_join,
        q_events_range_join_bucketed,
    )

    a = q_events_range_join(spark, sf_dir)
    b = q_events_range_join_bucketed(spark, sf_dir).select(*a.columns)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
