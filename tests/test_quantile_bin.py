"""Unit tests for the quantile-bin tokenizer: backend parity, bin-range
invariants, equal-frequency property (the reference never verified its
three implementations against each other — SURVEY.md §5; we do)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (  # noqa: E402
    LINEITEM_KEYS,
    LINEITEM_MEASURES,
    bucketize,
    bucketize_pandas_udf,
    exact_quantile_bin,
    fit_quantile_boundaries,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (  # noqa: E402
    load_table,
)


def test_bins_in_range(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem")
    bounds = fit_quantile_boundaries(df, LINEITEM_MEASURES, bins=100)
    toks = bucketize(df, bounds, keep_cols=LINEITEM_KEYS)
    stats = toks.select(
        *[F.min(f"{c}_bin").alias(f"min_{c}") for c in LINEITEM_MEASURES],
        *[F.max(f"{c}_bin").alias(f"max_{c}") for c in LINEITEM_MEASURES],
    ).collect()[0]
    for c in LINEITEM_MEASURES:
        assert stats[f"min_{c}"] >= 0
        assert stats[f"max_{c}"] <= 99


def test_backend_parity_bucketizer_vs_pandas_udf(spark, sf_dir):
    """JVM Bucketizer and Arrow searchsorted implement one semantics."""
    df = load_table(spark, sf_dir, "lineitem")
    bounds = fit_quantile_boundaries(df, LINEITEM_MEASURES, bins=100)
    a = bucketize(df, bounds, keep_cols=LINEITEM_KEYS)
    b = bucketize_pandas_udf(df, bounds, keep_cols=LINEITEM_KEYS)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_exact_equal_frequency(spark, sf_dir):
    """ntile bins differ in size by at most 1 row (equal-frequency)."""
    df = load_table(spark, sf_dir, "lineitem")
    toks = exact_quantile_bin(
        df, ["l_extendedprice"], bins=100, keys=LINEITEM_KEYS
    )
    sizes = (
        toks.groupBy("l_extendedprice_bin").count().select("count").distinct().collect()
    )
    counts = sorted(r["count"] for r in sizes)
    assert counts[-1] - counts[0] <= 1


def test_tokenize_generated_roundtrip(spark, tmp_path):
    """O1->O2->O3->fit->transform on the engine's own synthetic table."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        tokenize_table,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.generator import (
        create_dummy_data,
    )

    path = str(tmp_path / "massive_data.parquet")
    create_dummy_data(spark, path, rows=10_000, cols=4)
    create_dummy_data(spark, path, rows=10_000, cols=4)  # idempotent
    df = spark.read.parquet(path)
    assert df.columns == [f"col_{i}" for i in range(4)]
    toks = tokenize_table(df)
    row = toks.select(
        F.max(F.greatest(*[F.col(f"col_{i}_bin") for i in range(4)])).alias("mx"),
        F.min(F.least(*[F.col(f"col_{i}_bin") for i in range(4)])).alias("mn"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert row["n"] == 10_000
    assert 0 <= row["mn"] and row["mx"] <= 99


def test_nan_null_pinned_to_last_bin_all_lanes(spark):
    """ADVICE r1: NaN and null must land in bin n_bins-1 in EVERY lane
    (the reference clamps NaN into BINS-1; we pre-map NaN/null to +inf
    JVM-side and searchsorted puts NaN at the end in the Arrow lanes)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        bucketize_map_in_arrow,
    )

    rows = [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, float("nan")), (6, None)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    bounds = {"v": [1.0, 2.0, 3.0, 4.0]}  # 4 bins: interior = [2.0, 3.0]
    a = {r["id"]: r["v_bin"] for r in bucketize(df, bounds, keep_cols=["id"]).collect()}
    b = {
        r["id"]: r["v_bin"]
        for r in bucketize_pandas_udf(df, bounds, keep_cols=["id"]).collect()
    }
    c = {
        r["id"]: r["v_bin"]
        for r in bucketize_map_in_arrow(df, bounds, keep_cols=["id"]).collect()
    }
    n_bins = len(bounds["v"]) - 1
    assert a == b == c
    assert a[5] == n_bins - 1 and a[6] == n_bins - 1
    assert a[1] == 0 and a[4] == n_bins - 1


def test_backend_parity_map_in_arrow(spark, sf_dir):
    """mapInArrow kernel lane agrees with the JVM Bucketizer lane."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        bucketize_map_in_arrow,
    )

    df = load_table(spark, sf_dir, "lineitem")
    bounds = fit_quantile_boundaries(df, LINEITEM_MEASURES, bins=100)
    a = bucketize(df, bounds, keep_cols=LINEITEM_KEYS)
    b = bucketize_map_in_arrow(df, bounds, keep_cols=LINEITEM_KEYS)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_exact_quantile_bin_requires_total_order(spark):
    """ADVICE r1: without keys/tiebreak the window order is not total on
    tied values -> must raise instead of silently being nondeterministic."""
    import pytest

    df = spark.createDataFrame([(1.0,), (1.0,), (2.0,)], "v double")
    with pytest.raises(ValueError, match="total sort order"):
        exact_quantile_bin(df, ["v"], bins=2)


def test_auto_tokenize_all_continuous_table(spark, tmp_path):
    """ADVICE r1: a table with no identifier column (the reference's
    canonical col_0..col_19 shape) must still return the bin codes."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.schema_infer import (
        auto_tokenize,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.generator import (
        create_dummy_data,
    )

    path = str(tmp_path / "allcont.parquet")
    create_dummy_data(spark, path, rows=5_000, cols=3)
    df = spark.read.parquet(path)
    toks = auto_tokenize(spark, df, "allcont")
    bin_cols = [c for c in toks.columns if c.endswith("_bin")]
    assert len(bin_cols) == 3, f"expected 3 bin columns, got {toks.columns}"
    row = toks.select(
        F.count("*").alias("n"),
        F.max(F.greatest(*[F.col(c) for c in bin_cols])).alias("mx"),
        F.min(F.least(*[F.col(c) for c in bin_cols])).alias("mn"),
    ).collect()[0]
    assert row["n"] == 5_000
    assert 0 <= row["mn"] and row["mx"] <= 99


def test_head_sample_fit_close_to_bernoulli(spark, sf_dir):
    """Prefix-sample boundaries must agree with the full-table sketch
    fit within sampling error on i.i.d.-ordered data (lineitem fixture
    rows are not value-ordered): interior boundaries within a few
    percent of each other in rank terms — checked via the coarse bin
    assignment agreeing for >= 90% of rows."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        bucketize,
        fit_quantile_boundaries_head_sample,
    )

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_extendedprice"]
    b_head = fit_quantile_boundaries_head_sample(df, cols, bins=10, sample_rows=20000)
    b_sketch = fit_quantile_boundaries(df, cols, bins=10)
    a = bucketize(df, b_head).select("l_extendedprice_bin")
    b = bucketize(df, b_sketch).select("l_extendedprice_bin")
    import pyspark.sql.functions as F

    n = df.count()
    joined = (
        a.withColumn("rid", F.monotonically_increasing_id())
        .join(
            b.withColumnRenamed("l_extendedprice_bin", "bin2").withColumn(
                "rid", F.monotonically_increasing_id()
            ),
            "rid",
        )
    )
    agree = joined.filter(F.col("l_extendedprice_bin") == F.col("bin2")).count()
    # a 20k-row sample against the sketch, 9 interior boundaries, ~0.2%
    # rank error each -> a few % of rows may straddle a boundary pair
    assert agree / n >= 0.9


def test_f32_downcast_parity_off_by_one_at_edges(spark, sf_dir):
    """The reference downcasts data to float32 before fit+bucketize
    (etl_benchmark.py:53, etl_benchmark_numba.py:59-62); this engine
    standardizes on float64 (SURVEY §7 ulp rationale). Pin the semantic
    delta: binning float32-rounded values against float32-rounded
    boundaries may move a row by AT MOST one bin, and only for rows whose
    value lands within f32 rounding distance of a boundary — everywhere
    else the lanes agree exactly."""
    df = load_table(spark, sf_dir, "lineitem")
    cols = ["l_extendedprice", "l_quantity"]
    bounds = fit_quantile_boundaries(df, cols, bins=100, relative_error=0.0)

    # f32 lane: values AND boundaries pass through float32 (numpy gives
    # the same round-to-nearest the reference's .astype(np.float32) does)
    import numpy as np

    bounds32 = {c: [float(np.float32(x)) for x in v] for c, v in bounds.items()}
    # one DataFrame, one bucketize: the f32 lane is a shadow column pair
    # (value cast through float32, boundaries f32-rounded) so no join /
    # key-uniqueness assumption is needed to line the lanes up row-wise
    df2 = df.withColumns(
        {f"{c}__f32": F.col(c).cast("float").cast("double") for c in cols}
    )
    all_bounds = {**{c: bounds[c] for c in cols},
                  **{f"{c}__f32": bounds32[c] for c in cols}}
    j = bucketize(df2, all_bounds, keep_cols=LINEITEM_KEYS)
    n = j.count()
    assert n == df.count()
    stats = j.select(
        *[
            F.max(
                F.abs(F.col(f"{c}_bin") - F.col(f"{c}__f32_bin"))
            ).alias(f"max_{c}")
            for c in cols
        ],
        *[
            F.sum(
                (F.col(f"{c}_bin") != F.col(f"{c}__f32_bin")).cast("long")
            ).alias(f"ndiff_{c}")
            for c in cols
        ],
    ).collect()[0]
    for c in cols:
        # off-by-one at boundary-adjacent values only, never further
        assert stats[f"max_{c}"] <= 1, (c, stats[f"max_{c}"])
        # 2dp fixture data rarely sits within f32 ulp of a boundary
        assert stats[f"ndiff_{c}"] <= 0.01 * n, (c, stats[f"ndiff_{c}"], n)


def test_exact_distributed_fit_matches_builtin_percentile(spark, sf_dir):
    """The distributed histogram/prefix-sum exact fit is bit-for-bit the
    SQL ``percentile`` aggregate — including the two short-circuits
    (integer position; equal adjacent keys) and the exact lerp form
    ``(higher-pos)*lower + (pos-lower)*higher``. Run on lineitem AND on
    a tie-heavy synthetic column with nulls and few distinct values, at
    bins where interpolation fractions are irrational-ish (bins=7)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        fit_quantile_boundaries_exact_distributed,
    )

    df = load_table(spark, sf_dir, "lineitem")
    for cols, bins in ((LINEITEM_MEASURES, 100), (["l_quantity"], 7)):
        mine = fit_quantile_boundaries_exact_distributed(df, cols, bins=bins)
        probs = ",".join(str(i / bins) for i in range(bins + 1))
        row = df.agg(
            *[
                F.expr(f"percentile({c}, array({probs}))").alias(c)
                for c in cols
            ]
        ).collect()[0]
        for c in cols:
            assert mine[c] == [float(x) for x in row[c]], c

    tied = spark.range(10_001).selectExpr(
        "CASE WHEN id % 97 = 0 THEN NULL ELSE CAST(id % 5 AS DOUBLE) END AS v"
    )
    mine = fit_quantile_boundaries_exact_distributed(tied, ["v"], bins=13)
    probs = ",".join(str(i / 13) for i in range(14))
    ref = tied.agg(F.expr(f"percentile(v, array({probs}))").alias("v")).collect()[0]
    assert mine["v"] == [float(x) for x in ref["v"]]


def test_exact_fit_driver_and_distributed_branches_agree(spark, sf_dir):
    """driver_histogram_max gates a driver-side fast path; forcing the
    guard to 0 exercises the fully distributed branch on the same input
    — both must equal the builtin percentile bit-for-bit (ties, nulls,
    and near-continuous columns)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        fit_quantile_boundaries_exact_distributed,
    )

    df = load_table(spark, sf_dir, "lineitem")
    fast = fit_quantile_boundaries_exact_distributed(
        df, LINEITEM_MEASURES, bins=31
    )
    dist = fit_quantile_boundaries_exact_distributed(
        df, LINEITEM_MEASURES, bins=31, driver_histogram_max=0
    )
    assert fast == dist
    probs = ",".join(str(i / 31) for i in range(32))
    row = df.agg(
        *[
            F.expr(f"percentile({c}, array({probs}))").alias(c)
            for c in LINEITEM_MEASURES
        ]
    ).collect()[0]
    for c in LINEITEM_MEASURES:
        assert fast[c] == [float(x) for x in row[c]], c


def test_iterator_udf_matches_scalar_udf(spark, sf_dir):
    """Iterator-form pandas_udf (amortized per-task init) must bin
    identically to the scalar form, including NaN/null -> last bin."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.functions.udf_kernels import (
        make_searchsorted_iter_udf,
        make_searchsorted_udf,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_extendedprice").alias("v")
    )
    li = li.unionAll(spark.createDataFrame([(None,), (float("nan"),)], "v double"))
    interior = [1000.0, 5000.0, 20000.0, 50000.0]
    scalar = make_searchsorted_udf(interior)
    it = make_searchsorted_iter_udf(interior)
    both = li.select(scalar("v").alias("a"), it("v").alias("b"))
    assert both.filter("a IS DISTINCT FROM b").count() == 0


def _cuda_available() -> bool:
    try:
        import torch

        return bool(torch.cuda.is_available())
    except Exception:
        return False


@pytest.mark.skipif(
    not _cuda_available(), reason="requires torch with a CUDA device"
)
def test_gpu_factory_branch_on_hardware(spark, sf_dir):
    """End-to-end torch-CUDA lane (VERDICT r4 item 7): on a GPU host
    this runs the real device kernel through Spark with zero code
    changes and pins it to the CPU lane bit-for-bit; on CUDA-less CI it
    skips (the mocked-torch test below still covers the branch body)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.functions.udf_kernels import (
        make_searchsorted_udf,
    )

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_extendedprice").cast("double").alias("v"))
        .limit(10_000)
    )
    interior = [1000.0, 5000.0, 20000.0, 50000.0]
    gpu = make_searchsorted_udf(interior, use_gpu=True)
    cpu = make_searchsorted_udf(interior, use_gpu=False)
    both = li.select(gpu("v").alias("a"), cpu("v").alias("b"))
    assert both.filter("a IS DISTINCT FROM b").count() == 0


def test_gpu_factory_branch_with_mocked_torch(monkeypatch):
    """The torch-CUDA branch of make_searchsorted_udf is hardware-gated
    (no CUDA device in CI — VERDICT r3 item 7), so exercise the branch
    body CPU-side: a mock ``torch`` whose as_tensor/bucketize are numpy-
    backed drives the exact code path (import, as_tensor, bucketize
    right=True, .cpu().numpy() unwrap) and must reproduce the CPU
    kernel's pinned semantics bit-for-bit, including NaN -> last bin and
    -0.0 == +0.0 (IEEE comparison, same as np.searchsorted)."""
    import sys as _sys
    import types

    import numpy as _np
    import pandas as _pd

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.functions.udf_kernels import (
        make_searchsorted_udf,
    )

    class _FakeTensor:
        def __init__(self, arr):
            self.arr = _np.asarray(arr)

        def cpu(self):
            return self

        def numpy(self):
            return self.arr

    def _as_tensor(x, device=None):
        assert device == "cuda"  # the branch must request the device
        return _FakeTensor(_np.asarray(x))

    def _bucketize(v, b, right=False):
        side = "right" if right else "left"
        return _FakeTensor(_np.searchsorted(b.arr, v.arr, side=side))

    fake = types.ModuleType("torch")
    fake.as_tensor = _as_tensor
    fake.bucketize = _bucketize
    monkeypatch.setitem(_sys.modules, "torch", fake)

    interior = [-1.0, 0.0, 2.5, 100.0]
    vals = _pd.Series(
        [-5.0, -1.0, -0.0, 0.0, 1.0, 2.5, 99.9, 100.0, 1e9, float("nan")]
    )
    gpu_fn = make_searchsorted_udf(interior, use_gpu=True).func
    cpu_fn = make_searchsorted_udf(interior, use_gpu=False).func
    got = gpu_fn(vals).to_numpy()
    want = cpu_fn(vals).to_numpy()
    assert got.dtype == want.dtype == _np.dtype("int32")
    assert (got == want).all()
    # NaN pinned to the LAST bin (len(interior)), matching the JVM lane
    assert got[-1] == len(interior)


def test_auto_tokenize_serve_mode_guards_partial_model(spark, sf_dir, monkeypatch):
    """Serve-mode contract (train/serve split): a boundaries model
    covering every continuous column is used verbatim (no refit); a
    PARTIAL model raises — serving a model that silently covers half
    the columns would mix model vintages."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (
        quantile_bin,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin_queries import (
        cached_exact_boundaries,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.schema_infer import (
        auto_tokenize,
    )

    df = load_table(spark, sf_dir, "lineitem")
    full = cached_exact_boundaries(spark, sf_dir)

    def no_fit(*a, **k):
        raise AssertionError("a served model must not be refitted")

    monkeypatch.setattr(quantile_bin, "fit_quantile_boundaries", no_fit)
    served = auto_tokenize(spark, df, "lineitem", boundaries=full)
    bins = [f"{c}_bin" for c in LINEITEM_MEASURES]
    direct = bucketize(df, full, keep_cols=["l_orderkey"])
    served = served.select("l_orderkey", *bins)
    assert served.exceptAll(direct).count() == 0
    assert direct.exceptAll(served).count() == 0
    partial = {k: v for k, v in full.items() if k != "l_tax"}
    with pytest.raises(ValueError, match="does not cover"):
        auto_tokenize(spark, df, "lineitem", boundaries=partial)


def test_auto_tokenize_lane_rejects_partial_artifact(spark, sf_dir, monkeypatch):
    """The oracle-backed auto-tokenize lane must fail LOUDLY if the
    served boundary model stops covering every inferred-continuous
    column (classifier/model drift) instead of silently falling back to the
    sketch refit and diverging from its oracle."""
    import pytest

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (
        quantile_bin_queries as qbq,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.schema_infer import (
        q_auto_tokenize_lineitem,
    )

    full = qbq.cached_exact_boundaries(spark, sf_dir)
    partial = {k: v for k, v in full.items() if k != "l_tax"}
    monkeypatch.setattr(
        qbq, "cached_exact_boundaries", lambda *a, **k: partial
    )
    with pytest.raises(ValueError, match="does not cover"):
        q_auto_tokenize_lineitem(spark, sf_dir)


def test_persisted_boundaries_precomputed_seed(spark, sf_dir, monkeypatch):
    """q_quantile_bin_scalable seeds the session's boundary model with
    the fit it already paid for. Contract: (a) a model seeded via
    ``precomputed`` is bit-identical to one built from scratch; (b)
    ``precomputed`` is IGNORED when the model is already cached (it is
    a build-cost shortcut, never an override)."""
    from collections import OrderedDict

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        session as sess,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (
        quantile_bin_queries as qbq,
    )

    built = qbq.cached_exact_boundaries(spark, sf_dir)  # real fit
    fit = qbq._exact_rounded_boundaries(
        sess.load_table(spark, sf_dir, "lineitem")
    )
    assert fit == built  # the seed invariant the scalable lane relies on

    # fresh cache: same fixture, no model yet
    monkeypatch.setattr(sess, "_CTX_CACHE", OrderedDict())
    seeded = qbq.cached_exact_boundaries(spark, sf_dir, precomputed=fit)
    assert seeded == built
    # model now cached — a bogus precomputed must NOT override it
    again = qbq.cached_exact_boundaries(
        spark, sf_dir, precomputed={"bogus": [1.0]}
    )
    assert again == built


def test_boundary_lanes_independent_of_lane_order(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The model-serving lanes return the same rows whether or not
    quantile_bin_scalable seeded the session's boundary model first,
    and no lane leaves a model artifact under the temp directory: a
    lane's result must not depend on what ran before it, in this
    process or an earlier one."""
    import hashlib
    import tempfile
    from collections import OrderedDict

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        session as sess,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin_queries import (
        q_quantile_bin_saved_model,
        q_quantile_bin_scalable,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.schema_infer import (
        q_auto_tokenize_lineitem,
    )

    lanes = {
        "saved_model": q_quantile_bin_saved_model,
        "auto_tokenize": q_auto_tokenize_lineitem,
        "scalable": q_quantile_bin_scalable,
    }

    def digest(df):
        rows = sorted(map(tuple, df.collect()), key=repr)
        return len(rows), hashlib.md5(repr(rows).encode()).hexdigest()

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    runs = []
    for order in (
        ["saved_model", "auto_tokenize", "scalable"],
        ["scalable", "saved_model", "auto_tokenize"],
    ):
        monkeypatch.setattr(sess, "_CTX_CACHE", OrderedDict())
        runs.append({n: digest(lanes[n](spark, sf_dir)) for n in order})
    assert runs[0] == runs[1]
    assert runs[0]["saved_model"] == runs[0]["scalable"]
    assert not [p for p in os.listdir(tmp_path) if p.startswith("qbin_model_")]
