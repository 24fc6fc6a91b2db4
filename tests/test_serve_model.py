"""The fitted serving model: the classes frame (with its vocabularies)
and the boundary artifact. Serving a batch must be one map-only plan —
these tests pin its Spark job budget, the codes it serves, the
artifact round trip and the invalidation of the schema and model memos."""

import math
import struct
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (
    quantile_bin,
    schema_infer,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import quote_name
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources import (
    readers,
)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, path, rows):
    spark.createDataFrame(
        rows, "id bigint, segment string, grade int, f1 double, f2 double"
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


#: the serving pool's float columns
FLOATS = [f"col_{k}" for k in range(20)]


def _serving_pool(spark, path):
    """A 2,400-row frame shaped like the serving pool: an id, 20 floats,
    a 12-level string, a 5-level int and a timestamp."""
    spark.range(2400).select(
        "id",
        *[F.rand(seed=k).alias(c) for k, c in enumerate(FLOATS)],
        F.concat(F.lit("seg_"), (F.col("id") % 12).cast("string")).alias("segment"),
        (F.col("id") % 5 + 1).cast("int").alias("grade"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 3600).alias("event_ts"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def _served_pool(spark, path):
    """(pool, classes frame, boundary model): a serving pool with the
    serving model fitted on it, as auto_tokenize serves it."""
    pool = _serving_pool(spark, path)
    classes = schema_infer.infer_column_classes(spark, pool, "pool")
    bounds = quantile_bin.fit_quantile_boundaries(pool, FLOATS)
    return pool, classes, bounds


def _round_trips(fn):
    """(fn(), Py4J commands fn's thread sent to the JVM while it ran).
    Py4J's finalizer thread, which frees the JVM references of
    collected Python objects, is not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    n = 0
    caller = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        nonlocal n
        n += threading.get_ident() == caller
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
    return out, n


def test_serve_job_budget(spark, tmp_path):
    """Serving runs no job of its own: the classes frame collects
    driver-side (0 jobs); the boundary model loads with its known schema
    (1 job, no footer inference) and a repeat load is a memo hit (0);
    the batch read infers its footer schema on the driver (0 jobs) and a
    repeat read is a memo hit (0); auto_tokenize constructs without an
    action (0 jobs) and the served frame writes as one map-only job."""
    rows = [
        (i, f"s{i % 6}", i % 4, (i * 37 % 1000) / 10.0, (i * 7919 % 997) * 1.5)
        for i in range(600)
    ]
    path = str(tmp_path / "t")
    df = _table(spark, path, rows)
    classes = schema_infer.infer_column_classes(spark, df, "t")
    got, n = _jobs(spark, classes.collect)
    assert n == 0
    assert {r["column_name"]: r["inferred_class"] for r in got} == {
        "id": "identifier",
        "segment": "categorical",
        "grade": "numeric_discrete",
        "f1": "numeric_continuous",
        "f2": "numeric_continuous",
    }
    bounds = quantile_bin.fit_quantile_boundaries(df, ["f1", "f2"], bins=10)
    model = str(tmp_path / "model")
    quantile_bin.save_boundaries(spark, bounds, model)
    loaded, n = _jobs(spark, lambda: quantile_bin.load_boundaries(spark, model))
    assert n == 1 and loaded == bounds
    loaded, n = _jobs(spark, lambda: quantile_bin.load_boundaries(spark, model))
    assert n == 0 and loaded == bounds
    batch, n = _jobs(spark, lambda: readers.read_parquet(spark, path))
    assert n == 0 and batch.schema == df.schema
    batch, n = _jobs(spark, lambda: readers.read_parquet(spark, path))
    assert n == 0 and batch.schema == df.schema
    out, n = _jobs(
        spark,
        lambda: schema_infer.auto_tokenize(
            spark, batch, "t", classes_df=classes, boundaries=loaded
        ),
    )
    assert n == 0
    _, n = _jobs(
        spark, lambda: out.write.mode("overwrite").parquet(str(tmp_path / "o"))
    )
    assert n == 1
    assert spark.read.parquet(str(tmp_path / "o")).count() == len(rows)


def test_serve_memos_see_changed_files(spark, tmp_path):
    """The model and schema memos never serve stale files: overwriting
    the model is seen by the very next load_boundaries, a parquet file
    added to a batch directory by the very next read_parquet (rows and
    schema), and mutating a returned model does not change the next
    load. Each memo is warm (a repeat runs no job) before the change."""
    inf = float("inf")
    old = {"f1": [-inf, 0.0, 1.0, inf]}
    new = {"f1": [-inf, 0.5, inf], "f2": [-inf, 2.0, inf]}
    model = str(tmp_path / "model")
    quantile_bin.save_boundaries(spark, old, model)
    assert quantile_bin.load_boundaries(spark, model) == old
    got, n = _jobs(spark, lambda: quantile_bin.load_boundaries(spark, model))
    assert n == 0 and got == old
    got["f1"].append(9.0)
    got["f2"] = [0.0]
    assert quantile_bin.load_boundaries(spark, model) == old
    quantile_bin.save_boundaries(spark, new, model)
    assert quantile_bin.load_boundaries(spark, model) == new

    batch = str(tmp_path / "batch")
    spark.range(5).selectExpr("id", "id * 1.5 AS f1").write.parquet(batch)
    readers.read_parquet(spark, batch)
    df, n = _jobs(spark, lambda: readers.read_parquet(spark, batch))
    assert n == 0 and df.count() == 5
    # sorts before Spark's part-* files, so footer inference takes its
    # schema, which adds a column
    pq.write_table(
        pa.table({"id": [100, 101], "f1": [1.0, 2.0], "extra": ["x", "y"]}),
        f"{batch}/a-added.parquet",
    )
    df = readers.read_parquet(spark, batch)
    assert df.count() == 7
    assert "extra" in df.columns and df.schema == spark.read.parquet(batch).schema


def _dense_rank_codes(df, c):
    """value -> dense_rank over the column (nulls first), the codes the
    bulk path has always emitted."""
    w = Window.orderBy(F.col(c))
    ranked = df.select(c).distinct().select(
        c, F.dense_rank().over(w).alias("code")
    )
    return {r[c]: r["code"] for r in ranked.collect()}


def test_served_codes_stable_across_batches(spark, tmp_path):
    """A batch is coded against the vocabulary fitted on the training
    table A, not its own: levels keep A's dense_rank codes when the
    batch lacks one, a level A never saw gets a null code, and null gets
    code 1 only when A held a null. Under ANSI, where an unseen-key
    lookup must not raise."""
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        # segment holds nulls in A, grade does not; grade's native order
        # (2 < 10 < 30) is not its string order ("10" < "2" < "30")
        a = _table(
            spark,
            str(tmp_path / "a"),
            [
                (i, None if i % 10 == 0 else "abcd"[i % 4], (2, 10, 30)[i % 3],
                 float(i), float(-i))
                for i in range(400)
            ],
        )
        b = _table(
            spark,
            str(tmp_path / "b"),
            [
                (0, "b", 10, 1.0, 1.0),
                (1, "c", 30, 2.0, 2.0),
                (2, "d", 10, 3.0, 3.0),
                (3, "zz", 99, 4.0, 4.0),  # levels A never saw
                (4, None, None, 5.0, 5.0),
            ],
        )
        classes = schema_infer.infer_column_classes(spark, a, "a")
        bounds = quantile_bin.fit_quantile_boundaries(a, ["f1", "f2"], bins=4)
        served = {
            r["id"]: r
            for r in schema_infer.auto_tokenize(
                spark, b, "b", classes_df=classes, boundaries=bounds
            ).collect()
        }
        seg, grade = _dense_rank_codes(a, "segment"), _dense_rank_codes(a, "grade")
        assert seg[None] == 1 and None not in grade
        assert [grade[2], grade[10], grade[30]] == [1, 2, 3]
        for i, s, g in ((0, "b", 10), (1, "c", 30), (2, "d", 10)):
            assert served[i]["segment_code"] == seg[s]
            assert served[i]["grade_code"] == grade[g]
        assert served[3]["segment_code"] is None
        assert served[3]["grade_code"] is None
        assert served[4]["segment_code"] == 1  # A saw a null segment
        assert served[4]["grade_code"] is None  # A saw no null grade
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_boundary_model_round_trip_bit_exact(spark, tmp_path):
    """save_boundaries -> load_boundaries returns the model bit for bit
    — -0.0, the ±inf end sentinels and duplicate interior boundaries
    included — and the artifact carries exactly _MODEL_SCHEMA."""
    inf = float("inf")
    bounds = {
        "a": [-inf, -0.0, 0.0, 0.0, 1.5, 1.5, inf],
        "b": [-inf, 5e-324, 1.0 / 3.0, 1.7976931348623157e308, inf],
    }
    path = str(tmp_path / "model")
    quantile_bin.save_boundaries(spark, bounds, path)
    back = quantile_bin.load_boundaries(spark, path)

    def bits(m):
        return {c: [struct.pack("<d", x) for x in v] for c, v in m.items()}

    assert bits(back) == bits(bounds)
    assert math.copysign(1.0, back["a"][1]) == -1.0
    written = spark.read.parquet(path).schema
    assert written.simpleString() == spark.createDataFrame(
        [], quantile_bin._MODEL_SCHEMA
    ).schema.simpleString()


def test_registry_classes_cache_collects_without_jobs(spark, sf_dir):
    """The classes frame q_schema_infer and q_auto_tokenize_lineitem
    share is cached as the driver-local frame itself, so every later
    collect of it runs no Spark job."""
    schema_infer.q_schema_infer(spark, sf_dir)  # builds (or hits) the cache
    stats = schema_infer._cached_classes(spark, sf_dir, "lineitem")
    rows, n = _jobs(spark, stats.collect)
    assert n == 0
    assert {r["column_name"] for r in rows if r["vocab"] is not None} == {
        "l_linenumber", "l_returnflag", "l_linestatus",
    }


def test_profiling_job_budget(spark, tmp_path):
    """infer_column_classes runs at most 5 Spark jobs whatever the
    frame's width: 3 for the stats over the shared value counts, 2 for
    the dict-encoded columns' vocabularies. Checked on a 2-column frame
    and on a 24-column frame shaped like the serving pool (an id, 20
    floats, a 12-level string, a 5-level int, a timestamp)."""
    pool = _serving_pool(spark, str(tmp_path / "pool"))
    for df in (pool.select("segment", "grade"), pool):
        classes, n = _jobs(
            spark, lambda: schema_infer.infer_column_classes(spark, df, "pool")
        )
        assert n <= 5, (len(df.columns), n)
        got = {r["column_name"]: r["inferred_class"] for r in classes.collect()}
        assert got["segment"] == "categorical" and got["grade"] == "numeric_discrete"


def test_profiled_classes_and_vocabularies(spark):
    """Hand-computed stats, classes and vocabularies: -0.0 and 0.0 are
    one value and NaN another; a null-bearing dict column's vocabulary
    is led by None; an int column's vocabulary is in numeric order, not
    string order; a column of JSON objects is json; an array column is
    counted by its string form."""
    nan = float("nan")
    rows = [
        (
            i,
            (-0.0, 0.0, nan, 1.5)[i % 4],
            None if i % 10 == 0 else "bca"[i % 3],
            (30, 2, 10)[i % 3],
            '{"k": %d}' % i,
            [float(i % 2), 1.0],
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, x double, seg string, grade int, js string, emb array<float>"
    )
    got = {
        r["column_name"]: (
            r["spark_type"], r["n_rows"], r["n_distinct"], r["n_json"],
            r["inferred_class"], r["strategy"], r["vocab"],
        )
        for r in schema_infer.infer_column_classes(spark, df, "t").collect()
    }
    assert got == {
        "doc_id": ("bigint", 40, 40, 0, "identifier", "passthrough", None),
        "x": ("double", 40, 3, 0, "numeric_continuous", "quantile_bin", None),
        "seg": ("string", 40, 3, 0, "categorical", "dict_encode", [None, "a", "b", "c"]),
        "grade": ("int", 40, 3, 0, "numeric_discrete", "dict_encode", ["2", "10", "30"]),
        "js": ("string", 40, 40, 40, "json", "json_extract", None),
        "emb": ("array<float>", 40, 2, 0, "vector", "lsh_bucket", None),
    }


def test_profiling_zero_rows_under_ansi(spark, tmp_path):
    """A 0-row frame profiles under ANSI instead of dividing by zero.
    As in the oracle, whose distinct ratio is NULL there, no column is
    categorical or discrete; a string column is json (0 of 0 rows are
    JSON-shaped)."""
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = _table(spark, str(tmp_path / "t"), [(1, "a", 2, 1.0, 2.0)]).limit(0)
        got = {
            r["column_name"]: (r["n_rows"], r["n_distinct"], r["inferred_class"], r["vocab"])
            for r in schema_infer.infer_column_classes(spark, df, "t").collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == {
        "id": (0, 0, "identifier", None),
        "segment": (0, 0, "json", None),
        "grade": (0, 0, "identifier", None),
        "f1": (0, 0, "numeric_continuous", None),
        "f2": (0, 0, "numeric_continuous", None),
    }


def _profiles(spark, df, ref=None):
    """(got, want): infer_column_classes' (n_rows, n_distinct, vocab) per
    column of ``df``, and the same per column of ``ref`` (default ``df``)
    from an independent ``groupBy(c).count()`` (an array column grouped
    by its string form) sorted by Spark, nulls first: its row total, its
    non-null keys and, where ``df``'s column is dict-encoded, the keys
    as strings."""
    ref = df if ref is None else ref
    classes = schema_infer.infer_column_classes(spark, df, "t").collect()
    got = [(r["n_rows"], r["n_distinct"], r["vocab"]) for r in classes]
    want = []
    for f, r in zip(ref.schema.fields, classes):
        c = F.col(quote_name(f.name))
        if f.dataType.simpleString().startswith("array"):
            c = c.cast("string")
        groups = ref.groupBy(c.alias("k")).count().orderBy("k").collect()
        keys = [g["k"] for g in groups]
        want.append((
            sum(g["count"] for g in groups),
            sum(k is not None for k in keys),
            [None if k is None else str(k) for k in keys]
            if r["strategy"] == "dict_encode" else None,
        ))
    return got, want


def test_profile_matches_per_column_group_by(spark, sf_dir):
    """On every sf0.01 table, each column's row count, distinct count
    and vocabulary equal a per-column groupBy's."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_events,
        load_table,
    )

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        df = load_events(spark, sf_dir) if t == "events" else load_table(spark, sf_dir, t)
        got, want = _profiles(spark, df)
        assert got == want, t


def test_profile_edge_values_match_group_by_under_ansi(spark):
    """Under ANSI, a frame with nulls in every column but the id, NaN,
    -0.0 and 0.0, JSON strings, arrays (one holding -0.0, one 0.0) and
    timestamps profiles as the per-column groupBy counts it, and so does
    its 0-row form. Columns are counted by position: two columns of one
    name keep their own counts."""
    nan = float("nan")
    rows = [
        (
            i,
            None if i % 7 == 0 else (-0.0, 0.0, nan, 1.5)[i % 4],
            None if i % 10 == 0 else "bca"[i % 3],
            None if i % 9 == 0 else (30, 2, 10)[i % 3],
            None if i % 11 == 0 else '{"k": %d}' % i,
            None if i % 8 == 0 else [(-0.0, 0.0, 1.0)[i % 3], 1.0],
            None if i % 6 == 0 else i * 3600,
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, x double, seg string, grade int, js string, "
        "emb array<float>, secs bigint",
    ).withColumn("ts", F.timestamp_seconds("secs")).drop("secs")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got, want = _profiles(spark, df)
        assert got == want
        assert [v is not None for _, _, v in got] == [False, False, True, True, False, False, False]
        got, want = _profiles(spark, df.limit(0))
        assert got == want == [(0, 0, None)] * 7
        pair = df.select("doc_id", "seg")
        got, want = _profiles(spark, pair.toDF("k", "k"), ref=pair)
        assert got == want
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_serve_py4j_budget(spark, tmp_path):
    """Building a served frame costs a few Py4J round trips per column
    and none per split point or vocabulary value: bucketize on 20
    columns of 101 boundaries (70 measured), and serve-mode
    auto_tokenize on the 24-column serving pool (112). pyspark.ml's
    Bucketizer converted the splits one element per call and F.lit
    cost a call per vocabulary value: ~5,700 and ~6,300 calls."""
    pool, classes, bounds = _served_pool(spark, str(tmp_path / "pool"))
    _, n = _round_trips(lambda: quantile_bin.bucketize(pool, bounds, keep_cols=["id"]))
    assert n <= 80, n
    _, n = _round_trips(
        lambda: schema_infer.auto_tokenize(
            spark, pool, "pool", classes_df=classes, boundaries=bounds
        )
    )
    assert n <= 125, n


def _codegen_method_sizes(spark, plan):
    """The largest generated method, in bytecode bytes, of every
    WholeStageCodegenExec in the physical ``plan``: its code generated
    and compiled the way the node compiles it when it executes."""
    codegen = getattr(
        spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
    ).__getattr__("MODULE$")
    sizes, todo = [], [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "WholeStageCodegenExec":
            stats = codegen.compile(node.doCodeGen()._2())._2()
            sizes.append(stats.maxMethodCodeSize())
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return sizes


def test_serve_plan_runs_jit_compilable_code(spark, tmp_path):
    """HotSpot leaves a method over 8,000 bytecode bytes to the
    interpreter. Every whole-stage-codegen subtree of the 24-column
    serve plan whose largest method is over that is also over the
    session's spark.sql.codegen.hugeMethodLimit, so Spark runs it as
    per-operator code instead; the limit itself is at most 8,000 on
    the session and on its forked sessions."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        forked_session,
    )

    key = "spark.sql.codegen.hugeMethodLimit"
    limit = int(spark.conf.get(key))
    pool, classes, bounds = _served_pool(spark, str(tmp_path / "pool"))
    out = schema_infer.auto_tokenize(
        spark, pool, "pool", classes_df=classes, boundaries=bounds
    )
    sizes = _codegen_method_sizes(spark, out._jdf.queryExecution().executedPlan())
    assert sizes
    assert all(size > limit for size in sizes if size > 8000), (sizes, limit)
    assert out.count() == pool.count()
    assert limit <= 8000
    assert int(forked_session(spark, "t.codegen_limit").conf.get(key)) == limit


def test_dotted_and_backquoted_column_names(spark):
    """A dot or a backquote in a column name is part of the name, not a
    struct field access: bucketize bins ``price.usd`` and ``we`ird``
    as np.searchsorted does (null and NaN in the last bin), and
    infer_column_classes and auto_tokenize profile and code them. The
    pandas-UDF and mapInArrow lanes bin them as bucketize does, the
    exact fit equals SQL percentile, and the head-sample fit, the
    per-group ntile and the running value counts resolve them too."""
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price.usd", T.DoubleType()),
        T.StructField("we`ird", T.DoubleType()),
        T.StructField("seg.name", T.StringType()),
    ])
    rows = [
        (
            i,
            (i * 37 % 101) / 7.0 - 3.0,
            None if i % 9 == 0 else float("nan") if i % 11 == 0 else -0.0 if i % 7 == 0 else float(i % 13),
            "ab"[i % 2],
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, schema)
    cont = ["price.usd", "we`ird"]
    bounds = quantile_bin.fit_quantile_boundaries(df, cont, bins=10)
    binned = {
        r["id"]: r for r in quantile_bin.bucketize(df, bounds, keep_cols=["id", "seg.name"]).collect()
    }
    for j, c in enumerate(cont, start=1):
        interior = np.asarray(quantile_bin._interior_splits(bounds[c]))
        values = np.asarray([np.nan if r[j] is None else r[j] for r in rows]) + 0.0
        want = np.searchsorted(interior, values, side="right")
        assert [binned[r[0]][f"{c}_bin"] for r in rows] == want.tolist(), c
    classes = schema_infer.infer_column_classes(spark, df, "t")
    assert {r["column_name"]: r["inferred_class"] for r in classes.collect()} == {
        "id": "identifier",
        "price.usd": "numeric_continuous",
        "we`ird": "numeric_continuous",
        "seg.name": "categorical",
    }
    served = schema_infer.auto_tokenize(spark, df, "t", classes_df=classes, boundaries=bounds)
    assert served.columns == ["id", "seg.name_code", "price.usd_bin", "we`ird_bin"]
    for r in served.collect():
        b = binned[r["id"]]
        assert r["seg.name_code"] == {"a": 1, "b": 2}[b["seg.name"]]
        assert (r["price.usd_bin"], r["we`ird_bin"]) == (b["price.usd_bin"], b["we`ird_bin"])
    # the other bucketize lanes bin as bucketize does
    for lane in (quantile_bin.bucketize_pandas_udf, quantile_bin.bucketize_map_in_arrow):
        got = {r["id"]: r.asDict() for r in lane(df, bounds, keep_cols=["id", "seg.name"]).collect()}
        assert got == {i: r.asDict() for i, r in binned.items()}, lane.__name__
    # the exact fit (relative_error=0) equals SQL percentile
    exact = quantile_bin.fit_quantile_boundaries(df, cont, bins=10, relative_error=0)
    probs = [i / 10 for i in range(11)]
    want = df.agg(*[F.percentile(F.col(quote_name(c)), probs).alias(c) for c in cont]).first()
    for c in cont:  # NaN, the largest double, is a boundary of we`ird
        assert np.array_equal(exact[c], want[c], equal_nan=True), c
    head = quantile_bin.fit_quantile_boundaries_head_sample(df, cont, bins=10)
    want = np.quantile([r[1] for r in rows], np.linspace(0.0, 1.0, 11))
    assert head["price.usd"] == want.tolist()
    # per-group ntile and the running value counts
    grouped = quantile_bin.exact_quantile_bin_grouped(df, ["seg.name"], cont, 10, ["id"], keys=["id"])
    ntiles = df.select(
        "id",
        F.col("`seg.name`"),
        *[
            (F.ntile(10).over(Window.partitionBy("`seg.name`").orderBy(F.col(quote_name(c)), "id")) - 1)
            .cast("int")
            .alias(f"{c}_bin")
            for c in cont
        ],
    )
    assert sorted(map(tuple, grouped.collect())) == sorted(map(tuple, ntiles.collect()))
    for j, c in enumerate(cont, start=1):

        def order(v):  # Spark's double order: NaN above every number
            return (1, 0.0) if math.isnan(v) else (0, v + 0.0)

        vals = [order(r[j]) for r in rows if r[j] is not None]
        cum = sorted((order(r["value"]), r["cum_end"]) for r in quantile_bin.cumulative_value_counts(df, c).collect())
        assert cum == [(v, sum(x <= v for x in vals)) for v in sorted(set(vals))], c
