"""Source/sink round-trips: CSV/JSON schema inference recovers types,
partitioned writes prune, bucketed tables join without exchange."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (  # noqa: E402
    load_table,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources import (  # noqa: E402
    readers,
    sinks,
)


def test_csv_roundtrip_with_inference(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    p = str(tmp_path / "cust_csv")
    sinks.write_csv(cust, p)
    back = readers.read_csv(spark, p, infer_schema=True)
    types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert types["c_custkey"] in ("int", "bigint")
    assert types["c_acctbal"] == "double"
    assert types["c_name"] == "string"
    assert back.count() == cust.count()


def test_json_roundtrip_with_inference(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_json")
    sinks.write_json(nation, p)
    back = readers.read_json(spark, p)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)


def test_frozen_schema_reuse(spark, sf_dir, tmp_path):
    """Infer once, freeze, re-read with the explicit schema (no second
    inference pass) — the at-scale pattern."""
    cust = load_table(spark, sf_dir, "customer")
    p = str(tmp_path / "cust_csv2")
    sinks.write_csv(cust, p)
    inferred = readers.schema_of(readers.read_csv(spark, p, infer_schema=True))
    fixed = readers.read_csv(spark, p, schema=inferred)
    assert fixed.schema == inferred
    assert fixed.count() == cust.count()


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    p = str(tmp_path / "orders_part")
    sinks.write_parquet(orders, p, partition_by=["yr"])
    assert any(d.startswith("yr=") for d in os.listdir(p))
    pruned = spark.read.parquet(p).filter(F.col("yr") == 1996)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan and "yr" in plan


def test_write_if_absent_idempotent(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    p = str(tmp_path / "region_pq")
    sinks.write_parquet_if_absent(region, p)
    sinks.write_parquet_if_absent(region.limit(1), p)  # ignored — already exists
    assert spark.read.parquet(p).count() == region.count()


def test_bucketed_table_join_no_exchange(spark, sf_dir, tmp_path):
    # warehouse dir is a static conf — use the session default (under cwd).
    # A previous run's orphaned location blocks saveAsTable (the in-memory
    # catalog forgets the table but not the directory) — clear both.
    import shutil
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sinks.write_bucketed_table(orders, "b_orders", "o_orderkey", 8)
    sinks.write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8
    )
    joined = (
        spark.table("b_orders")
        .join(spark.table("b_lineitem"), "o_orderkey")
        .groupBy("o_orderstatus")
        .count()
    )
    joined.write.format("noop").mode("overwrite").save()
    plan = joined._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        joined._jdf.queryExecution(), "formatted"
    )
    # bucket-colocated join: no shuffle exchange on either join input
    join_section = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    assert "bucket" in plan.lower() or "Exchange hashpartitioning" not in join_section


def test_reader_modes_malformed_csv(spark, tmp_path):
    """PERMISSIVE nulls + captures malformed rows, DROPMALFORMED drops
    them, FAILFAST raises on first touch — the ingest integrity gates."""
    import pytest
    from pyspark.sql import types as T

    p = str(tmp_path / "bad.csv")
    with open(p, "w") as f:
        f.write("k,v\n1,10\n2,not_a_number\n3,30\n")
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    perm = readers.read_csv(
        spark, p, schema=schema, mode="PERMISSIVE", corrupt_column="_corrupt"
    )
    rows = {r["k"]: r for r in perm.collect()}
    assert rows[2]["v"] is None and rows[2]["_corrupt"] == "2,not_a_number"
    assert rows[1]["_corrupt"] is None and rows[3]["v"] == 30

    strict_schema = T.StructType(schema.fields[:2])
    dropped = readers.read_csv(spark, p, schema=strict_schema, mode="DROPMALFORMED")
    assert sorted(r["k"] for r in dropped.collect()) == [1, 3]

    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        readers.read_csv(spark, p, schema=strict_schema, mode="FAILFAST").collect()


def test_reader_modes_malformed_json(spark, tmp_path):
    import pytest
    from pyspark.sql import types as T

    p = str(tmp_path / "bad.json")
    with open(p, "w") as f:
        f.write('{"k": 1, "v": 10}\n{"k": 2, "v": ???}\n{"k": 3, "v": 30}\n')
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    perm = readers.read_json(
        spark, p, schema=schema, mode="PERMISSIVE", corrupt_column="_corrupt"
    )
    good = [r for r in perm.collect() if r["_corrupt"] is None]
    bad = [r for r in perm.collect() if r["_corrupt"] is not None]
    assert sorted(r["k"] for r in good) == [1, 3] and len(bad) == 1

    strict_schema = T.StructType(schema.fields[:2])
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        readers.read_json(spark, p, schema=strict_schema, mode="FAILFAST").collect()


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC roundtrip preserves schema + values; the ORC scan accepts
    pushed filters like the parquet one (same DSv2 machinery)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.readers import (
        read_orc,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.sinks import (
        write_orc,
    )

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    filtered = back.filter(back.o_orderstatus == "F").select("o_orderkey")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" in plan and "PushedFilters" in plan
    a = sorted(r[0] for r in filtered.collect())
    b = sorted(
        r[0]
        for r in src.filter(src.o_orderstatus == "F").select("o_orderkey").collect()
    )
    assert a == b


def test_python_datasource_synthetic_docs(spark):
    """Spark 4 Python DataSource API: registered format plans one task
    per shard, rows are deterministic across runs and shard counts."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.python_datasource import (
        register,
    )

    register(spark)
    df = (spark.read.format("synthetic_docs")
          .option("rows", 500).option("shards", 8).option("seed", 7).load())
    assert df.columns == ["doc_id", "text", "lang", "n_chars"]
    assert df.count() == 500
    assert df.select("doc_id").distinct().count() == 500
    assert df.rdd.getNumPartitions() == 8
    # determinism: same seed, different shard count -> identical rows
    df2 = (spark.read.format("synthetic_docs")
           .option("rows", 500).option("shards", 3).option("seed", 7).load())
    assert df.exceptAll(df2).count() == 0 and df2.exceptAll(df).count() == 0
    # n_chars really is the text length (executor-side generation sanity)
    bad = df.filter(F.length("text") != F.col("n_chars")).count()
    assert bad == 0


def test_python_datasource_streaming_matches_batch(spark):
    """The connector's streaming half (SimpleDataSourceStreamReader):
    draining the bounded offset range through micro-batches yields
    EXACTLY the batch read's rows — the custom-source version of the
    unified-engine guarantee, and proof the offset/replay contract is
    deterministic."""
    import tempfile

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.python_datasource import (
        register,
    )

    register(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("max_rows", 200).option("batch_rows", 37).option("seed", 7)
        .load()
    )
    name = "synth_docs_stream_out"
    with tempfile.TemporaryDirectory(prefix="ckpt_pyds_") as ckpt:
        q = (
            stream.writeStream.outputMode("append")
            .format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    got = spark.table(name)
    batch = (
        spark.read.format("synthetic_docs")
        .option("rows", 200).option("shards", 4).option("seed", 7).load()
    )
    assert got.count() == 200
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: run the streaming connector with
    Trigger.Once four times against ONE checkpoint + parquet sink. Each
    run must resume from the committed offset (not offset 0), and the
    accumulated sink must hold every row exactly once — the end-to-end
    exactly-once contract (offset log + idempotent file sink) a
    production ingest restarts rely on."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.python_datasource import (
        register,
    )

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    for _ in range(4):
        stream = (
            spark.readStream.format("synthetic_docs")
            .option("max_rows", 200).option("batch_rows", 50).option("seed", 7)
            .load()
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 200, "restarts must not duplicate or drop rows"
    assert got.select("doc_id").distinct().count() == 200
    batch = (
        spark.read.format("synthetic_docs")
        .option("rows", 200).option("shards", 4).option("seed", 7).load()
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """Compaction contract: a 64-file table rewrites into the byte-sized
    target file count with identical rows; sortWithinPartitions keeps
    min/max stats selective."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.sinks import (
        compact_parquet,
    )

    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    frag = str(tmp_path / "fragmented")
    src.repartition(64).write.parquet(frag)
    out = str(tmp_path / "compacted")
    n = compact_parquet(
        spark, frag, out, target_file_bytes=8 * 1024 * 1024,
        sort_within_by=["l_orderkey"],
    )
    got = spark.read.parquet(out)
    assert got.count() == src.count()
    assert got.exceptAll(src).count() == 0
    import glob
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == n
    assert n < 64


def test_schema_evolution_read(spark, tmp_path):
    """A table written in two vintages (v2 adds a column) must read as one
    frame in both evolution modes, with nulls for pre-addition rows."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.readers import (
        read_parquet_evolved,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = str(tmp_path / "evolving")
    spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 2).alias("a")
    ).write.mode("overwrite").parquet(path)
    spark.range(10, 20).select(
        F.col("id"), (F.col("id") * 2).alias("a"), F.lit(1.5).alias("score")
    ).write.mode("append").parquet(path)

    merged = read_parquet_evolved(spark, path)
    assert set(merged.columns) == {"id", "a", "score"}
    assert merged.count() == 20
    assert merged.filter(F.col("score").isNull()).count() == 10

    declared = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("a", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    fast = read_parquet_evolved(spark, path, declared_schema=declared)
    assert fast.count() == 20
    assert fast.filter(F.col("score").isNull()).count() == 10
    # both modes agree row-for-row
    assert merged.exceptAll(fast).count() == 0


def test_parquet_schema_tracks_rewrites_and_confs(spark, tmp_path):
    """parquet_schema is memoized per session, yet a table rewritten
    with an added column shows the column on the next call, and the
    nanosAsLong flip is part of the key: a TIMESTAMP(NANOS) column is
    bigint with it and rejected by Spark without it. A missing path
    raises Spark's own error."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import types as T

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        parquet_schema,
    )

    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert parquet_schema(spark, path).names == ["id"]
    spark.range(3).withColumn("extra", F.lit(1.5)).write.mode("overwrite").parquet(
        path
    )
    assert parquet_schema(spark, path).names == ["id", "extra"]
    assert readers.read_parquet(spark, path).columns == ["id", "extra"]

    nanos = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), nanos)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert parquet_schema(spark, nanos)["ts"].dataType == T.LongType()
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            parquet_schema(spark, nanos)
    finally:
        spark.conf.set(conf, before)

    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        readers.read_parquet(spark, str(tmp_path / "missing"))


def test_parquet_schema_is_spark_inference_without_a_job(spark, sf_dir, tmp_path):
    """parquet_schema reads the one footer Spark's inference would read,
    on the driver: the schema equals spark.read.parquet(path).schema
    (field order, types, nullability) for fixture tables, a partitioned
    directory, one partition, a partition column that is also a data
    column, a non-nullable pyarrow column, a _common_metadata summary
    that Spark prefers over the data files, and a glob; none of them
    runs a Spark job. An empty directory raises Spark's own error."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        parquet_schema,
    )

    pool = str(tmp_path / "pool")
    spark.range(40).selectExpr("id", "id % 4 AS batch", "CAST(id AS double) x").write.partitionBy(
        "batch"
    ).parquet(pool)
    overlap = tmp_path / "overlap" / "k=1"
    overlap.mkdir(parents=True)
    pq.write_table(pa.table({"k": pa.array([5], pa.int64()), "v": [1.0]}), overlap / "p.parquet")
    strict = tmp_path / "strict"
    strict.mkdir()
    schema = pa.schema([pa.field("n", pa.int32(), nullable=False), pa.field("b", pa.binary())])
    pq.write_table(pa.table({"n": [1], "b": [b"x"]}, schema=schema), strict / "a.parquet")
    summary = tmp_path / "summary"
    summary.mkdir()
    pq.write_table(pa.table({"id": [1]}), summary / "a.parquet")
    pq.write_metadata(pa.schema([("id", pa.int64()), ("more", pa.string())]), summary / "_common_metadata")
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in ("lineitem", "events")] + [
        pool,
        f"{pool}/batch=2",
        str(tmp_path / "overlap"),
        str(strict),
        str(summary),
        f"{pool}/batch=*",
    ]
    sc = spark.sparkContext
    for path in paths:
        group = f"schema-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            got = parquet_schema(spark, path)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, path
        assert got.json() == spark.read.parquet(path).schema.json(), path
    assert parquet_schema(spark, str(summary)).names == ["id", "more"]

    (tmp_path / "empty").mkdir()
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        parquet_schema(spark, str(tmp_path / "empty"))


def test_footer_stats_metadata_only(spark, sf_dir):
    """footer_stats must (a) push COUNT/MIN/MAX into the parquet scan
    (PushedAggregation — answered from row-group footers, zero data
    pages) and (b) equal a normal full scan."""
    import os

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.readers import (
        footer_stats,
    )

    path = os.path.join(sf_dir, "lineitem.parquet")
    # plan check under the V2 confs
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        plan = (
            spark.read.parquet(path)
            .selectExpr("count(*)", "min(l_quantity)")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedAggregation: [COUNT(*), MIN(l_quantity)]" in plan
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", "parquet")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")

    got = footer_stats(spark, path, ["l_quantity", "l_extendedprice"]).collect()[0]
    li = spark.read.parquet(path)
    want = li.selectExpr(
        "count(*)", "min(l_quantity)", "max(l_quantity)",
        "min(l_extendedprice)", "max(l_extendedprice)",
    ).collect()[0]
    assert tuple(got) == tuple(want)


def test_jdbc_roundtrip_partitioned_read(spark, sf_dir):
    """REAL JDBC source/sink round-trip against the embedded Derby that
    ships in Spark's jars: write a table, read it back both plain and as
    a PARTITIONED parallel read (partitionColumn/numPartitions — the
    scale lever: N concurrent range queries instead of one cursor), and
    check filter pushdown reaches the JDBC scan."""
    import os
    import shutil

    from pyspark.sql import functions as F

    db_dir = "/tmp/spark_graft_derby_test_db"
    shutil.rmtree(db_dir, ignore_errors=True)
    url = f"jdbc:derby:{db_dir};create=true"
    src = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(2000)
    )
    src.write.format("jdbc").option("url", url).option(
        "dbtable", "orders_jdbc"
    ).mode("overwrite").save()

    plain = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_jdbc")
        .load()
    )
    assert plain.count() == 2000

    part = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_jdbc")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", "1")
        .option("upperBound", "100000")
        .option("numPartitions", "4")
        .load()
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 2000

    filtered = part.filter(F.col("o_totalprice") > 100000.0)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_totalprice" in plan, plan[:1500]
    assert filtered.count() == src.filter(F.col("o_totalprice") > 100000.0).count()


def test_repartition_by_range_layout(spark, sf_dir):
    """repartitionByRange must plan a RangePartitioning exchange and
    produce NON-OVERLAPPING per-partition key ranges — the layout that
    gives parquet zone maps (row-group min/max) their pruning power when
    the table is written sorted."""
    import os

    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    rp = li.repartitionByRange(8, "l_extendedprice")
    plan = rp._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    bounds = (
        rp.select(
            F.spark_partition_id().alias("pid"), "l_extendedprice"
        )
        .groupBy("pid")
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("pid")
        .collect()
    )
    assert len(bounds) >= 2
    for a, b in zip(bounds, bounds[1:]):
        assert a["hi"] <= b["lo"], (a, b)


def test_copy_into_idempotent_loader(spark, sf_dir):
    """copy_into loads each source file exactly once across re-runs:
    first run loads all, re-run loads 0, a new file loads only the
    delta, and the target equals the union of the sources."""
    import os
    import shutil
    import tempfile

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.sinks import (
        copy_into,
    )

    work = tempfile.mkdtemp(prefix="copyinto_")
    src_dir = os.path.join(work, "src")
    tgt = os.path.join(work, "tgt")
    try:
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        orders.limit(500).repartition(2).write.parquet(src_dir)
        glob_pat = os.path.join(src_dir, "*.parquet")
        n1 = copy_into(spark, glob_pat, tgt)
        assert n1 == 2
        assert copy_into(spark, glob_pat, tgt) == 0  # idempotent re-run
        total1 = spark.read.parquet(os.path.join(tgt, "data")).count()
        assert total1 == 500
        # a late-arriving file: only the delta loads
        orders.limit(800).subtract(orders.limit(500)).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        n3 = copy_into(spark, glob_pat, tgt)
        assert n3 >= 1
        total2 = spark.read.parquet(os.path.join(tgt, "data")).count()
        assert total2 == 800
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_hidden_metadata_column(spark, sf_dir):
    """The parquet reader must expose the hidden _metadata struct
    (file_name/file_size/row_index) — row-level provenance without any
    ETL bookkeeping column."""
    import os

    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    meta = df.select(
        F.col("_metadata.file_name").alias("fn"),
        F.col("_metadata.row_index").alias("ri"),
    )
    first = meta.first()
    assert first["fn"] == "events.parquet"
    assert meta.where(F.col("ri") == 0).count() == 1


def test_xml_roundtrip(spark, sf_dir, tmp_path):
    """Native XML write -> read with frozen schema recovers every row."""
    nation = load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_xml")
    sinks.write_xml(nation, p, row_tag="nation", root_tag="nations")
    back = readers.read_xml(
        spark, p, row_tag="nation", schema=nation.schema
    )
    assert back.count() == nation.count()
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )


def test_merge_upsert_partition_scoped(spark, tmp_path):
    """MERGE on plain parquet: updates win by version, inserts land,
    tombstones delete (including emptying a whole partition), untouched
    partitions are physically left alone, and re-merging the same batch
    is a no-op."""
    target = str(tmp_path / "merge_target")
    seed = spark.createDataFrame(
        [
            (1, "a", 10, 100),
            (2, "a", 11, 100),
            (3, "b", 12, 100),
            (4, "c", 13, 100),
        ],
        "id int, part string, val int, v int",
    )
    sinks.merge_upsert(spark, target, seed, ["id"], "v", partition_col="part")
    before = {
        f for f in os.listdir(os.path.join(target, "part=b"))
        if not f.startswith("_")
    }

    batch = spark.createDataFrame(
        [
            (1, "a", 99, 200, False),   # update
            (5, "a", 14, 200, False),   # insert
            (4, "c", 0, 200, True),     # tombstone -> empties part=c
        ],
        "id int, part string, val int, v int, deleted boolean",
    )
    sinks.merge_upsert(
        spark, target, batch, ["id"], "v",
        partition_col="part", tombstone_col="deleted",
    )
    got = {
        (r.id, r.part, r.val, r.v)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {
        (1, "a", 99, 200),
        (2, "a", 11, 100),
        (3, "b", 12, 100),
        (5, "a", 14, 200),
    }
    # part=c emptied by the tombstone -> directory gone
    assert not os.path.exists(os.path.join(target, "part=c"))
    # part=b untouched by the batch -> same physical files
    after = {
        f for f in os.listdir(os.path.join(target, "part=b"))
        if not f.startswith("_")
    }
    assert after == before

    # idempotent: re-merging the identical batch changes nothing
    sinks.merge_upsert(
        spark, target, batch, ["id"], "v",
        partition_col="part", tombstone_col="deleted",
    )
    again = {
        (r.id, r.part, r.val, r.v)
        for r in spark.read.parquet(target).collect()
    }
    assert again == got


def test_merge_upsert_full_table(spark, tmp_path):
    """Without partition_col: whole-table latest-wins merge (dimension-
    table mode)."""
    target = str(tmp_path / "merge_dim")
    seed = spark.createDataFrame(
        [(1, "x", 100), (2, "y", 100)], "id int, name string, v int"
    )
    sinks.merge_upsert(spark, target, seed, ["id"], "v")
    batch = spark.createDataFrame(
        [(2, "y2", 200), (3, "z", 200)], "id int, name string, v int"
    )
    sinks.merge_upsert(spark, target, batch, ["id"], "v")
    got = {
        (r.id, r.name, r.v) for r in spark.read.parquet(target).collect()
    }
    assert got == {(1, "x", 100), (2, "y2", 200), (3, "z", 200)}


def test_erase_rows_partition_scoped(spark, tmp_path):
    """GDPR erasure: targets gone, survivors byte-identical (orderless
    checksum), untouched partitions physically untouched, fully-erased
    partitions dropped, no-op on unknown keys."""
    target = str(tmp_path / "erase_target")
    df = spark.createDataFrame(
        [(u, f"d{u % 3}", u * 10) for u in range(30)],
        "user_id int, day string, v int",
    )
    df.write.partitionBy("day").parquet(target)
    before_files_d2 = set(os.listdir(os.path.join(target, "day=d2")))

    def checksum(frame):
        r = frame.select(
            F.xxhash64("user_id", "day", "v").alias("h")
        ).agg(
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
        ).collect()[0]
        return r["s"]

    expected = checksum(df.filter(~F.col("user_id").isin([3, 6])))
    n = sinks.erase_rows(spark, target, "user_id", [3, 6], partition_col="day")
    assert n == 2
    back = spark.read.parquet(target)
    assert back.filter(F.col("user_id").isin([3, 6])).count() == 0
    assert back.count() == 28
    assert checksum(back) == expected
    # user 3 -> day=d0, user 6 -> day=d0; day=d2 untouched physically
    after_files_d2 = set(os.listdir(os.path.join(target, "day=d2")))
    assert after_files_d2 == before_files_d2
    # no-op erase
    assert sinks.erase_rows(spark, target, "user_id", [999], partition_col="day") == 0
    # erase an entire partition's rows -> its directory is gone
    d1_users = [r.user_id for r in back.filter("day='d1'").collect()]
    n2 = sinks.erase_rows(spark, target, "user_id", d1_users, partition_col="day")
    assert n2 == len(d1_users)
    assert not os.path.exists(os.path.join(target, "day=d1"))


def test_reader_file_discovery_options(spark, tmp_path):
    """File-discovery reader options a lake layout depends on:
    pathGlobFilter (scan only matching files), recursiveFileLookup
    (flatten nested non-partition dirs), and modifiedAfter (time-based
    incremental pickup) — each must change WHICH files are read, not
    just post-filter rows."""
    import os
    import time

    base = tmp_path / "lake"
    (base / "a" / "deep").mkdir(parents=True)
    df = spark.range(10).toDF("v")
    df.write.mode("overwrite").parquet(str(base / "a" / "deep" / "p1"))
    df.write.mode("overwrite").json(str(base / "a" / "deep" / "j1"))

    # pathGlobFilter: only parquet part-files under the tree
    got = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(base))
    )
    assert got.count() == 10

    # recursiveFileLookup off: direct read of the nested dir still works
    assert spark.read.parquet(str(base / "a" / "deep" / "p1")).count() == 10

    # modifiedAfter: a file written later is picked up, older ones not
    time.sleep(1.1)
    cutoff = time.strftime("%Y-%m-%dT%H:%M:%S", time.localtime())
    time.sleep(1.1)
    df2 = spark.range(3).toDF("v")
    df2.write.mode("overwrite").parquet(str(base / "a" / "deep" / "p2"))
    picked = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .option("modifiedAfter", cutoff)
        .parquet(str(base))
    )
    assert picked.count() == 3


def test_ignore_corrupt_files(spark, tmp_path):
    """A 100 TB lake always contains a few truncated/garbage files;
    spark.sql.files.ignoreCorruptFiles must let the scan survive them
    (returning the healthy rows) while the default strict mode fails
    loudly — both behaviors pinned."""
    import pytest

    d = tmp_path / "mixed"
    spark.range(10).toDF("v").write.mode("overwrite").parquet(str(d))
    (d / "garbage.parquet").write_bytes(b"PAR1 this is not a parquet file")

    old = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
        with pytest.raises(Exception):
            spark.read.parquet(str(d)).count()
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        # explicit schema: footer-based schema inference samples files on
        # the driver BEFORE the per-task corrupt-file tolerance applies,
        # so a robust pipeline pins the schema (which a production lake
        # does anyway — schema from the catalog, not from footers)
        assert (
            spark.read.schema("v bigint").parquet(str(d)).count() == 10
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", old)


def test_generator_determinism_with_pinned_partitions(spark):
    """The seed-pinned oracle fixture (tokenize_generated) depends on
    spark.range+randn being byte-stable: with rows/cols/seed AND
    numPartitions all fixed, two independent generations must be
    identical, and the id column must ride along when requested."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.generator import (
        generate_normal_table,
    )

    a = generate_normal_table(
        spark, rows=5_000, cols=3, seed=11, num_partitions=4, include_id=True
    )
    b = generate_normal_table(
        spark, rows=5_000, cols=3, seed=11, num_partitions=4, include_id=True
    )
    assert a.columns == ["id", "col_0", "col_1", "col_2"]
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # a DIFFERENT partitioning must be allowed to differ (documented
    # contract: determinism requires the pinned partition count)
    assert a.count() == 5_000


def test_avro_reader_gated_with_actionable_error(spark, tmp_path):
    """The avro source is container-gated (no spark-avro module jar);
    the reader must fail with the dependency named, not a resolver
    stack trace."""
    import pytest

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.readers import (
        read_avro,
    )

    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_avro(spark, str(tmp_path))
