"""Source connectors with schema inference — the reader half of the
"Auto ... Schema-Inference" capability (SURVEY.md §1.4: the reference
only ever consumes parquet's self-describing footer at
etl_benchmark.py:27; CSV/JSON inference is declared by its name and
provided here).

Scale notes:
- Parquet: schema from the footer, read once per session and file
  listing (``read_parquet``); predicate pushdown and column pruning
  built-in — the default at 100 TB.
- CSV/JSON ``infer_schema=True`` runs an extra sampling pass over the
  input; production pipelines at scale should infer once on a sample
  (``samplingRatio``), freeze the schema with ``schema_of``, and pass it
  explicitly thereafter — ``read_csv``/``read_json`` support both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import parquet_schema, scoped_confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Reference O3 (etl_benchmark.py:27): scan with footer schema. The
    schema comes from ``session.parquet_schema``, memoized per session
    under the path's file listing: the first read of a path reads one
    footer on the driver (no Spark job), a repeat reads none until a
    file under the path is added, removed or rewritten (or a
    schema-shaping parquet conf changes)."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer_schema: bool = True,
    sampling_ratio: float = 1.0,
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_column: str | None = None,
) -> DataFrame:
    """``mode``: PERMISSIVE (malformed fields -> null, row captured in
    ``corrupt_column`` if given), DROPMALFORMED (row silently dropped),
    or FAILFAST (first malformed row raises — the integrity gate a
    100 TB ingest wants up front, not 6 hours in). The corrupt column
    must be declared in the schema to materialize."""
    reader = spark.read.option("header", header).option("mode", mode)
    if corrupt_column is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_column)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema).option(
            "samplingRatio", sampling_ratio
        )
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sampling_ratio: float = 1.0,
    mode: str = "PERMISSIVE",
    corrupt_column: str | None = None,
) -> DataFrame:
    reader = spark.read.option("mode", mode)
    if corrupt_column is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_column)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("samplingRatio", sampling_ratio)
    return reader.json(path)


def schema_of(df: DataFrame) -> T.StructType:
    """Freeze an inferred schema for reuse (infer once, apply many)."""
    return df.schema


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source with partitioned parallel reads. No JDBC driver jar
    ships in this container — the call constructs the reader (tested for
    wiring) but executing it requires a driver on the classpath."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1_000_000)
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — schema from file footer, filter/column pushdown like
    parquet (same DataSource V2 scan machinery)."""
    return spark.read.orc(path)


def read_parquet_evolved(
    spark: SparkSession, path: str, declared_schema: T.StructType | None = None
) -> DataFrame:
    """Schema-EVOLUTION read for long-lived tables whose writers added
    columns over time (every 100 TB corpus accretes columns: a new
    quality score, a new provenance field). Two modes:

    - ``declared_schema`` given: the scale path. The scan is planned from
      the declared schema directly — no footer reads at planning time;
      files missing a column yield nulls; column pruning/pushdown work
      unchanged. This is what a production catalog (metastore) does.
    - otherwise ``mergeSchema``: union all file footers' schemas. Correct
      and catalog-free, but planning reads EVERY footer (a distributed
      job over the file listing) — the exploratory mode, not the 100 TB
      hot path.

    Either way older rows surface the newer columns as nulls, so
    downstream code needs no per-vintage branches."""
    if declared_schema is not None:
        return spark.read.schema(declared_schema).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def footer_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """METADATA-ONLY count/min/max via parquet aggregate pushdown: the
    DataSource V2 scan answers COUNT(*)/MIN/MAX from row-group footer
    statistics without decoding a single data page — at 100 TB this is
    the difference between an instant profiling query and a full-corpus
    scan. Requires the V2 parquet reader; both confs are flipped for the
    plan's lifetime and restored (the rest of the engine keeps the
    default V1 path, whose filter-pushdown behavior the plan tests pin).

    Falls back transparently to a normal scan when stats are absent
    (e.g. a column type without footer min/max) — Spark only pushes the
    aggregate when every row group can answer it.
    """
    v2_aggregates = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    }
    with scoped_confs(spark, v2_aggregates):
        exprs = ["count(*) AS n_rows"]
        for c in cols:
            exprs += [f"min({c}) AS min_{c}", f"max({c}) AS max_{c}"]
        # materialize while the V2 confs are active: collect the single
        # stats row, then return it as a local DataFrame so later
        # evaluation never depends on the restored conf state
        row = spark.read.parquet(path).selectExpr(*exprs).collect()
        return spark.createDataFrame(row)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Native XML scan (Spark 4 built-in ``xml`` source — no external
    package). Without ``schema`` the reader infers types by sampling,
    like CSV/JSON; at scale, infer once and pass the frozen schema (the
    same freeze-the-schema discipline as read_csv/read_json)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan — GATED: the ``avro`` DataSource lives in the separate
    spark-avro module jar, which this container's pyspark distribution
    does not bundle (only avro-core, a transitive dependency of other
    components, is present — verified by jar listing). On a cluster
    with ``--packages org.apache.spark:spark-avro_2.13:<ver>`` this
    body is the complete implementation; here it raises with the exact
    dependency to add rather than failing deep inside the DataSource
    resolver."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # AnalysisException: failed to find source
        raise NotImplementedError(
            "avro source requires the spark-avro module jar "
            "(org.apache.spark:spark-avro_2.13) which is not bundled "
            "in this container's pyspark distribution"
        ) from exc
