"""Schema inference + auto-tokenization — the capability the reference
repo's NAME promises but its code lacks (SURVEY.md header note 1: the
only schema handling is parquet's self-describing footer at
etl_benchmark.py:27). We provide it properly:

1. ``infer_column_classes`` — classify every column (identifier /
   numeric_continuous / numeric_discrete / categorical / text / json /
   timestamp / vector) from the Spark schema + exact per-column stats
   (distinct counts, JSON-shape counts), then fit the vocabulary of
   every dict-encoded column. The result is the classes model serving
   needs, held driver-side.
2. ``categorical_encode`` — dictionary-encode low-cardinality strings
   (vocab = sorted distinct values -> code, broadcast back).
3. ``auto_tokenize`` — route every column through the strategy its
   class demands: quantile-bin for continuous numerics (the reference's
   operator), dict codes for categoricals, epoch-day buckets for
   timestamps, passthrough for identifiers.

Scale: profiling is one plan, ``_value_counts``: every column's value
counts from one scan that turns each row into one (column, value) pair
per column, through one shared exchange. The stats, the vocabularies and
the partition advisor all read it, so profiling a table reads each file
once per pass and runs at most 5 Spark jobs at any width; the transform
is map-only — dict codes are a literal lookup, not a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..session import ctx_cache, load_table, quote_name
from .quantile_bin import LINEITEM_MEASURES
from .quantile_bin_queries import boundary_bin_oracle

CATEGORICAL_MAX_DISTINCT_RATIO = 0.10
CATEGORICAL_MAX_DISTINCT = 100


_STRATEGY = {
    "timestamp": "epoch_bucket",
    "vector": "lsh_bucket",
    "json": "json_extract",
    "categorical": "dict_encode",
    "text": "fingerprint",
    "identifier": "passthrough",
    "numeric_discrete": "dict_encode",
    "numeric_continuous": "quantile_bin",
}

#: the classes model: per-column stats, class and strategy, plus the
#: fitted vocabulary of every dict-encoded column
_CLASSES_SCHEMA = (
    "table_name string, column_name string, spark_type string, "
    "n_rows bigint, n_distinct bigint, n_json bigint, "
    "inferred_class string, strategy string, vocab array<string>"
)
_DICT_CLASSES = ("categorical", "numeric_discrete")


def _value_counts(df: DataFrame, keep: list[int] | None = None) -> DataFrame:
    """Every column's value counts as one long frame ``(i, v, n)``: ``n``
    rows of column ``i`` (its position in ``df``) hold the value ``v``.
    ``keep`` lists the positions to count (default: all of them).

    ``v`` is a struct with one slot per column type, named by the type
    (``v.bigint``, ``v.string``, ...), so every value keeps its native
    type: ``-0.0`` groups with ``0.0``, NaN with NaN, and ints order as
    numbers. An array value is cast to string. A null cell gives a null
    ``v``. The plan is one scan of the kept columns: each row becomes one
    ``(i, v)`` pair per kept column (``inline`` of an array of structs,
    a Generate) under one ``groupBy(i, v)``, so a file is read once
    whatever the width and all columns share a single exchange. Columns
    are addressed by position, so duplicate names count apart."""
    fields = df.schema.fields
    keep = range(len(fields)) if keep is None else keep
    df = df.toDF(*[f"c{i}" for i in range(len(fields))])
    cols = {
        i: (F.col(f"c{i}").cast("string"), StringType())
        if isinstance(fields[i].dataType, ArrayType)
        else (F.col(f"c{i}"), fields[i].dataType)
        for i in keep
    }
    slots = list(dict.fromkeys(t for _, t in cols.values()))
    pairs = [
        F.struct(
            F.lit(i).alias("i"),
            F.when(
                c.isNotNull(),
                F.struct(*[
                    (c if s == t else F.lit(None).cast(s)).alias(s.simpleString())
                    for s in slots
                ]),
            ).alias("v"),
        )
        for i, (c, t) in cols.items()
    ]
    return (
        df.select(F.inline(F.array(*pairs)))
        .groupBy("i", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _classify(t: str, is_key: bool, n_rows: int, n_distinct: int, n_json: int) -> str:
    """The oracle's CASE (_schema_infer_oracle) over one column's stats.
    A 0-row column is never categorical: the oracle's ratio is NULL."""
    is_cat = (
        n_rows > 0
        and n_distinct <= CATEGORICAL_MAX_DISTINCT
        and n_distinct / n_rows <= CATEGORICAL_MAX_DISTINCT_RATIO
    )
    if t == "timestamp":
        return "timestamp"
    if t.startswith("array"):
        return "vector"
    if t == "string":
        if n_json == n_rows:
            return "json"
        return "categorical" if is_cat else "text"
    if t in ("bigint", "int"):
        return "numeric_discrete" if is_cat and not is_key else "identifier"
    return "numeric_continuous"


def infer_column_classes(spark: SparkSession, df: DataFrame, table: str) -> DataFrame:
    """One row per column -> stats, class, tokenization strategy and,
    for dict-encoded classes, the fitted ``vocab`` — everything
    auto_tokenize needs to serve a later batch.

    Each pass is one _value_counts plan, one scan of the table whatever
    the column count:
    - the stats (rows, exact distinct values, JSON-shaped values) are
      one ``groupBy(i)`` over it, read with one collect: 3 jobs, one
      per exchange and the result;
    - the vocabularies are the same plan built over the dict-encoded
      columns only (keeping their positions), so its scan reads just
      those columns: 2 jobs, none when no column is dict-encoded. A
      vocabulary is the column's values sorted on the driver in native
      order (ints numeric, strings by code point, as Spark orders them)
      and cast to string, led by None when the column holds a null, so
      a value's 1-based position is its dense_rank over the column.
    So profiling runs at most 5 jobs, and the driver holds at most
    CATEGORICAL_MAX_DISTINCT values per dict-encoded column, never a
    text column's distinct values.

    The returned frame is built from an Arrow table, so it is a
    LocalRelation: collecting it runs no Spark job (a frame built from
    a Python list is a parallelized RDD, one job of Python-worker tasks
    per collect)."""
    import pyarrow as pa

    counts = _value_counts(df)
    is_json = (
        F.col("v.string").rlike(r"^\{.*\}$")
        if "string" in counts.schema["v"].dataType.fieldNames()
        else F.lit(False)
    )
    stats = {
        r["i"]: r
        for r in counts.groupBy("i").agg(
            F.sum("n").alias("n_rows"),
            F.count("v").alias("n_distinct"),
            F.sum(F.when(is_json, F.col("n")).otherwise(0)).alias("n_json"),
        ).collect()
    }
    rows = []
    for i, f in enumerate(df.schema.fields):
        t = f.dataType.simpleString()
        # normalize Spark 4's timestamp_ntz (parquet isAdjustedToUTC=false)
        # to plain "timestamp" — the classification and the oracle don't
        # care about the zone flavor
        if t.startswith("timestamp"):
            t = "timestamp"
        s = stats.get(i)  # a 0-row frame has no counts
        n = (s["n_rows"], s["n_distinct"], s["n_json"]) if s else (0, 0, 0)
        is_key = f.name.endswith("key") or f.name.endswith("_id") or f.name == "doc_id"
        k = _classify(t, is_key, *n)
        rows.append({
            "table_name": table, "column_name": f.name, "spark_type": t,
            "n_rows": n[0], "n_distinct": n[1], "n_json": n[2],
            "inferred_class": k, "strategy": _STRATEGY[k], "vocab": None,
        })
    values = {i: [] for i, r in enumerate(rows) if r["inferred_class"] in _DICT_CLASSES}
    if values:
        for r in _value_counts(df, list(values)).collect():
            slot = rows[r["i"]]["spark_type"]
            values[r["i"]].append(None if r["v"] is None else r["v"][slot])
    for i, vs in values.items():
        rows[i]["vocab"] = ([None] if None in vs else []) + [
            str(x) for x in sorted(x for x in vs if x is not None)
        ]
    return df.sparkSession.createDataFrame(
        pa.Table.from_pylist(rows), _CLASSES_SCHEMA
    )


def _cached_classes(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``table``'s infer_column_classes frame, built once per session —
    q_schema_infer and q_auto_tokenize_lineitem profile the same
    fixture. Cached as the driver-local frame itself: session_memo's
    localCheckpoint would turn its job-free collect into an RDD scan."""
    return ctx_cache(
        spark,
        ("colstats", table, sf_dir),
        lambda: infer_column_classes(
            spark, load_table(spark, sf_dir, table), table
        ),
    )


def q_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inferred classes for lineitem + documents + embeddings columns
    (the vocabularies dropped). Each table's classes frame is cached per
    session and shared with q_auto_tokenize_lineitem, so one bench/driver
    session profiles each table (see infer_column_classes) exactly
    once."""
    from functools import reduce

    parts = [
        _cached_classes(spark, sf_dir, t).drop("vocab")
        for t in ("lineitem", "documents", "embeddings")
    ]
    return reduce(lambda a, b: a.unionAll(b), parts)


def q_categorical_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encode lineitem's categorical columns: vocab = sorted
    distinct values -> 0-based code, joined back (broadcast — a vocab is
    small by the definition of categorical)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    for c in ("l_returnflag", "l_linestatus"):
        vocab = (
            li.select(F.col(c).alias("value")).distinct()
            .withColumn(
                "code",
                (F.row_number().over(Window.orderBy(F.col("value"))) - 1).cast("int"),
            )
        )
        out = out.join(
            F.broadcast(vocab.withColumnRenamed("value", c)
                        .withColumnRenamed("code", f"{c}_code")),
            c,
        )
    return out.select(
        "l_orderkey", "l_linenumber",
        "l_returnflag", F.col("l_returnflag_code"),
        "l_linestatus", F.col("l_linestatus_code"),
    )


def _sql_string(v: str | None) -> str:
    """``v`` as SQL text: NULL, or a hex binary literal cast to string,
    which reads back as ``v`` whatever quotes, backslashes or control
    characters it holds and whatever the parser's escaping setting."""
    return "NULL" if v is None else f"CAST(X'{v.encode().hex()}' AS STRING)"


def _dict_code(c: str, vocab: list[str | None]) -> str:
    """Column ``c``'s code against its fitted vocabulary (see
    infer_column_classes), as SQL text: the 1-based position, which is
    the dense_rank the fitted column gave the value. A literal lookup,
    map-only — no join, no window. A value the fit never saw gets a null
    code (array_position's 0, not an error, so ANSI sessions serve it
    too); null gets code 1 when the fit saw a null, else null."""
    q = quote_name(c)
    values = ", ".join(map(_sql_string, vocab))
    pos = f"array_position(CAST(array({values}) AS ARRAY<STRING>), CAST({q} AS STRING))"
    code = f"CASE WHEN {pos} > 0 THEN {pos} END"
    if vocab[:1] == [None]:
        code = f"CASE WHEN {q} IS NULL THEN 1 ELSE {code} END"
    return f"CAST({code} AS INT) AS {quote_name(f'{c}_code')}"


def _token_sql(c: str, k: str, vocab: list[str | None] | None) -> str | None:
    """SQL text of column ``c``'s token under its inferred class ``k``;
    None for numeric_continuous, which bucketize bins."""
    q = quote_name(c)
    if k == "identifier":
        return q
    if k in _DICT_CLASSES:
        return _dict_code(c, vocab)
    if k == "timestamp":
        # cast handles timestamp_ntz (session TZ pinned to UTC)
        return (
            f"CAST(unix_micros(CAST({q} AS TIMESTAMP)) / 86400000000L AS INT)"
            f" AS {quote_name(f'{c}_daybucket')}"
        )
    if k == "text":
        return f"md5({q}) AS {quote_name(f'{c}_fp')}"
    if k in ("json", "vector"):
        return f"CAST({q} AS STRING) AS {quote_name(f'{c}_raw')}"
    return None


def auto_tokenize(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    classes_df: DataFrame | None = None,
    boundaries: dict[str, list[float]] | None = None,
) -> DataFrame:
    """Route every column through its inferred strategy — the "Auto" in
    the reference's name, materialized: numeric_continuous -> 100-bin
    quantile codes, categorical/discrete -> dict codes, timestamp ->
    epoch-day bucket, text -> md5 fingerprint, identifier -> passthrough.

    Without ``boundaries`` the continuous columns get the 100-bin sketch
    fit (fit_quantile_boundaries' default accuracy, the 100 TB setting).

    Categorical/discrete codes are 1-based ranks in the vocabulary
    the classes frame carries (see _dict_code); without ``classes_df``
    that vocabulary is fitted on ``df`` itself, so the codes equal
    ``dense_rank`` over the column.

    Serve mode: ``classes_df`` (a precomputed infer_column_classes
    frame) and ``boundaries`` (a fitted boundary model) skip the
    profiling pass and the fit respectively — the production deployment
    shape, where both are fitted once on the training corpus and served
    to every later batch. The batch is coded against the FITTED
    vocabulary, so codes are stable across batches; a value the fit
    never saw gets a null code. Serving runs no Spark job of its own:
    the result is one map-only plan, built as SQL text (one string per
    column, so the vocabularies cost no Py4J call per value). A model
    that does not cover every continuous column raises ``ValueError``:
    refitting the missing columns would mix model vintages, and
    refitting them all would silently drop the model the caller
    served."""
    from .quantile_bin import bucketize, fit_quantile_boundaries

    if classes_df is None:
        classes_df = infer_column_classes(spark, df, table)
    model = classes_df.collect()  # driver-local frame: no Spark job
    cont = [
        r["column_name"] for r in model
        if r["inferred_class"] == "numeric_continuous"
    ]
    tokens = [
        t for r in model
        if (t := _token_sql(r["column_name"], r["inferred_class"], r["vocab"]))
    ]
    if not cont:
        return df.selectExpr(*tokens)
    # Single-pass: run the Bucketizer over the frame (keeping every
    # non-continuous column so the other token expressions still
    # resolve), then select tokens + bin codes together. No join — works
    # for tables with no identifier column (the reference's canonical
    # all-numeric col_0..col_19 shape) and keeps the plan map-only.
    if boundaries is None:
        bounds = fit_quantile_boundaries(df, cont, bins=100)
    else:
        missing = [c for c in cont if c not in boundaries]
        if missing:
            raise ValueError(
                f"auto_tokenize: the served boundary model does not cover "
                f"the continuous columns {missing} of {table!r}"
            )
        bounds = {c: boundaries[c] for c in cont}  # serve path: no refit
    binned = bucketize(df, bounds, keep_cols=[c for c in df.columns if c not in bounds])
    return binned.selectExpr(*tokens, *[quote_name(f"{c}_bin") for c in cont])


def q_auto_tokenize_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end auto pipeline on lineitem, oracle-backed: the served
    boundary model is the exact fit with 6dp rounding (the distributed
    histogram/prefix-sum plan, not the single-reducer SQL ``percentile``
    aggregate; same ulp treatment as q_quantile_bin_exact_boundaries),
    which makes every routed output deterministic and SQL-expressible:
    identifiers pass through, discrete/categorical get vocabulary rank
    codes (== dense_rank over the full column: the vocabulary is fitted
    on lineitem itself), timestamps get epoch-day buckets, continuous
    measures get interior-boundary-count bins. The production path keeps
    the sketch fit; only the boundary PLACEMENT differs.

    Serve shape: the classes frame is cached per session (shared with
    q_schema_infer — both profile the same fixture) and the boundary
    model is the session's cached exact-fit model
    (cached_exact_boundaries) shared with the quantile-bin lanes — fit
    once, serve every lane. auto_tokenize raises if that model stops
    covering an inferred-continuous column (classifier/recipe drift)."""
    from .quantile_bin_queries import cached_exact_boundaries

    return auto_tokenize(
        spark,
        load_table(spark, sf_dir, "lineitem"),
        "lineitem",
        classes_df=_cached_classes(spark, sf_dir, "lineitem"),
        boundaries=cached_exact_boundaries(spark, sf_dir),
    )


_CAT_ORACLE_PIECES = []
for _t, _cols in (
    ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                  "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                  "l_returnflag", "l_linestatus", "l_shipdate"]),
    ("documents", ["doc_id", "text", "lang", "source", "n_chars"]),
    ("embeddings", ["vec_id", "embedding", "label"]),
):
    for _c in _cols:
        _CAT_ORACLE_PIECES.append((_t, _c))


def _stats_select(table: str, col: str, spark_type: str, is_key: bool) -> str:
    n_json = (
        f"count(CASE WHEN regexp_matches({col}, '^\\{{.*\\}}$') THEN 1 END)"
        if spark_type == "string"
        else "0"
    )
    distinct = (
        f"count(DISTINCT CAST({col} AS VARCHAR))"
        if spark_type.startswith("array")
        else f"count(DISTINCT {col})"
    )
    return f"""SELECT '{table}' AS table_name, '{col}' AS column_name,
  '{spark_type}' AS spark_type, count(*) AS n_rows,
  CAST({distinct} AS BIGINT) AS n_distinct,
  CAST({n_json} AS BIGINT) AS n_json,
  {str(is_key).lower()} AS is_key_name
FROM {table}"""


_SPARK_TYPES = {
    ("lineitem", "l_orderkey"): "bigint", ("lineitem", "l_partkey"): "bigint",
    ("lineitem", "l_suppkey"): "bigint", ("lineitem", "l_linenumber"): "int",
    ("lineitem", "l_quantity"): "double", ("lineitem", "l_extendedprice"): "double",
    ("lineitem", "l_discount"): "double", ("lineitem", "l_tax"): "double",
    ("lineitem", "l_returnflag"): "string", ("lineitem", "l_linestatus"): "string",
    ("lineitem", "l_shipdate"): "timestamp",
    ("documents", "doc_id"): "bigint", ("documents", "text"): "string",
    ("documents", "lang"): "string", ("documents", "source"): "string",
    ("documents", "n_chars"): "bigint",
    ("embeddings", "vec_id"): "bigint", ("embeddings", "embedding"): "array<float>",
    ("embeddings", "label"): "int",
}


def _schema_infer_oracle() -> str:
    selects = []
    for t, c in _CAT_ORACLE_PIECES:
        st = _SPARK_TYPES[(t, c)]
        is_key = c.endswith("key") or c.endswith("_id") or c == "doc_id"
        selects.append(_stats_select(t, c, st, is_key))
    union = "\nUNION ALL\n".join(selects)
    ratio = "n_distinct / CAST(n_rows AS DOUBLE)"
    is_cat = f"(n_distinct <= {CATEGORICAL_MAX_DISTINCT} AND {ratio} <= {CATEGORICAL_MAX_DISTINCT_RATIO})"
    cls = f"""CASE
  WHEN spark_type = 'timestamp' THEN 'timestamp'
  WHEN spark_type LIKE 'array%' THEN 'vector'
  WHEN spark_type = 'string' AND n_json = n_rows THEN 'json'
  WHEN spark_type = 'string' AND {is_cat} THEN 'categorical'
  WHEN spark_type = 'string' THEN 'text'
  WHEN spark_type IN ('bigint','int') AND is_key_name THEN 'identifier'
  WHEN spark_type IN ('bigint','int') AND {is_cat} THEN 'numeric_discrete'
  WHEN spark_type IN ('bigint','int') THEN 'identifier'
  ELSE 'numeric_continuous' END"""
    strat = """CASE inferred_class
  WHEN 'timestamp' THEN 'epoch_bucket'
  WHEN 'vector' THEN 'lsh_bucket'
  WHEN 'json' THEN 'json_extract'
  WHEN 'categorical' THEN 'dict_encode'
  WHEN 'text' THEN 'fingerprint'
  WHEN 'identifier' THEN 'passthrough'
  WHEN 'numeric_discrete' THEN 'dict_encode'
  ELSE 'quantile_bin' END"""
    return f"""
WITH stats AS (
{union}
), classed AS (
  SELECT *, {cls} AS inferred_class FROM stats
)
SELECT table_name, column_name, spark_type, n_rows, n_distinct, n_json,
  inferred_class, {strat} AS strategy
FROM classed
"""


#: the routed lineitem output, mirrored: passthrough identifiers,
#: dense_rank codes (1-based, as Spark emits them), trunc-toward-zero
#: epoch-day buckets (DuckDB CAST(double AS INT) ROUNDS, Spark's cast
#: truncates — trunc() pins them to agree), and exact-percentile bins
#: with the same 6dp-round + dedupe + interior-count semantics as the
#: quantile_bin_exact_boundaries oracle.
_AUTO_TOKENIZE_LINEITEM_ORACLE = boundary_bin_oracle(
    LINEITEM_MEASURES,
    """t.l_orderkey, t.l_partkey, t.l_suppkey,
  CAST(dense_rank() OVER (ORDER BY t.l_linenumber) AS INTEGER) AS l_linenumber_code,
  CAST(dense_rank() OVER (ORDER BY t.l_returnflag) AS INTEGER) AS l_returnflag_code,
  CAST(dense_rank() OVER (ORDER BY t.l_linestatus) AS INTEGER) AS l_linestatus_code,
  CAST(trunc(epoch_us(t.l_shipdate) / 86400000000.0) AS INTEGER) AS l_shipdate_daybucket""",
)


#: partition-advisor cardinality bands (rows-per-value reasoning:
#: a partition column should create FEW, LARGE directories; a bucket/
#: sort key wants high cardinality)
ADVISOR_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_linenumber",
    "l_suppkey",
    "l_partkey",
    "l_orderkey",
)


def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisor over lineitem — the 'Auto' capability pointed at
    PHYSICAL layout: for each candidate column, exact NDV, null ppm,
    and a deterministic recommendation band — `partition` (2..100
    values: few large directories, prunable), `bucket` (101..10000:
    too many dirs, right for bucketing/z-order), `sort_within` (>
    10000: only useful as a file-internal sort key). The heuristic a
    data engineer applies before writing a 100 TB table, as a query.

    Every column's stats come from one _value_counts plan: ndv is the
    count of non-null values, n_null the rows of the null value."""
    li = load_table(spark, sf_dir, "lineitem").select(*ADVISOR_COLS)
    tall = _value_counts(li).groupBy("i").agg(
        F.sum("n").alias("n_rows"),
        F.count("v").alias("ndv"),
        F.sum(F.when(F.col("v").isNull(), F.col("n")).otherwise(0)).alias("n_null"),
    )
    rec = (
        F.when(F.col("ndv") <= 1, F.lit("constant"))
        .when(F.col("ndv") <= 100, F.lit("partition"))
        .when(F.col("ndv") <= 10000, F.lit("bucket"))
        .otherwise(F.lit("sort_within"))
    )
    return tall.select(
        F.element_at(F.array(*map(F.lit, ADVISOR_COLS)), F.col("i") + 1)
        .alias("column_name"),
        "ndv",
        F.expr("n_null * 1000000L div n_rows").alias("null_ppm"),
        F.expr("n_rows div ndv").alias("rows_per_value"),
        rec.alias("recommendation"),
    )


_ADVISOR_ORACLE_PARTS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
  CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
  CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 1000000
       // count(*) AS BIGINT) AS null_ppm,
  CAST(count(*) // count(DISTINCT {c}) AS BIGINT) AS rows_per_value,
  CASE WHEN count(DISTINCT {c}) <= 1 THEN 'constant'
       WHEN count(DISTINCT {c}) <= 100 THEN 'partition'
       WHEN count(DISTINCT {c}) <= 10000 THEN 'bucket'
       ELSE 'sort_within' END AS recommendation
FROM lineitem"""
    for c in ADVISOR_COLS
)


RARE_LEVEL_MIN = 90  # levels below this count collapse to OTHER


def q_rare_level_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-level collapsing for categorical features: part brands with
    fewer than RARE_LEVEL_MIN rows recode to 'OTHER' — the cardinality
    control that keeps one-hot/dict encodings bounded when a category's
    tail is endless (the companion to categorical_encode). One groupBy
    builds the level-frequency table (broadcast back); the recode is a
    map-side join — the fit/transform split again. Output: per FINAL
    level, row count and distinct original levels absorbed."""
    part = load_table(spark, sf_dir, "part")
    freq = part.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    recoded = part.join(F.broadcast(freq), "p_brand").select(
        "p_partkey",
        "p_brand",
        F.when(F.col("n") >= RARE_LEVEL_MIN, F.col("p_brand"))
        .otherwise(F.lit("OTHER"))
        .alias("brand_final"),
    )
    return recoded.groupBy("brand_final").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("p_brand").alias("n_source_levels"),
    )


_RARE_ORACLE = f"""
WITH freq AS (
  SELECT p_brand, count(*) AS n FROM part GROUP BY 1
), recoded AS (
  SELECT p.p_partkey, p.p_brand,
    CASE WHEN f.n >= {RARE_LEVEL_MIN} THEN p.p_brand
         ELSE 'OTHER' END AS brand_final
  FROM part p JOIN freq f USING (p_brand)
)
SELECT brand_final, count(*) AS n_rows,
  count(DISTINCT p_brand) AS n_source_levels
FROM recoded GROUP BY 1
"""


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each customer's market segment
    encoded as the mean balance of the OTHER customers in the segment —
    (Σ − own) div (n − 1) in exact cents. LOO is the standard leakage
    guard for target encoding (plain category means teach the model its
    own label); the integer form makes the encoding deterministic and
    oracle-exact. One groupBy for per-segment (Σ, n), broadcast back,
    map-only arithmetic — fit/transform shape. The numerator Σ − own is
    provably positive here (segment sums ≈ 1.4e9 cents vs |own| ≤ 1e5),
    so Spark's truncating `div` and the oracle's flooring `//` agree;
    a target whose group sums can go negative routes through the
    offset-shift trick instead."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    seg = cust.groupBy("c_mktsegment").agg(
        F.sum("cents").alias("seg_sum"),
        F.count(F.lit(1)).alias("seg_n"),
    )
    return cust.join(F.broadcast(seg), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        "cents",
        F.when(
            F.col("seg_n") > 1,
            F.expr("(seg_sum - cents) div (seg_n - 1)"),
        ).alias("loo_mean_cents"),
    )


_LOO_ORACLE = """
WITH cust AS (
  SELECT c_custkey, c_mktsegment,
    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), seg AS (
  SELECT c_mktsegment, CAST(sum(cents) AS BIGINT) AS seg_sum,
    count(*) AS seg_n
  FROM cust GROUP BY 1
)
SELECT c.c_custkey, c.c_mktsegment, c.cents,
  CASE WHEN s.seg_n > 1
       THEN CAST((s.seg_sum - c.cents) // (s.seg_n - 1) AS BIGINT)
  END AS loo_mean_cents
FROM cust c JOIN seg s USING (c_mktsegment)
"""


QUERIES = {
    "partition_advisor": q_partition_advisor,
    "rare_level_collapse": q_rare_level_collapse,
    "target_encode_loo": q_target_encode_loo,
    "schema_infer": q_schema_infer,
    "categorical_encode": q_categorical_encode,
    "auto_tokenize_lineitem": q_auto_tokenize_lineitem,
}

ORACLES = {
    "partition_advisor": _ADVISOR_ORACLE_PARTS,
    "rare_level_collapse": _RARE_ORACLE,
    "target_encode_loo": _LOO_ORACLE,
    "schema_infer": _schema_infer_oracle(),
    "auto_tokenize_lineitem": _AUTO_TOKENIZE_LINEITEM_ORACLE,
    "categorical_encode": """
WITH v1 AS (
  SELECT value, CAST(row_number() OVER (ORDER BY value) - 1 AS INTEGER) AS code
  FROM (SELECT DISTINCT l_returnflag AS value FROM lineitem)
), v2 AS (
  SELECT value, CAST(row_number() OVER (ORDER BY value) - 1 AS INTEGER) AS code
  FROM (SELECT DISTINCT l_linestatus AS value FROM lineitem)
)
SELECT l_orderkey, l_linenumber,
  l_returnflag, v1.code AS l_returnflag_code,
  l_linestatus, v2.code AS l_linestatus_code
FROM lineitem
JOIN v1 ON l_returnflag = v1.value
JOIN v2 ON l_linestatus = v2.value
""",
}
