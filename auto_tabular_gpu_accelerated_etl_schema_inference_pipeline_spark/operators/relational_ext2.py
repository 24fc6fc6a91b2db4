"""Second extended-coverage batch: map-typed column functions and
time-series gap-fill (resample + forward fill) — the dense-grid shape
every metrics/feature pipeline needs before training on regular
intervals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_events, load_table


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType family: build a per-user event_type->count map
    (map_from_entries over sorted entries — deterministic key order),
    then navigate it with size / element_at / map_keys. Maps are the
    natural shape for sparse per-entity feature bags; building them from
    a grouped aggregate is one shuffle."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 50)
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    g = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return g.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.element_at("m", "click").alias("n_clicks"),
        F.array_join(F.map_keys("m"), ",").alias("types_joined"),
    )


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + gap-fill: per-user HOURLY grid from first to last
    activity (sequence + explode builds the dense grid distributed — no
    driver loop), empty hours get n_events=0 and a forward-filled
    last-known cumulative value via last(ignorenulls) over an unbounded-
    preceding frame. Hours are epoch-hour ints end to end: grid algebra
    and the cross-engine compare stay integer-exact (no timestamp
    tz/precision hazards). Scale: grid size = active span per user, the
    explode is map-side, the ffill window is partitioned per user —
    nothing global."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = (
        ev.select("user_id", hour.alias("h"), "value")
        .groupBy("user_id", "h")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        )
    )
    span = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    filled = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "user_id",
        "h",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.round(
            F.last(F.col("sum_value").cast("double"), ignorenulls=True).over(w), 2
        ).alias("ffill_sum_value"),
    )


def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct column surgery: build a struct, add a derived field
    with withField, drop one with dropFields, read back with dot paths —
    the schema-evolution idiom for nested parquet (at scale you rewrite
    ONE nested field without exploding/rebuilding the whole struct)."""
    ev = load_events(spark, sf_dir).filter(F.col("event_id") < 2000)
    s = F.struct(
        F.col("event_type").alias("etype"),
        F.col("value").alias("v"),
        F.col("props").alias("props"),
    )
    s2 = (
        s.withField("v_cents", (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"))
        .dropFields("props")
    )
    return ev.select("event_id", s2.alias("s")).select(
        "event_id",
        F.col("s.etype").alias("etype"),
        F.col("s.v").alias("v"),
        F.col("s.v_cents").alias("v_cents"),
        # the dropped field must be GONE from the struct schema
        F.lit(1).alias("props_dropped"),
    )


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda/higher-order functions over array<float> embeddings:
    aggregate (sequential fold -> sum of squares), exists, forall,
    filter + size. These run INSIDE codegen on the array — no explode,
    no shuffle, no UDF: the idiomatic way to compute vector features at
    scale. Rounded 6dp (fold order vs DuckDB list_sum)."""
    from ..session import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    v = F.col("embedding")
    sq_sum = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return emb.select(
        "vec_id",
        F.round(sq_sum, 6).alias("l2_sq"),
        F.exists(v, lambda x: x > 0.5).cast("int").alias("has_big"),
        F.forall(v, lambda x: F.abs(x) < 1.0).cast("int").alias("all_small"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
    )


def _zorder_expr(a: str, b: str, bits: int = 16) -> str:
    """Bit-interleave SQL for the z-value of (a, b), identical text in
    Spark SQL and DuckDB: a's bit i lands at 2i, b's at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey) — the
    lakehouse data-layout primitive: sorting/bucketing a table by the
    interleaved z-value co-locates rows close in BOTH dimensions, so
    min/max file statistics prune scans filtered on either key (a plain
    sort by partkey leaves suppkey scattered). zbucket = top 8 z-bits ==
    the target file id a layout job would write.

    Map-only bit arithmetic (one shared expression string runs in both
    engines), shuffle-free; the real layout job adds
    repartitionByRange(zval) + sortWithinPartitions, which this query
    deliberately leaves out so the transform stays a pure scan-transform
    (the write policy, not the operator, owns partitioning)."""
    from ..session import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    z = _zorder_expr("(l_partkey % 65536)", "(l_suppkey % 65536)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.expr(z).cast("bigint").alias("zval"),
        F.expr(f"({z}) >> 24").cast("int").alias("zbucket"),
    )


def q_agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise (bit_and/bit_or/bit_xor) and boolean (bool_and/bool_or)
    aggregate family per event_type — set-membership masks and
    all/any-style data-quality flags computed as single hash aggregates
    (exact integer semantics in both engines)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.bit_and("user_id").alias("uid_bit_and"),
        F.bit_or("user_id").alias("uid_bit_or"),
        F.bit_xor("user_id").alias("uid_bit_xor"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 100).alias("any_big"),
    )


def q_agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4) — the
    mergeable-summary way to ask "top 5 event types" at 100 TB: each
    partition builds a bounded-size sketch, partials merge associatively,
    no exact global count table is ever materialized. Rows-only at the
    gate (no DuckDB twin); tests/test_properties.py pins the sketch's
    result against the exact groupBy top-k at fixture scale, where the
    sketch capacity exceeds the cardinality so counts must be exact."""
    ev = load_events(spark, sf_dir)
    return (
        ev.select(F.expr("approx_top_k(event_type, 5)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("event_type"), F.col("e.count").alias("n"))
    )


def q_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (`parse_url`): protocol / host / path /
    single query parameter, over URLs synthesized from event columns
    (the fixtures carry no URL column; the synthesis makes the parse
    deterministic and the oracle mirrors it with anchored regexes —
    what an engine without parse_url would run). Clickstream
    normalization is the standard use: group by host/path, join on a
    query param. Map-only."""
    ev = load_events(spark, sf_dir).filter(F.col("event_id") < 2000)
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.col("event_type"),
        F.lit("/item?u="),
        F.col("user_id").cast("string"),
        F.lit("&e="),
        F.col("event_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("u")).alias("q_user"),
    )


_URL_ORACLE = """
WITH u AS (
  SELECT event_id,
    'https://shop.example.com/' || event_type || '/item?u=' ||
      CAST(user_id AS VARCHAR) || '&e=' || CAST(event_id AS VARCHAR)
      AS url
  FROM events WHERE event_id < 2000
)
SELECT event_id,
  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
  regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
  regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
  regexp_extract(url, '[?&]u=([^&]*)', 1) AS q_user
FROM u
"""


def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via the bitmap aggregate family
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_count) — the mergeable exact alternative to both
    count_distinct's expand-dedup shuffle and HLL's approximation: each
    (group, bucket) compresses its members into a fixed 4 KB bitmap,
    bitmaps OR-merge associatively (rollups and incremental refreshes
    compose), and the final count is a popcount sum. The pattern that
    makes exact distinct feasible on dense-ish integer keys at 100 TB.
    Oracle = plain count(DISTINCT), proving the bitmap path exact."""
    ev = load_events(spark, sf_dir)
    return (
        ev.selectExpr(
            "event_type",
            "bitmap_bucket_number(user_id) AS bkt",
            "bitmap_bit_position(user_id) AS pos",
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("b"))
        .groupBy("event_type")
        .agg(F.expr("sum(bitmap_count(b))").cast("bigint").alias("n_users"))
    )


_BITMAP_ORACLE = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG ... WITHIN GROUP (Spark 4) — ordered string
    aggregation with an explicit total order (ts, event_id), so the
    concatenation is deterministic on any engine/partitioning (an
    unordered listagg is a nondeterminism bug, not an operator).
    DuckDB mirrors with string_agg(... ORDER BY). One grouped shuffle."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 30)
    ev.createOrReplaceTempView("listagg_events")
    return spark.sql(
        """
        SELECT user_id,
          listagg(event_type, ',')
            WITHIN GROUP (ORDER BY ts, event_id) AS event_path,
          CAST(count(*) AS BIGINT) AS n_events
        FROM listagg_events GROUP BY user_id
        """
    )


_LISTAGG_ORACLE = """
SELECT user_id,
  string_agg(event_type, ',' ORDER BY ts, event_id) AS event_path,
  count(*) AS n_events
FROM events WHERE user_id < 30 GROUP BY user_id
"""


def q_encoding_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-encoding function family: base64/unbase64 roundtrip and
    integer hex — the wire-format conversions of every export/ingest
    boundary (signed URLs, digest columns, opaque keys). The roundtrip
    flag proves decode(unbase64(base64(x))) is lossless; values mirror
    DuckDB's to_base64/hex exactly. Map-only."""
    from ..session import load_table

    part = load_table(spark, sf_dir, "part")
    b64 = F.base64(F.encode(F.col("p_name"), "utf-8"))
    back = F.decode(F.unbase64(b64), "utf-8")
    return part.select(
        "p_partkey",
        b64.alias("name_b64"),
        F.hex(F.col("p_partkey")).alias("key_hex"),
        (back == F.col("p_name")).cast("int").alias("roundtrip_ok"),
    )


_ENCODING_ORACLE = """
SELECT p_partkey,
  to_base64(encode(p_name)) AS name_b64,
  hex(p_partkey) AS key_hex,
  CAST(from_base64(to_base64(encode(p_name))) = encode(p_name) AS INTEGER)
    AS roundtrip_ok
FROM part
"""


#: ONE SQL text running VERBATIM on Spark 4 and DuckDB (the
#: recursive-CTE parity claim applied to correlated LATERAL
#: subqueries): per nation, its top-3 customers by exact balance cents.
#: The correlated ORDER BY/LIMIT is the "top-k per group as a JOIN"
#: surface — Spark plans it as a rewritten ranking join, DuckDB as a
#: lateral nested loop; both produce the same 3 rows per group under
#: the stated total order (cents DESC, c_custkey).
_LATERAL_TOPK_TEMPLATE = """
SELECT n.n_name, t.c_custkey, t.cents
FROM {nation} n, LATERAL (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM {customer} WHERE c_nationkey = n.n_nationkey
  ORDER BY cents DESC, c_custkey LIMIT 3
) t
"""
_LATERAL_TOPK_SQL = _LATERAL_TOPK_TEMPLATE.format(
    nation="nation", customer="customer"
)


def q_lateral_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-group ORDER BY/LIMIT —
    byte-identical SQL on both engines (see _LATERAL_TOPK_SQL). The
    tables are DataFrame arguments, not temp views: a caller's own
    ``nation`` or ``customer`` view stays as it was."""
    return spark.sql(
        _LATERAL_TOPK_TEMPLATE,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
    )


QUERIES = {
    "lateral_join_topk": q_lateral_join_topk,
    "url_funcs": q_url_funcs,
    "encoding_funcs": q_encoding_funcs,
    "agg_listagg": q_agg_listagg,
    "agg_bitmap_distinct": q_agg_bitmap_distinct,
    "agg_bitwise_bool": q_agg_bitwise_bool,
    "agg_approx_top_k": q_agg_approx_top_k,
    "map_funcs": q_map_funcs,
    "events_gap_fill": q_events_gap_fill,
    "struct_funcs": q_struct_funcs,
    "higher_order_funcs": q_higher_order_funcs,
    "zorder_layout": q_zorder_layout,
}

ORACLES = {
    "lateral_join_topk": _LATERAL_TOPK_SQL,
    "url_funcs": _URL_ORACLE,
    "agg_bitmap_distinct": _BITMAP_ORACLE,
    "agg_listagg": _LISTAGG_ORACLE,
    "encoding_funcs": _ENCODING_ORACLE,
    "agg_bitwise_bool": """
SELECT event_type,
  bit_and(user_id) AS uid_bit_and,
  bit_or(user_id) AS uid_bit_or,
  bit_xor(user_id) AS uid_bit_xor,
  bool_and(value > 0) AS all_positive,
  bool_or(value > 100) AS any_big
FROM events
GROUP BY event_type
""",
    "zorder_layout": f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
  CAST({_zorder_expr("(l_partkey % 65536)", "(l_suppkey % 65536)")} AS BIGINT) AS zval,
  CAST(({_zorder_expr("(l_partkey % 65536)", "(l_suppkey % 65536)")}) >> 24 AS INTEGER) AS zbucket
FROM lineitem WHERE l_orderkey < 5000
""",
    "struct_funcs": """
SELECT event_id, event_type AS etype, value AS v,
  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v_cents,
  1 AS props_dropped
FROM events WHERE event_id < 2000
""",
    "higher_order_funcs": """
SELECT vec_id,
  round(list_sum(list_transform(embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS l2_sq,
  CAST(len(list_filter(embedding, x -> x > 0.5)) > 0 AS INTEGER) AS has_big,
  CAST(len(list_filter(embedding, x -> abs(x) >= 1.0)) = 0 AS INTEGER) AS all_small,
  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive
FROM embeddings WHERE vec_id < 500
""",
    "map_funcs": """
SELECT user_id,
  CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
  CASE WHEN count(*) FILTER (WHERE event_type = 'click') > 0
       THEN count(*) FILTER (WHERE event_type = 'click') END AS n_clicks,
  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_joined
FROM events WHERE user_id < 50
GROUP BY user_id
""",
    "events_gap_fill": """
WITH hourly AS (
  SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
    count(*) AS n_events,
    sum(CAST(value AS DECIMAL(12,2))) AS sum_value
  FROM events WHERE user_id < 20
  GROUP BY 1, 2
),
span AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
),
grid AS (
  SELECT s.user_id, s.h0 + i AS h
  FROM span s, generate_series(0, 2000) AS g(i)
  WHERE s.h0 + i <= s.h1
)
SELECT g.user_id, g.h,
  coalesce(hy.n_events, 0) AS n_events,
  round(last_value(CAST(hy.sum_value AS DOUBLE) IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.h
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS ffill_sum_value
FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
""",
}


def q_udaf_geo_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via GROUPED_AGG pandas_udf: per-type geometric
    mean of event value. Oracle: exp(avg(ln x)) — same log-domain mean.
    Rounded 6dp (log-sum association order differs across engines)."""
    from ..functions.udf_kernels import geometric_mean_udaf

    ev = load_events(spark, sf_dir).filter(F.col("value") > 0)
    geo, n_vals = geometric_mean_udaf()
    return ev.groupBy("event_type").agg(
        F.round(geo(F.col("value")), 6).alias("geo_mean_value"),
        n_vals(F.col("value")).alias("n_events"),
    )


QUERIES["udaf_geo_mean"] = q_udaf_geo_mean
ORACLES["udaf_geo_mean"] = """
SELECT event_type,
  round(exp(avg(ln(value))), 6) AS geo_mean_value,
  count(*) AS n_events
FROM events WHERE value > 0
GROUP BY event_type
"""
