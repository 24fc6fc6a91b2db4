"""VARIANT semi-structured analytics (Spark 4's open binary JSON type).

The reference has no semi-structured path at all (SURVEY.md §2.2
array/map/json row). ``q_json_extract_events`` covers the classic
string-JSON lane (get_json_object re-parses the string per access);
this module covers the modern one: ``parse_json`` decodes once into
VARIANT's binary encoding, then ``variant_get`` navigates it without
re-parsing — at 100 TB the difference is one JSON parse per access vs
one per row, and Parquet-backed variant columns support shredded reads
(typed subcolumns with pushdown). Semantics are oracle-checked against
DuckDB's native JSON reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_events


def q_variant_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode props into VARIANT once, extract ``$.k`` typed, and compute
    per-type stats over the k >= 50 slice (distinct shape from the
    string-lane query: filter AFTER typed extraction, plus min/max)."""
    ev = load_events(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


QUERIES = {
    "variant_extract_events": q_variant_extract_events,
}

ORACLES = {
    "variant_extract_events": """
WITH kv AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type,
  count(*) AS n_events,
  CAST(sum(k) AS BIGINT) AS sum_k,
  CAST(min(k) AS INTEGER) AS min_k,
  CAST(max(k) AS INTEGER) AS max_k
FROM kv WHERE k >= 50
GROUP BY event_type
""",
}
