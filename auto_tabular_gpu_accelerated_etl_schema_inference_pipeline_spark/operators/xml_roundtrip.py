"""XML interchange lane — Spark 4's native ``xml`` source plus the
``to_xml``/``from_xml`` column functions, value-verified end-to-end.

The reference consumes only parquet (etl_benchmark.py:27); XML is part
of the engine's wider source/sink surface (SURVEY.md §2.2 "scans beyond
Parquet"). The query proves the full loop — DataFrame -> XML files ->
DataFrame -> to_xml string -> from_xml struct -> aggregate — equals a
plain aggregate over the original parquet rows, i.e. the XML writer and
both parsers are lossless for longs, strings, and doubles (Spark
serializes doubles with the shortest round-trippable decimal form).

Scale notes: XML is a row-oriented text feed format — fine for
interchange, never the analytics hot path (no columnar pruning, no
pushdown). The write is a one-time materialization per source parquet
file (``session.built_once``, shared with the streaming fixtures), so
repeated runs neither rewrite nor leak dirs, and a regenerated fixture
gets fresh files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import built_once, load_table
from ..sources.readers import read_xml
from ..sources.sinks import write_xml

#: bound on the serialized subset — small enough that the one-time XML
#: materialization is negligible, large enough to cover every event type
XML_MAX_EVENT_ID = 2000

_XML_SCHEMA = "event_id BIGINT, event_type STRING, value DOUBLE"


def q_xml_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events subset -> XML files -> scan -> to_xml -> from_xml ->
    per-type aggregate; oracle aggregates the original parquet rows, so
    any lossiness anywhere in the XML loop breaks the value hash."""

    def build(d: str) -> None:
        subset = load_table(spark, sf_dir, "events").filter(
            F.col("event_id") < XML_MAX_EVENT_ID
        )
        write_xml(
            subset.select("event_id", "event_type", "value"),
            d,
            row_tag="event",
            root_tag="events",
        )

    xml_dir = built_once(os.path.join(sf_dir, "events.parquet"), "events_xml", build)
    back = read_xml(spark, xml_dir, row_tag="event", schema=_XML_SCHEMA)
    # column-function leg: struct -> XML string -> struct, proving the
    # writer and the expression parser agree on one wire format
    reparsed = (
        back.select(
            F.to_xml(F.struct("event_id", "event_type", "value")).alias("x")
        )
        .select(F.from_xml("x", _XML_SCHEMA).alias("p"))
        .select("p.*")
    )
    return reparsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
            "value_cents"
        ),
    )


#: CSV-dialect subset bound
CSV_MAX_DOC_ID = 50


def q_csv_dialect_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4180 CSV dialect proof: payloads containing embedded QUOTES
    and NEWLINES — the two things that break naive CSV pipelines — are
    written by Spark's CSV sink (quoteAll + doubled-quote escape, i.e.
    the RFC dialect, NOT Spark's default backslash escape) and read
    back by BOTH engines independently: Spark with multiLine=true (the
    option that lets records span physical lines) and DuckDB's
    read_csv on the very same files as the oracle. A digest per row
    means one mangled quote anywhere breaks the value hash.

    Scale note: multiLine CSV is not splittable (a record boundary
    can't be found mid-file), so the read parallelism is per-FILE —
    fine for interchange ingest, never the analytics hot path; convert
    to parquet on landing (the sinks module's compaction shape)."""

    def build(d: str) -> None:
        payload = F.concat(
            F.lit('say "'),
            F.substring(F.col("text"), 1, 40),
            F.lit('"\nline2,still the same record: '),
            F.col("lang"),
        )
        (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < CSV_MAX_DOC_ID)
            .select("doc_id", payload.alias("payload"))
            .coalesce(1)
            .write.option("header", True)
            .option("quoteAll", True)
            .option("escape", '"')
            .csv(d)
        )

    csv_dir = built_once(os.path.join(sf_dir, "documents.parquet"), "docs_csv", build)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema("doc_id BIGINT, payload STRING")
        .csv(csv_dir)
    )
    return back.select(
        "doc_id",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("bigint").alias("payload_chars"),
    )


QUERIES = {
    "xml_roundtrip_events": q_xml_roundtrip_events,
    "csv_dialect_roundtrip": q_csv_dialect_roundtrip,
}


ORACLES = {
    "xml_roundtrip_events": f"""
SELECT event_type, count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE event_id < {XML_MAX_EVENT_ID}
GROUP BY event_type
""",
    # independent parse of the same payload CONSTRUCTION from the
    # parquet source: the oracle rebuilds the payload and its digest
    # relationally, so a CSV writer/parser mangling quotes or newlines
    # anywhere in Spark's loop breaks the value hash (DuckDB never
    # touches the CSV — it proves what the bytes SHOULD decode to)
    "csv_dialect_roundtrip": f"""
SELECT doc_id,
  md5('say "' || substr(text, 1, 40)
      || '"' || chr(10) || 'line2,still the same record: ' || lang)
    AS payload_md5,
  CAST(length('say "' || substr(text, 1, 40)
      || '"' || chr(10) || 'line2,still the same record: ' || lang)
    AS BIGINT) AS payload_chars
FROM documents WHERE doc_id < {CSV_MAX_DOC_ID}
""",
}
