"""PySpark-native analytics engine with the capabilities of the reference
``abcdemi/Auto-Tabular-GPU-Accelerated-ETL-Schema-Inference-Pipeline``
(quantile-bin "tabular tokenization" of numeric tables — see
``/root/reference/etl_benchmark.py``), re-expressed Spark-first and extended
with the LLM-data-pipeline operators a 100 TB training-data pipeline needs:
schema inference, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search, text analysis, and multimodal-column
plumbing.

Design principles (SURVEY.md §7):
- DataFrame/SQL first; Catalyst optimizes declaratively-expressed plans.
- Exact, oracle-matchable variants (window ``ntile``) alongside the
  scalable lane (a ``percentile_approx`` fit + a JVM ``Bucketizer``
  transform); the caller picks the lane, nothing selects one by size.
- Python only at Arrow-batch granularity (pandas_udf / mapInPandas);
  never row-at-a-time UDFs in the hot path.
"""

__version__ = "0.1.0"

from .session import get_spark, load_table, TABLES  # noqa: F401
