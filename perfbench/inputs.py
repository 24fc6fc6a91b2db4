"""Seeded input generation. The same seed gives the same input bytes; the
engine only ever sees the files written here.

- ``write_table``: the reference's 20 standard-normal float columns plus an
  id key, a 12-level string, a 5-level int and a timestamp, through the
  engine's own generator and sink, one hive partition per serving batch.
  ``num_partitions`` is pinned: ``randn`` derives each task's stream from
  (seed, partition index).
- ``write_corpus``: documents with the fixture's schema (doc_id, text, lang,
  source, n_chars), with planted exact duplicates, near-duplicate families
  and low-quality documents, written with pyarrow.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FLOAT_COLS = 20
FLOAT_COLS = [f"col_{i}" for i in range(N_FLOAT_COLS)]
#: partitions of every generated table; fixed so the bytes do not depend
#: on the host's core count
TABLE_PARTITIONS = 8
CORPUS_FILES = 8


def write_table(spark, path: str, rows: int, seed: int, batches: int) -> None:
    """Row ``id`` goes to the hive partition ``batch=id % batches``: one
    directory per serving batch."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources import (
        generator,
        sinks,
    )

    base = generator.generate_normal_table(
        spark, rows, N_FLOAT_COLS, seed, num_partitions=TABLE_PARTITIONS, include_id=True
    )
    def pick(salt: int, n: int):
        return F.pmod(F.xxhash64("id", F.lit(seed), F.lit(salt)), F.lit(n))

    df = base.select(
        "id",
        *FLOAT_COLS,
        F.concat(F.lit("seg_"), pick(1, 12).cast("string")).alias("segment"),
        (pick(2, 5) + 1).cast("int").alias("grade"),
        F.timestamp_seconds(F.lit(1_600_000_000) + pick(3, 365 * 86_400)).alias("event_ts"),
    )
    df = df.withColumn("batch", F.pmod(F.col("id"), F.lit(batches)))
    sinks.write_parquet(df, path, partition_by=["batch"])


def digest(path: str, key: str) -> str:
    """sha256 of a parquet directory's rows in ``key`` order, independent
    of file names and of how rows are split between files."""
    table = pq.read_table(path).replace_schema_metadata(None)
    table = table.sort_by(key).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


LANGS = ["en", "fr", "de", "es"]
SOURCES = ["web", "books", "wiki", "news", "code"]
_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def write_corpus(path: str, docs: int, seed: int) -> None:
    """``docs`` documents: ~70% unique, ~10% exact duplicates of another
    document up to case and surrounding spaces, ~15% members of
    near-duplicate families (a document and copies of it with one token
    swapped), ~5% too short or too repetitive for the quality gate."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 6000)
    cdf = np.cumsum(1.0 / (np.arange(len(vocab)) + 20.0))
    cdf /= cdf[-1]

    def fresh() -> list[str]:
        n = int(rng.integers(30, 90))
        words = list(vocab[np.searchsorted(cdf, rng.random(n))])
        for i in np.flatnonzero(rng.random(n) < 0.15):
            words[i] = _STOPWORDS[int(rng.integers(len(_STOPWORDS)))]
        return words

    texts: list[str] = []
    while len(texts) < docs:
        r = rng.random()
        if r < 0.70 or not texts:
            texts.append(" ".join(fresh()))
        elif r < 0.80:
            src = texts[int(rng.integers(len(texts)))]
            texts.append(("  " + src.upper()) if rng.random() < 0.5 else (src + "   "))
        elif r < 0.95:
            base = fresh()
            texts.append(" ".join(base))
            for _ in range(int(rng.integers(2, 12))):
                member = list(base)
                member[int(rng.integers(len(member)))] = vocab[int(rng.integers(len(vocab)))]
                texts.append(" ".join(member))
        elif r < 0.975:
            texts.append(" ".join(fresh()[: int(rng.integers(3, 15))]))
        else:
            texts.append(" ".join(list(vocab[rng.integers(0, len(vocab), 3)]) * 15))
    texts = texts[:docs]
    order = rng.permutation(docs)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array([texts[i] for i in order]),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), docs)]),
            "source": pa.array([SOURCES[i] for i in rng.integers(0, len(SOURCES), docs)]),
            "n_chars": pa.array([len(texts[i]) for i in order], type=pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    step = -(-docs // CORPUS_FILES)
    for i in range(CORPUS_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def _vocabulary(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 10)))))
    words -= set(_STOPWORDS)
    return np.array(sorted(words))
