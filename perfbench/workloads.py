"""The two workloads. Each has ``setup`` (inputs made from the seed, run
several times per run), ``prepare`` (set-up done once), ``op`` (one timed
unit of work, returning the input rows it consumed), ``check`` (the
indices of ops whose outputs are wrong) and ``out_bytes_per_in_byte``.

- ``auto_tokenize_serve``: set-up runs the paper's bulk path once,
  read -> infer_column_classes -> auto_tokenize (profiling, sketch fit,
  Bucketizer) -> write, and saves the fitted boundaries. Each op serves
  one small batch: load_boundaries -> read -> auto_tokenize(classes_df,
  boundaries) -> append to one growing table. The same layers per call
  instead of per row; profiling and fit are skipped.
- ``curate_corpus``: prepare_training_data on a document corpus with
  planted duplicates. Shuffle- and expression-heavy dedup; the quantile fit
  is a small part and profiling never runs, so it is the workload on which
  quantile-bin and schema-inference changes should change nothing.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import pipelines
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (
    model,
    quantile_bin,
    schema_infer,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources import (
    readers,
    sinks,
)

from . import inputs

FIT = "quantile_bin.fit_quantile_boundaries"

#: (owner, attribute, span name, keep return values). Each function is
#: replaced where its callers resolve it: auto_tokenize imports from
#: quantile_bin inside its body, while model and pipelines bind their
#: imports at module load.
LAYERS = [
    (readers, "read_parquet", "readers.read_parquet", False),
    (sinks, "write_parquet", "sinks.write_parquet", False),
    (schema_infer, "infer_column_classes", "schema_infer.infer_column_classes", False),
    (schema_infer, "auto_tokenize", "schema_infer.auto_tokenize", False),
    (quantile_bin, "fit_quantile_boundaries", FIT, True),
    (quantile_bin, "bucketize", "quantile_bin.bucketize", False),
    (quantile_bin, "load_boundaries", "quantile_bin.load_boundaries", False),
    (model, "fit_quantile_boundaries", FIT, True),
    (model, "bucketize", "quantile_bin.bucketize", False),
    (model.QuantileBinModel, "fit", "model.QuantileBinModel.fit", False),
    (pipelines, "minhash_near_dup_drop_ids", "dedup.minhash_near_dup_drop_ids", False),
    (pipelines, "prepare_training_data", "pipelines.prepare_training_data", False),
]
LAYER_NAMES = list(dict.fromkeys(name for *_, name, _ in LAYERS))


def _interior(bounds) -> np.ndarray:
    """The interior split points bucketize applies: endpoints dropped,
    duplicates merged, -0.0 read as 0.0."""
    return np.unique(np.asarray(bounds[1:-1], dtype=np.float64) + 0.0)


def _bins_match(table, bounds: dict) -> bool:
    return all(
        np.array_equal(
            table.column(f"{c}_bin").to_numpy(),
            np.searchsorted(_interior(b), table.column(c).to_numpy(), side="right"),
        )
        for c, b in bounds.items()
    )


class Workload:
    name: str
    #: ops a run makes at least, whatever ``--seconds`` says
    min_ops: int

    def __init__(self, spark, tracer, work: str):
        self.spark, self.tracer, self.work = spark, tracer, work

    def prepare(self) -> bool:
        """Set-up done once per run, after the inputs exist; False when
        its output is wrong."""
        return True


#: percentile_approx's rank error at auto_tokenize's relative_error=0.001 is
#: at most 0.001 * n per boundary, so a bin holds 1% of the rows within two
#: boundaries' error
SHARE_TOL = 2 * 0.001


def tokens_ok(src, out, bounds: dict) -> bool:
    """Checks of a bulk auto_tokenize output ``out`` against its input
    ``src`` (both pyarrow tables) and the boundaries the fit returned:
    one output row per input row, every strategy's column present, every
    bin in [0, 99] holding 1% of the rows within SHARE_TOL, and every bin
    equal to searchsorted(interior, value, side="right")."""
    src, out = src.sort_by("id"), out.sort_by("id")
    expected = {"id", "segment_code", "grade_code", "event_ts_daybucket"} | {
        f"{c}_bin" for c in inputs.FLOAT_COLS
    }
    if not (
        out.num_rows == src.num_rows
        and set(out.column_names) == expected
        and set(bounds) == set(inputs.FLOAT_COLS)
        and np.array_equal(out.column("id").to_numpy(), src.column("id").to_numpy())
    ):
        return False
    for c in inputs.FLOAT_COLS:
        bins = out.column(f"{c}_bin").to_numpy()
        if bins.min() < 0 or bins.max() > 99:
            return False
        share = np.bincount(bins, minlength=100) / out.num_rows
        if np.abs(share - 0.01).max() > SHARE_TOL:
            return False
    joined = src.select(inputs.FLOAT_COLS)
    for c in inputs.FLOAT_COLS:
        joined = joined.append_column(f"{c}_bin", out.column(f"{c}_bin"))
    return _bins_match(joined, bounds)


class Serve(Workload):
    """Set-up runs the bulk path once on the whole pool, the way a model is
    fitted on a training table: read -> infer_column_classes ->
    auto_tokenize (profiling, sketch fit, Bucketizer) -> write, and saves
    the fitted boundaries. Each op then serves one batch with that model."""

    name = "auto_tokenize_serve"
    pool = 4
    batch_rows = 20_000
    min_ops = 4

    def __init__(self, spark, tracer, work):
        super().__init__(spark, tracer, work)
        self.served = os.path.join(work, "served")
        self.model = os.path.join(work, "model")
        self.pool_dir = os.path.join(work, "serve_pool")
        self.train_out = os.path.join(work, "train_tokens")

    def setup(self, seed: int) -> str:
        shutil.rmtree(self.pool_dir, ignore_errors=True)
        inputs.write_table(
            self.spark, self.pool_dir, self.pool * self.batch_rows, seed, batches=self.pool
        )
        self.in_bytes = [
            inputs.dir_bytes(os.path.join(self.pool_dir, f"batch={k}")) for k in range(self.pool)
        ]
        return inputs.digest(self.pool_dir, "id")

    def prepare(self) -> bool:
        spark = self.spark
        train = readers.read_parquet(spark, self.pool_dir).drop("batch")
        self.classes = schema_infer.infer_column_classes(spark, train, "serve")
        tokens = schema_infer.auto_tokenize(spark, train, "serve", classes_df=self.classes)
        sinks.write_parquet(tokens, self.train_out)
        (bounds,) = self.tracer.captured.pop(FIT)
        quantile_bin.save_boundaries(spark, bounds, self.model)
        src = pq.read_table(self.pool_dir).drop_columns(["batch"])
        return tokens_ok(src, pq.read_table(self.train_out), bounds)

    def op(self, i: int) -> int:
        spark = self.spark
        bounds = quantile_bin.load_boundaries(spark, self.model)
        df = readers.read_parquet(spark, os.path.join(self.pool_dir, f"batch={i % self.pool}"))
        out = schema_infer.auto_tokenize(
            spark, df, "serve", classes_df=self.classes, boundaries=bounds
        )
        sinks.write_parquet(out, self.served, mode="append")
        return self.batch_rows

    def check(self, ops: list[int]) -> list[int]:
        if self.tracer.captured.get(FIT):  # serving must never refit
            return list(ops)
        m = pq.read_table(self.model).to_pydict()
        bounds: dict[str, dict[int, float]] = {}
        for c, idx, v in zip(m["col"], m["idx"], m["value"]):
            bounds.setdefault(c, {})[idx] = v
        bounds = {c: [d[k] for k in sorted(d)] for c, d in bounds.items()}
        src = pq.read_table(self.pool_dir).sort_by("id")
        ids = src.column("id").to_numpy()
        out = pq.read_table(self.served)
        pos = np.searchsorted(ids, out.column("id").to_numpy())
        pos = np.minimum(pos, len(ids) - 1)
        joined = src.take(pos).select(inputs.FLOAT_COLS)
        for c in inputs.FLOAT_COLS:
            joined = joined.append_column(f"{c}_bin", out.column(f"{c}_bin"))
        batch_of = out.column("id").to_numpy() % self.pool
        known = ids[pos] == out.column("id").to_numpy()
        failed = []
        for k in range(self.pool):
            mine = [i for i in ops if i % self.pool == k]
            sel = np.flatnonzero(batch_of == k)
            part = joined.take(sel)
            ok = (
                len(sel) == len(mine) * self.batch_rows
                and bool(known[sel].all())
                and set(bounds) == set(inputs.FLOAT_COLS)
                and _bins_match(part, bounds)
            )
            if not ok:
                failed += mine
        return sorted(failed)

    def out_bytes_per_in_byte(self, ops: list[int]) -> float:
        return inputs.dir_bytes(self.served) / sum(self.in_bytes[i % self.pool] for i in ops)


class Corpus(Workload):
    name = "curate_corpus"
    docs = 10_000
    min_ops = 2

    def __init__(self, spark, tracer, work):
        super().__init__(spark, tracer, work)
        self.dir = os.path.join(work, "corpus")

    def setup(self, seed: int) -> str:
        shutil.rmtree(self.dir, ignore_errors=True)
        docs = os.path.join(self.dir, "documents.parquet")
        inputs.write_corpus(docs, self.docs, seed)
        self.in_bytes = inputs.dir_bytes(docs)
        return inputs.digest(docs, "doc_id")

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"curated_{i}")

    def op(self, i: int) -> int:
        pipelines.prepare_training_data(self.spark, self.dir, out_path=self._out(i))
        self.tracer.captured.pop(FIT, None)
        return self.docs

    def check(self, ops: list[int]) -> list[int]:
        src = pq.read_table(os.path.join(self.dir, "documents.parquet"))
        fp = {
            d: hashlib.md5(t.strip(" ").lower().encode()).hexdigest()
            for d, t in zip(src.column("doc_id").to_pylist(), src.column("text").to_pylist())
        }
        failed, counts = [], {}
        for i in ops:
            out = pq.read_table(self._out(i), columns=["doc_id", "f_tokens_bin", "f_chars_bin"])
            ids = out.column("doc_id").to_pylist()
            counts[i] = len(ids)
            ok = (
                0 < len(ids) < len(fp)
                and all(d in fp for d in ids)
                and len({fp[d] for d in ids}) == len(ids)
                and all(
                    0 <= b <= 19
                    for c in ("f_tokens_bin", "f_chars_bin")
                    for b in out.column(c).to_pylist()
                )
            )
            if not ok:
                failed.append(i)
        if len(set(counts.values())) > 1:  # one seed, one answer
            failed = list(ops)
        return sorted(set(failed))

    def out_bytes_per_in_byte(self, ops: list[int]) -> float:
        return sum(inputs.dir_bytes(self._out(i)) for i in ops) / (len(ops) * self.in_bytes)


WORKLOADS = {w.name: w for w in (Serve, Corpus)}

#: spans a traced run of each workload must fire (the self-test of the
#: wrapping): the serve preparation fires the bulk layers, its ops the rest
EXPECTED_SPANS = {
    Serve.name: [
        "readers.read_parquet",
        "schema_infer.infer_column_classes",
        "schema_infer.auto_tokenize",
        FIT,
        "quantile_bin.bucketize",
        "sinks.write_parquet",
        "quantile_bin.load_boundaries",
    ],
    Corpus.name: [
        "pipelines.prepare_training_data",
        "dedup.minhash_near_dup_drop_ids",
        "model.QuantileBinModel.fit",
        FIT,
        "quantile_bin.bucketize",
    ],
}
