"""Equal-frequency quantile binning ("tabular tokenization") — the
reference's entire behavioral surface (SURVEY.md §2.1 O4-O9):

- reference CPU path: per-column ``pd.qcut(q=100, labels=False)``
  (/root/reference/etl_benchmark.py:30-34)
- reference GPU path: ``torch.quantile`` boundaries + ``torch.bucketize``
  binary search + clamp (/root/reference/etl_benchmark.py:63-82)

We ship three Spark-first backends with one standardized semantics
(SURVEY.md §7 "hard parts" — the reference itself has 3 subtly different
binning semantics; we pin ntile/equal-count semantics for the exact path
and searchsorted-right semantics for the boundary paths):

1. ``exact_quantile_bin`` — ``ntile(bins) OVER (ORDER BY col, tiebreak)``.
   Bit-exact, deterministic (total order via tiebreak keys), DuckDB-oracle
   matchable. NOT the scale path: an ORDER BY window without PARTITION BY
   funnels the table through a single partition. Use for correctness
   oracles and small data.

2. ``fit_quantile_boundaries`` + ``bucketize`` — the 100 TB path.
   Fit: ``percentile_approx`` (KLL-style sketch, one distributed agg
   job for all columns, merge-combinable; relative_error=0 → the
   distributed exact fit, bit-identical to SQL ``percentile``). The fitted
   boundary vector (101 floats/col ≈ 16 KB for 20 cols) is driver-side
   state — exactly the reference's fit/transform split
   (etl_benchmark.py:74 then :79) — and is broadcast into a JVM-side
   ``Bucketizer`` (binary search, whole-stage-codegen'd, no shuffle at
   all in the transform: a map-only stage that scales linearly with
   input splits).

3. ``bucketize_pandas_udf`` — the Arrow/GPU lane (reference O7/O10 port):
   the same boundaries applied via ``np.searchsorted`` inside an
   Arrow-vectorized pandas_udf, with an optional torch-CUDA branch when a
   GPU is present. Used to demonstrate the vectorized-Python path and as
   the hook where RAPIDS/torch would slot in; parity-tested against (2).

Scale notes (100 TB): fit is one distributed pass producing KB of state;
transform is embarrassingly parallel map work with zero shuffle — the plan
is `Scan parquet -> Project(bucketize)` and survives any scale-up. The
only global op is the sketch merge on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import listing_memo, quote_name

DEFAULT_BINS = 100

#: lineitem's measure columns — the flagship tokenization target
#: (FIXTURES.md: the fact table standing in for the reference's 20
#: float cols at etl_benchmark.py:18).
LINEITEM_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]


# ---------------------------------------------------------------------------
# 1. Exact path — ntile window (oracle-matchable)
# ---------------------------------------------------------------------------

def exact_quantile_bin(
    df: DataFrame,
    cols: list[str],
    bins: int = DEFAULT_BINS,
    keys: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Equal-count binning via ``ntile``: bin i gets ceil/floor(n/bins)
    rows in sorted order — pd.qcut-equivalent on tie-free data, and
    deterministic on tied data because ``tiebreak`` extends the sort to a
    total order (l_quantity has only 50 distinct values — SURVEY §7).
    The grouped binning with no group columns.

    Raises ``ValueError`` when neither ``keys`` nor ``tiebreak`` is given:
    an ``ORDER BY col`` alone is not a total order on tied values, so bin
    assignment would silently vary run-to-run."""
    keys = keys if keys is not None else []
    tiebreak = tiebreak if tiebreak is not None else keys
    if not tiebreak:
        raise ValueError(
            "exact_quantile_bin needs a total sort order: pass tiebreak= "
            "(or keys=) columns that uniquely identify rows; ties on the "
            "binned column are otherwise assigned nondeterministically"
        )
    return exact_quantile_bin_grouped(df, [], cols, bins, tiebreak, keys)


def exact_quantile_bin_grouped(
    df: DataFrame,
    group_cols: list[str],
    cols: list[str],
    bins: int,
    tiebreak: list[str],
    keys: list[str] | None = None,
) -> DataFrame:
    """Per-GROUP equal-count binning: ``ntile`` over a window PARTITIONED
    by ``group_cols`` — each group gets its own exact equal-frequency bin
    edges (per-segment feature scaling). Unlike the global exact lane
    (no group columns: an unpartitioned window is a single-partition
    sort, oracle-only), the partitioned window distributes: one shuffle
    on the group key, then per-group local sorts. With a high-cardinality
    group key this IS the scalable exact path; a single fat group
    degenerates to the global case and should route to the distributed
    fit instead (fit_quantile_boundaries_exact_distributed)."""
    if not tiebreak:
        raise ValueError(
            "exact_quantile_bin_grouped needs tiebreak columns forming a "
            "total order within each group"
        )
    keys = keys if keys is not None else []
    groups = [F.col(quote_name(g)) for g in group_cols]
    out = [F.col(quote_name(k)) for k in keys] + groups
    for c in cols:
        w = Window.partitionBy(*groups).orderBy(
            *[F.col(quote_name(t)).asc() for t in [c, *tiebreak]]
        )
        out.append(
            (F.ntile(bins).over(w) - F.lit(1)).cast("int").alias(f"{c}_bin")
        )
    return df.select(*out)


# ---------------------------------------------------------------------------
# 2. Scalable path — sketch fit + Bucketizer transform
# ---------------------------------------------------------------------------

def fit_quantile_boundaries(
    df: DataFrame,
    cols: list[str],
    bins: int = DEFAULT_BINS,
    relative_error: float = 0.001,
) -> dict[str, list[float]]:
    """One distributed aggregation -> bins+1 boundary floats per column
    (reference O5, etl_benchmark.py:74).

    relative_error>0 (default): ``percentile_approx`` — a single agg job
    over all columns, KLL-style sketch with O(accuracy) state per column
    regardless of row count: the 100 TB setting (measured 2.5x faster
    than df.stat.approxQuantile at the same error on sf0.1).
    relative_error=0: fit_quantile_boundaries_exact_distributed — bit-
    identical to SQL ``percentile``, but a histogram + prefix-sum plan
    instead of its single-reducer aggregate (heavier than the sketch;
    the exact-but-scalable correctness check, not the hot path)."""
    probs = [i / bins for i in range(bins + 1)]
    probs_arr = F.array(*[F.lit(p) for p in probs])
    if relative_error <= 0:
        return fit_quantile_boundaries_exact_distributed(df, cols, bins=bins)
    accuracy = max(100, min(int(1 / relative_error), 50_000))
    exprs = [
        F.percentile_approx(F.col(quote_name(c)), probs_arr, F.lit(accuracy)).alias(c)
        for c in cols
    ]
    row = df.agg(*exprs).collect()[0]
    return {c: [float(x) for x in row[c]] for c in cols}


def fit_quantile_boundaries_exact_distributed(
    df: DataFrame,
    cols: list[str],
    bins: int = DEFAULT_BINS,
    driver_histogram_max: int = 2_000_000,
) -> dict[str, list[float]]:
    """Exact interpolated percentiles with a distributed plan — same
    results as SQL ``percentile(c, array(...))`` (bit-for-bit: the lerp
    below is Spark's own ``(higher-pos)*lower + (pos-lower)*higher``),
    but none of its failure modes: the built-in exact percentile is an
    ImperativeAggregate that builds a value->count OpenHashMap per
    partition and merges them all on one reducer — 30 s on 600 k x 4
    doubles and a straight OOM at 100 TB.

    Plan here (every stage bounded):
      1. long-form ``stack`` -> (col, value), nulls dropped (percentile
         semantics), value canonicalized ``+ 0.0`` (-0.0 ties +0.0).
      2. value histogram: ``groupBy(col, value).count()`` — the shuffle
         key is the distinct value set, already compressed.
      3. two-phase distributed prefix sum: a per-column min/max read
         off the PERSISTED HISTOGRAM (not a second scan of the table)
         fits COARSE_BUCKETS equal-WIDTH range buckets per column
         (equal-width costs one codegen agg where a sketch pass cost
         2.4 s), cumsum WITHIN (col, bucket)
         partitions, plus a collected cumsum of the tiny per-bucket
         totals. No window ever sees more than a bucket's share of a
         column's distinct values — the single-partition global window
         the naive formulation needs is gone (_bucket_prefix_sums,
         shared with cumulative_value_counts).
      4. each histogram row emits the integer ranks it covers
         (``filter`` over a <=2*(bins+1)-element rank array, codegen) —
         ~2*(bins+1) rows per column come back to the driver.
      5. driver interpolates bins+1 floats per column (KB of state).

    Guarded fast path: when the MEASURED total distinct-value count is
    <= driver_histogram_max (2M rows ≈ <100 MB), steps 3-4 collapse to
    one Arrow toPandas of the histogram + numpy rank lookup — identical
    results, three fewer distributed rounds. The guard (not a guess —
    the count comes from the same stats aggregate that validates
    non-null columns) keeps the fully distributed branch in charge when
    the value domain is genuinely large.
    """
    import math

    probs = [i / bins for i in range(bins + 1)]
    # --- value histogram first: ONE full pass over the base data; the
    # coarse-bucket min/max then reads the compact persisted histogram
    # instead of re-scanning the table (at 100 TB that second scan was
    # the single most expensive line in this function)
    hist0 = _value_histogram(df, cols).persist()
    stats = hist0.groupBy("col").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("nd"),
    ).collect()
    mm = {r["col"]: (float(r["lo"]), float(r["hi"])) for r in stats}
    n_by_col = {r["col"]: int(r["n"]) for r in stats}
    for c in cols:
        if n_by_col.get(c, 0) == 0:
            raise ValueError(f"fit_quantile_boundaries: column {c} is all-null")

    # --- integer ranks each percentile needs (1-based) ---
    ranks: dict[str, list[int]] = {}
    for c in cols:
        n = n_by_col[c]
        want: set[int] = set()
        for p in probs:
            pos = p * (n - 1)
            want.add(math.floor(pos) + 1)
            want.add(math.ceil(pos) + 1)
        ranks[c] = sorted(want)

    total_distinct = sum(int(r["nd"]) for r in stats)
    if total_distinct <= driver_histogram_max:
        # --- GUARDED driver fast path: the whole value histogram fits
        # in driver memory (<= driver_histogram_max rows ≈ tens of MB —
        # the same bounded-driver-state pattern as dedup_components'
        # mask guard), so one Arrow toPandas replaces the coarse-bucket
        # shuffle + window + broadcast-join round trip. Results are
        # IDENTICAL: same canonicalized values, same rank lookup, same
        # interpolation below. The measured guard keeps the distributed
        # branch in charge whenever the value domain is actually large.
        import numpy as np

        pdf = hist0.toPandas()
        hist0.unpersist()
        at_rank: dict[str, dict[int, float]] = {}
        for c in cols:
            sub = pdf[pdf["col"] == c]
            vals = sub["value"].to_numpy(dtype="float64")
            cnts = sub["cnt"].to_numpy(dtype="int64")
            order = np.argsort(vals)  # NaN sorts last == JVM Double order
            cum = cnts[order].cumsum()
            svals = vals[order]
            idx = np.searchsorted(cum, np.asarray(ranks[c]), side="left")
            at_rank[c] = {
                k: float(svals[i]) for k, i in zip(ranks[c], idx)
            }
        return _interpolate_boundaries(cols, probs, n_by_col, at_rank)

    hist, offsets = _bucket_prefix_sums(hist0, {c: mm[c] for c in cols})

    # --- target ranks routed to the bucket whose global-rank span
    # contains them DRIVER-side, so each histogram row only tests the
    # handful of targets in its own bucket (a flat per-row filter over
    # all ~2*(bins+1) targets measured 12 s at 583 k distinct values —
    # 100x more lambda evals than needed).
    per_bucket: dict[tuple[str, int], tuple[int, list[int]]] = {}
    for c in cols:
        spans = offsets[c]
        it = iter(spans)
        bucket, off, tot = next(it)
        for k in ranks[c]:
            while k > off + tot:
                bucket, off, tot = next(it)
            key = (c, bucket)
            if key not in per_bucket:
                per_bucket[key] = (off, [])
            per_bucket[key][1].append(k)
    # the targets relation is tiny (one row per bucket that contains a
    # target rank) — an inner broadcast join both routes each histogram
    # row to its own bucket's target list AND drops targetless buckets
    targets_df = df.sparkSession.createDataFrame(
        [(c, b, off, ks) for (c, b), (off, ks) in per_bucket.items()],
        "col string, bucket int, off bigint, ks array<bigint>",
    )
    looked = (
        hist.join(F.broadcast(targets_df), ["col", "bucket"])
        .withColumn("cum_end", F.col("off") + F.col("cum_in"))
        .withColumn("cum_start", F.col("cum_end") - F.col("cnt"))
        .select(
            "col",
            "value",
            F.explode(
                F.filter(
                    F.col("ks"),
                    lambda k: (k > F.col("cum_start")) & (k <= F.col("cum_end")),
                )
            ).alias("rank"),
        )
        .collect()
    )
    hist0.unpersist()
    at_rank: dict[str, dict[int, float]] = {c: {} for c in cols}
    for r in looked:
        at_rank[r["col"]][r["rank"]] = r["value"]
    return _interpolate_boundaries(cols, probs, n_by_col, at_rank)


def _interpolate_boundaries(
    cols: list[str],
    probs: list[float],
    n_by_col: dict[str, int],
    at_rank: dict[str, dict[int, float]],
) -> dict[str, list[float]]:
    """Driver-side lerp shared by both exact-fit branches — bit-identical
    to Spark's Percentile.getPercentile."""
    import math

    out: dict[str, list[float]] = {}
    for c in cols:
        n = n_by_col[c]
        vals = at_rank[c]
        bnds = []
        for p in probs:
            pos = p * (n - 1)
            lower = math.floor(pos)
            higher = math.ceil(pos)
            if lower == higher or vals[lower + 1] == vals[higher + 1]:
                # Spark Percentile.getPercentile short-circuits both the
                # integer-position case AND equal adjacent keys (lerping
                # x with itself would re-derive x with fp rounding)
                bnds.append(vals[lower + 1])
            else:
                # Spark Percentile.getPercentile's exact lerp form
                bnds.append(
                    (higher - pos) * vals[lower + 1]
                    + (pos - lower) * vals[higher + 1]
                )
        out[c] = bnds
    return out


#: equal-width range buckets per column in the two-phase prefix sum —
#: load balancing only (any monotone split gives the same sums); 256
#: leaves plenty of window parallelism even under 10x value-space skew
COARSE_BUCKETS = 256


def _value_histogram(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form ``(col, value, cnt)`` histogram of ``cols`` cast to
    double: nulls dropped (percentile/window semantics), ``+ 0.0``
    canonicalizes -0.0 so it counts with +0.0. The shuffle key is the
    distinct value set, already compressed."""
    long = df.select(
        F.stack(
            F.lit(len(cols)),
            *[x for c in cols for x in (F.lit(c), F.col(quote_name(c)).cast("double"))],
        ).alias("col", "value")
    ).filter(F.col("value").isNotNull())
    long = long.withColumn("value", F.col("value") + F.lit(0.0))
    return long.groupBy("col", "value").agg(F.count(F.lit(1)).alias("cnt"))


def _bucket_prefix_sums(
    hist: DataFrame, ranges: dict[str, tuple[float, float]]
) -> tuple[DataFrame, dict[str, list[tuple[int, int, int]]]]:
    """Two-phase distributed prefix sum over a ``(col, value, cnt)``
    histogram whose per-column value range is ``ranges``: COARSE_BUCKETS
    equal-width buckets per column, a running ``cum_in`` count within
    each (col, bucket) window, and the tiny per-bucket totals collected
    into per-column ``(bucket, off, tot)`` spans in bucket order — so a
    row's global running count is ``off + cum_in``. No window ever sees
    more than one bucket's share of a column's distinct values."""
    bucket_expr = None
    for c, (lo, hi) in ranges.items():
        if hi > lo:
            b_c = F.least(
                F.floor(
                    (F.col("value") - F.lit(lo))
                    * F.lit(COARSE_BUCKETS / (hi - lo))
                ),
                F.lit(COARSE_BUCKETS - 1),
            ).cast("int")
        else:  # constant (or all-null) column: one bucket
            b_c = F.lit(0)
        cond = F.when(F.col("col") == c, b_c)
        bucket_expr = cond if bucket_expr is None else bucket_expr.when(
            F.col("col") == c, b_c
        )
    hist = hist.withColumn("bucket", bucket_expr)
    btot = (
        hist.groupBy("col", "bucket")
        .agg(F.sum("cnt").alias("btot"))
        .collect()
    )
    offsets: dict[str, list[tuple[int, int, int]]] = {c: [] for c in ranges}
    run: dict[str, int] = {c: 0 for c in ranges}
    for r in sorted(btot, key=lambda r: (r["col"], r["bucket"])):
        offsets[r["col"]].append((r["bucket"], run[r["col"]], r["btot"]))
        run[r["col"]] += r["btot"]
    w_in = (
        Window.partitionBy("col", "bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hist.withColumn("cum_in", F.sum("cnt").over(w_in)), offsets


def fit_quantile_boundaries_head_sample(
    df: DataFrame,
    cols: list[str],
    bins: int = DEFAULT_BINS,
    sample_rows: int = 250_000,
) -> dict[str, list[float]]:
    """Prefix-sample fit: ``limit(sample_rows)`` + exact ``np.quantile``
    driver-side. The limit short-circuits the scan (CollectLimit stops
    after enough row groups), so unlike a Bernoulli sample — which
    decodes EVERY row to flip its coin — this reads ~sample_rows rows
    total, making fit cost constant in table size without requiring the
    table to be cached.

    Validity: a row-prefix is an unbiased sample only when row order is
    uncorrelated with values (i.i.d. generated data, ingestion-shuffled
    corpora). For time-ordered or clustered layouts use the sketch
    fit_quantile_boundaries instead — that is the safe default; this is
    the fast path you opt into when the layout allows (the reference's
    own fit sees rows in file order too, etl_benchmark.py:74)."""
    import numpy as np

    # limit().toPandas() is a trap: Arrow collect executes the FULL scan
    # (CollectLimit's incremental short-circuit only applies to row-based
    # actions like count/take — measured 14 s vs 1 s on a 10M-row table).
    # Instead read just enough leading part-files to cover sample_rows:
    # decodes ~one file instead of the whole table, works identically on
    # HDFS/S3 paths, and is the same deterministic prefix.
    pdf = None
    files = sorted(df.inputFiles())
    if files:
        spark = df.sparkSession
        frames = []
        got = 0
        for f in files:
            part = (
                spark.read.schema(df.schema).parquet(f)
                .select(*map(quote_name, cols)).limit(sample_rows - got).toPandas()
            )
            frames.append(part)
            got += len(part)
            if got >= sample_rows:
                break
        import pandas as pd

        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    if pdf is None:  # not a plain file scan (e.g. a derived frame)
        pdf = df.select(*map(quote_name, cols)).limit(sample_rows).toPandas()
    probs = np.linspace(0.0, 1.0, bins + 1)
    return {c: [float(x) for x in np.quantile(pdf[c].to_numpy(), probs)] for c in cols}


def cumulative_value_counts(df: DataFrame, col: str) -> DataFrame:
    """Distributed ``(value, cum_end)`` relation for one numeric column:
    cum_end = #rows with value' <= value — i.e. the unnormalized CDF /
    the RANGE-frame running count ``count(*) OVER (ORDER BY col)``,
    WITHOUT the single-partition global window that expression plans as.

    Same value histogram and two-phase prefix sum as the exact quantile
    fit (_value_histogram, _bucket_prefix_sums), its bucket range from a
    1-row min/max agg; the per-bucket offsets are broadcast-joined back.
    Nulls are excluded (window functions would rank them; callers decide
    null policy)."""
    mm = df.agg(
        F.min(F.col(quote_name(col)).cast("double")).alias("lo"),
        F.max(F.col(quote_name(col)).cast("double")).alias("hi"),
    ).collect()[0]
    lo = float(mm["lo"]) if mm["lo"] is not None else 0.0
    hi = float(mm["hi"]) if mm["hi"] is not None else 0.0
    hist, offsets = _bucket_prefix_sums(
        _value_histogram(df, [col]), {col: (lo, hi)}
    )
    off_df = df.sparkSession.createDataFrame(
        [(col, b, off) for b, off, _ in offsets[col]],
        "col string, bucket int, off bigint",
    )
    return hist.join(F.broadcast(off_df), ["col", "bucket"]).select(
        "value", (F.col("off") + F.col("cum_in")).alias("cum_end")
    )


def _interior_splits(bounds: list[float]) -> list[float]:
    """Strictly-increasing interior boundaries (drop 0%/100% endpoints and
    duplicates — the reference's ``duplicates='drop'`` at
    etl_benchmark.py:34 / Bucketizer's strictly-increasing requirement).

    ``b + 0.0`` canonicalizes -0.0 to +0.0: the JVM Bucketizer binary-
    searches with Double.compare's TOTAL order (-0.0 < 0.0) while the
    numpy/torch kernels use IEEE comparison (-0.0 == 0.0) — a -0.0
    boundary or value would make the lanes disagree by one bin (found by
    hypothesis). Values are canonicalized the same way in bucketize()."""
    interior = sorted(set(b + 0.0 for b in bounds[1:-1]))
    return interior


#: the boundary model artifact's schema — written by save_boundaries and
#: read back with it by load_boundaries, so the load infers nothing
_MODEL_SCHEMA = "col string, idx int, value double"


def save_boundaries(
    spark, bounds: dict[str, list[float]], path: str
) -> None:
    """Persist a fitted boundary model as a tiny parquet artifact
    ((col, idx, value) rows — engine-neutral, human-inspectable, exact:
    doubles round-trip parquet bit-for-bit). This is the train/serve
    split the reference's in-process fit+transform lacks: fit once on
    the training corpus, ship the KB-sized model, tokenize any later
    batch/stream without refitting."""
    import pyarrow as pa

    model = pa.Table.from_pylist(
        [
            {"col": c, "idx": i, "value": float(v)}
            for c, vals in bounds.items()
            for i, v in enumerate(vals)
        ],
        pa.schema([("col", pa.string()), ("idx", pa.int32()), ("value", pa.float64())]),
    )
    # An Arrow table becomes a LocalRelation whose rows are already in
    # the JVM, so the write starts no Python worker; a frame of Python
    # rows is an RDD whose task pickles them through one. coalesce(1)
    # writes one task and one part file.
    (
        spark.createDataFrame(model, _MODEL_SCHEMA)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_boundaries(spark, path: str) -> dict[str, list[float]]:
    """Reload a save_boundaries artifact. The collect is bounded by
    model size (cols × (bins+1) rows — KBs), never data size. The read
    carries the known schema: inferring it from the footer would cost a
    Spark job of its own. The model is memoized per session under the
    path's file listing (``session.listing_memo``): the first load is
    one job, a repeat none, until a file under the path is added,
    removed or rewritten (``save_boundaries`` overwrites with new part
    files). Every call returns a fresh copy."""

    def collect() -> dict[str, list[float]]:
        rows = spark.read.schema(_MODEL_SCHEMA).parquet(path).collect()
        out: dict[str, dict[int, float]] = {}
        for r in rows:
            out.setdefault(r["col"], {})[r["idx"]] = r["value"]
        return {c: [m[i] for i in sorted(m)] for c, m in out.items()}

    bounds = listing_memo(spark, ("boundaries", path), path, collect)
    return {c: list(v) for c, v in bounds.items()}


#: how a ``DoubleArrayArrayParam`` decodes the non-finite doubles from
#: JSON, which has no literal for them
_JSON_NONFINITE = {float("inf"): "Inf", float("-inf"): "-Inf"}


def _json_double(x: float):
    return "NaN" if x != x else _JSON_NONFINITE.get(x, x)


def bucketize(
    df: DataFrame,
    boundaries: dict[str, list[float]],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """JVM-side binary-search bucketize (reference O7 torch.bucketize,
    etl_benchmark.py:79). Semantics: bin = #(interior boundaries <= v),
    i.e. numpy ``searchsorted(interior, v, side='right')``. The ±inf
    sentinel splits make clamping (reference O9, etl_benchmark.py:82)
    unnecessary — every finite value lands in [0, n_bins-1].

    NaN/null semantics (pinned, parity-tested across both lanes): NaN and
    null map to the LAST bin, n_bins-1 — the reference's own behavior
    (torch: bucketize(NaN)=len(bounds) then clamp to BINS-1,
    etl_benchmark.py:79-82; Numba: no threshold exceeds NaN so the
    default bins-1 sticks, etl_benchmark_numba.py:45-49). We pre-map
    NaN/null to +inf so nothing is "invalid" by the time the JVM
    Bucketizer sees it (handleInvalid='error' enforces that claim).

    Built in a fixed number of Py4J calls per column, none per split:
    the JVM ``org.apache.spark.ml.feature.Bucketizer`` is created
    directly and its splits and column params are set from JSON that
    the params decode JVM-side (pyspark.ml would convert the 101 splits
    of every column one element per call). The normalization and the
    final ``CAST(... AS INT)`` are SQL text, one ``selectExpr`` each.
    Column names are backquoted, so a dot or backquote in a name is
    part of it; the Bucketizer only sees internal, position-named
    columns.

    Map-only stage: no shuffle, scales linearly.
    """
    import json

    spark = df.sparkSession
    cols = list(boundaries)
    keep = [quote_name(k) for k in (keep_cols or [])]
    ins = [f"__bucketize_in_{i}" for i in range(len(cols))]
    outs = [f"__bucketize_out_{i}" for i in range(len(cols))]
    # +0.0 canonicalizes -0.0 so the JVM's Double.compare total order
    # agrees with the kernels' IEEE comparison (see _interior_splits);
    # NaN/null -> +inf lands them in the last bucket (splits' top bucket
    # is upper-inclusive), matching np.searchsorted's NaN-at-end result
    normed = df.selectExpr(
        *keep,
        *[
            f"CASE WHEN {q} IS NULL OR isnan({q}) THEN CAST('Infinity' AS DOUBLE)"
            f" ELSE {q} + 0.0D END AS {t}"
            for q, t in zip(map(quote_name, cols), ins)
        ],
    )
    splits = [
        [float("-inf")] + _interior_splits(boundaries[c]) + [float("inf")]
        for c in cols
    ]
    jb = spark._jvm.org.apache.spark.ml.feature.Bucketizer()
    for param, value in (
        (jb.inputCols(), ins),
        (jb.outputCols(), outs),
        (jb.splitsArray(), [[_json_double(x) for x in s] for s in splits]),
    ):
        jb.set(param, param.jsonDecode(json.dumps(value)))
    jb.setHandleInvalid("error")
    return DataFrame(jb.transform(normed._jdf), spark).selectExpr(
        *keep,
        *[
            f"CAST({t} AS INT) AS {quote_name(f'{c}_bin')}"
            for c, t in zip(cols, outs)
        ],
    )


def bucketize_pandas_udf(
    df: DataFrame,
    boundaries: dict[str, list[float]],
    keep_cols: list[str] | None = None,
    use_gpu: bool | None = None,
) -> DataFrame:
    """Arrow-vectorized bucketize — the port of the reference's GPU lane
    (etl_benchmark.py:53,79: host->device transfer + torch.bucketize).
    JVM->Python Arrow batches play the PCIe role; np.searchsorted is the
    binary search; a torch.cuda branch engages when a GPU exists.

    Same semantics as :func:`bucketize` (parity-tested). Prefer
    :func:`bucketize` in production — it stays JVM-side; this lane exists
    for custom-kernel extensibility (the reference's Numba kernel,
    etl_benchmark_numba.py:39-50, would slot in here).
    """
    from ..functions.udf_kernels import make_searchsorted_udf

    if use_gpu is None:
        try:  # GPU optional; container has no CUDA — clean CPU fallback
            import torch

            use_gpu = torch.cuda.is_available()
        except Exception:
            use_gpu = False

    keep = keep_cols if keep_cols is not None else []
    out_exprs = [F.col(quote_name(k)) for k in keep]
    for c in list(boundaries):
        udf = make_searchsorted_udf(_interior_splits(boundaries[c]), use_gpu)
        out_exprs.append(udf(F.col(quote_name(c))).alias(f"{c}_bin"))
    return df.select(*out_exprs)


def bucketize_map_in_arrow(
    df: DataFrame,
    boundaries: dict[str, list[float]],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Bucketize via ``mapInArrow`` — the lowest-overhead Python lane:
    raw pyarrow RecordBatches in and out, no pandas Series construction
    at all (the pandas_udf lane pays a Series wrap/unwrap per column per
    batch). Same pinned semantics as :func:`bucketize` /
    :func:`bucketize_pandas_udf`: bin = #(interior <= v) after -0.0
    canonicalization; NaN/null -> last bin (parity-tested).

    This is where a zero-copy GPU kernel would mount with minimal glue:
    Arrow buffers -> cupy/torch dlpack without a pandas detour."""
    import numpy as np

    cols = list(boundaries)
    keep = keep_cols if keep_cols is not None else []
    interiors = [
        np.asarray(_interior_splits(boundaries[c]), dtype=np.float64) for c in cols
    ]
    out_fields = [(k, df.schema[k].dataType.simpleString()) for k in keep] + [
        (f"{c}_bin", "int") for c in cols
    ]
    schema = ", ".join(f"{quote_name(n)} {t}" for n, t in out_fields)
    names = [n for n, _ in out_fields]

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            arrays = batch.columns[: len(keep)]
            for i, interior in enumerate(interiors, start=len(keep)):
                # nulls -> NaN; NaN sorts after every boundary -> last bin
                vals = batch.column(i).to_numpy(zero_copy_only=False)
                vals = vals + 0.0  # canonicalize -0.0 (see _interior_splits)
                bins = np.searchsorted(interior, vals, side="right").astype("int32")
                arrays.append(pa.array(bins))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    # position-named inputs: mapInArrow resolves each input column by
    # name through a parser that rejects a backquote in it
    ins = [
        F.col(quote_name(c)).alias(f"__bucketize_in_{i}")
        for i, c in enumerate(keep + cols)
    ]
    return df.select(*ins).mapInArrow(kernel, schema=schema)


# ---------------------------------------------------------------------------
# End-to-end pipeline (reference entry point: scan -> fit -> transform)
# ---------------------------------------------------------------------------

def tokenize_table(
    df: DataFrame,
    cols: list[str] | None = None,
    bins: int = DEFAULT_BINS,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """scan -> fit(quantiles) -> transform(bucketize): the reference's whole
    pipeline (etl_benchmark.py gpu_etl_pytorch) as one call — sketch fit,
    JVM Bucketizer transform."""
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("double", "float")
        ]
    bounds = fit_quantile_boundaries(df, cols, bins)
    return bucketize(df, bounds, keep_cols=keep_cols)
