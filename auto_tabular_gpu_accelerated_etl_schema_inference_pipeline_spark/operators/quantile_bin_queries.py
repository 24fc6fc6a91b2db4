"""queries()/oracle_sql() entries for the quantile-bin tokenizer
(reference O4-O9 — SURVEY.md §2.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import load_table
from .quantile_bin import (
    LINEITEM_KEYS,
    LINEITEM_MEASURES,
    exact_quantile_bin,
)


def q_quantile_bin_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-count binning (ntile semantics) of lineitem measures.

    Deterministic under ties: the window sort is extended to a total
    order with (l_orderkey, l_linenumber), matching the oracle's ORDER BY
    exactly. This is the oracle-grade variant of the reference's
    pd.qcut loop (etl_benchmark.py:30-34)."""
    df = load_table(spark, sf_dir, "lineitem")
    return exact_quantile_bin(
        df, LINEITEM_MEASURES, bins=100, keys=LINEITEM_KEYS, tiebreak=LINEITEM_KEYS
    )


def q_quantile_bin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact binning: 10 equal-count price bins WITHIN each
    (l_returnflag, l_linestatus) segment via a PARTITIONED ntile window —
    the distributed exact lane (shuffle on the group key, per-group local
    sort; no single-partition window)."""
    from .quantile_bin import exact_quantile_bin_grouped

    df = load_table(spark, sf_dir, "lineitem")
    return exact_quantile_bin_grouped(
        df,
        group_cols=["l_returnflag", "l_linestatus"],
        cols=["l_extendedprice"],
        bins=10,
        tiebreak=LINEITEM_KEYS,
        keys=LINEITEM_KEYS,
    )


def _exact_rounded_boundaries(df: DataFrame) -> dict[str, list[float]]:
    """Deterministic, DuckDB-expressible boundary fit shared by the
    lineitem boundary lanes: the distributed exact percentile
    fit (histogram + two-phase prefix sum — NOT the single-reducer SQL
    ``percentile`` aggregate), boundaries rounded to 6dp before the
    transform dedupes them (mirrored in boundary_bin_oracle).
    Interpolated quantiles differ between engines in final ulps, which
    makes the DEDUPED interior lists differ in LENGTH on low-cardinality
    columns (discount/tax). With 2dp data, 6dp-rounded boundaries are
    either exact data values (unchanged) or strictly between adjacent
    2dp values — so no comparison b <= v can flip. Production keeps the
    sketch fit; only boundary PLACEMENT differs between the two, the
    transform semantics are identical."""
    from .quantile_bin import fit_quantile_boundaries

    bounds = fit_quantile_boundaries(
        df, LINEITEM_MEASURES, bins=100, relative_error=0.0
    )
    return {c: [round(x, 6) for x in v] for c, v in bounds.items()}


def q_quantile_bin_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-exact fit + JVM Bucketizer transform — the 100 TB path
    (reference O5+O7), oracle-backed since the exact fit + 6dp rounding
    makes every bin DuckDB-expressible (VERDICT r3 item 3). The sketch
    fit stays the production default in tokenize_table; its placement-
    only divergence is parity-tested in tests/test_quantile_bin.py."""
    from .quantile_bin import bucketize

    df = load_table(spark, sf_dir, "lineitem")
    bounds = _exact_rounded_boundaries(df)
    # Seed the session's boundary model with the fit THIS lane just paid
    # for: the five model-serving lanes (pandas_udf / map_in_arrow /
    # saved_model / auto_tokenize / streaming tokenize) otherwise refit
    # the IDENTICAL model — the same _exact_rounded_boundaries over the
    # same fixture — inside whichever of them runs first. This lane's
    # subject (the distributed exact fit) is unchanged: it fits in-lane
    # every run; only the fit's OUTPUT is reused.
    cached_exact_boundaries(spark, sf_dir, precomputed=bounds)
    return bucketize(df, bounds, keep_cols=LINEITEM_KEYS)


def q_quantile_bin_saved_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model persistence round-trip (the train/serve split): the exact
    boundary model is SAVED as a KB-sized parquet artifact, RELOADED
    from disk, and only the reloaded model drives the Bucketizer
    transform — proving the persisted artifact carries the full model
    bit-for-bit (doubles round-trip parquet exactly, so the oracle is
    the same shared boundary oracle as the in-memory lanes). At 100 TB
    this is how the tokenizer actually deploys: fit on the training
    corpus once, ship the artifact, tokenize every later batch/stream
    without refitting. load_boundaries collects eagerly, so the
    artifact's directory is gone before the lazy transform runs."""
    import os
    import tempfile

    from .quantile_bin import bucketize, load_boundaries, save_boundaries

    df = load_table(spark, sf_dir, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "model")
        save_boundaries(spark, cached_exact_boundaries(spark, sf_dir), path)
        bounds = load_boundaries(spark, path)
    return bucketize(df, bounds, keep_cols=LINEITEM_KEYS)


def cached_exact_boundaries(
    spark: SparkSession, sf_dir: str,
    precomputed: dict[str, list[float]] | None = None,
) -> dict[str, list[float]]:
    """The exact-fit boundary model of this fixture's lineitem measures,
    fitted at most once per session (session.ctx_cache) and served to
    every lane that deploys it — production fits once and serves the
    same model to every consumer instead of paying the exact
    distributed fit per query.

    ``precomputed``: a boundary dict the caller ALREADY fitted with
    ``_exact_rounded_boundaries`` over this fixture (the
    q_quantile_bin_scalable lane's in-lane fit) — cached in place of a
    second fit when no model is cached yet; ignored when one is."""
    from ..session import ctx_cache

    def fit() -> dict[str, list[float]]:
        if precomputed is not None:
            return precomputed
        return _exact_rounded_boundaries(load_table(spark, sf_dir, "lineitem"))

    return ctx_cache(spark, ("exact_boundaries", sf_dir), fit)


def q_quantile_bin_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized searchsorted lane (the reference's GPU-kernel
    port, etl_benchmark.py:53,79) over the same deterministic exact-fit
    boundaries — value-verifies the Python kernel's searchsorted
    semantics (incl. -0.0/NaN handling) against the SQL oracle, not just
    against the Bucketizer twin. Serves the cached boundary model
    (bit-identical to the in-query fit) — this lane's subject is the
    Arrow KERNEL, not the fit, so it doesn't re-pay the fit."""
    from .quantile_bin import bucketize_pandas_udf

    df = load_table(spark, sf_dir, "lineitem")
    return bucketize_pandas_udf(
        df, cached_exact_boundaries(spark, sf_dir), keep_cols=LINEITEM_KEYS
    )


def q_quantile_bin_exact_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-path semantics proven against the oracle: the in-query
    exact fit (the distributed histogram/prefix-sum fit, bit-identical
    to SQL ``percentile``, which like DuckDB ``quantile_cont`` is Type-7
    linear interpolation) with 6dp rounding + Bucketizer transform,
    mirrored in SQL by counting interior boundaries <= v. This gives the
    SCALABLE lane's semantics an oracle (the ntile oracle only covers
    the exact lane); the sketch-fit variant differs solely in boundary
    placement."""
    from .quantile_bin import bucketize

    df = load_table(spark, sf_dir, "lineitem")
    return bucketize(df, _exact_rounded_boundaries(df), keep_cols=LINEITEM_KEYS)


#: seed-pinned generated fixture (VERDICT r3 item 6): rows/cols/seed AND
#: numPartitions are all fixed, so spark.range+randn content is
#: byte-stable across runs and hosts — a stale parquet from an earlier
#: run is bit-identical to a fresh one, making write-if-absent safe for
#: the oracle, which reads the SAME files the Spark query reads back.
GEN_ROWS, GEN_COLS, GEN_SEED, GEN_PARTS = 100_000, 8, 42, 8
_GEN_COLNAMES = [f"col_{i}" for i in range(GEN_COLS)]


def _generated_path() -> str:
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"tokgen_r{GEN_ROWS}_c{GEN_COLS}_s{GEN_SEED}_p{GEN_PARTS}",
    )


def q_tokenize_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference workload end-to-end (O1->O2->O3->O5->O7): generate the
    randn table with spark.range+randn, sink to parquet (write-if-absent,
    deterministic content — see GEN_* note), scan it back, exact-fit
    boundaries, bucketize. Oracle-backed: DuckDB reads the SAME parquet
    files, so O1's output is value-verified, not just row-counted. 6dp
    boundary rounding applied identically on both sides collapses
    cross-engine interpolation ulps (same treatment as the lineitem
    lanes; adjacent 1%-quantile spacing on 100k randn is ~1e-3, three
    orders above the rounding quantum, so no bin can flip)."""
    import os

    from ..sources.generator import generate_normal_table
    from .quantile_bin import bucketize, fit_quantile_boundaries

    path = _generated_path()
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = generate_normal_table(
            spark,
            rows=GEN_ROWS,
            cols=GEN_COLS,
            seed=GEN_SEED,
            num_partitions=GEN_PARTS,
            include_id=True,
        )
        df.write.mode("ignore").parquet(path)
    back = spark.read.parquet(path)
    bounds = fit_quantile_boundaries(
        back, _GEN_COLNAMES, bins=100, relative_error=0.0
    )
    bounds = {c: [round(x, 6) for x in v] for c, v in bounds.items()}
    return bucketize(back, bounds, keep_cols=["id"])


_NTILE_COLS = ",\n  ".join(
    f"CAST(ntile(100) OVER (ORDER BY {c}, l_orderkey, l_linenumber) - 1 AS INTEGER)"
    f" AS {c}_bin"
    for c in LINEITEM_MEASURES
)


def boundary_bin_oracle(cols: list[str], head: str, scan: str | None = None) -> str:
    """DuckDB mirror of _exact_rounded_boundaries + bucketize: per column
    the 6dp-rounded, deduped interior exact percentiles (``quantile_cont``
    — Type-7, like Spark's ``percentile``), and per row the count of
    interior boundaries <= v. ``head`` is the SELECT list ahead of the
    bin columns (over row alias ``t``); the rows come from lineitem, or
    from the ``scan`` table expression when given."""
    probs = ",".join(str(i / 100) for i in range(101))
    bnd = ",\n    ".join(
        f"list_sort(list_distinct(list_transform("
        f"list_slice(quantile_cont({c}, [{probs}]), 2, 100), x -> round(x, 6)))) AS b_{c}"
        for c in cols
    )
    bins = ",\n  ".join(
        f"CAST(len(list_filter(b.b_{c}, x -> x <= t.{c})) AS INTEGER) AS {c}_bin"
        for c in cols
    )
    if scan is None:
        ctes, src, rows = "", "lineitem", "lineitem t"
    else:
        ctes, src, rows = f"t AS (\n  SELECT * FROM {scan}\n), ", "t", "t"
    return f"""
WITH {ctes}b AS (
  SELECT
    {bnd}
  FROM {src}
)
SELECT {head},
  {bins}
FROM {rows}, b
"""


def q_quantile_bin_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-Arrow kernel lane (mapInArrow — no pandas layer; see
    bucketize_map_in_arrow) over the deterministic exact-fit boundaries —
    oracle-backed like the other two transform lanes; NaN/null parity
    with the Bucketizer lane additionally test-pinned. Serves the
    cached boundary model like the pandas_udf lane — the subject is
    the raw-Arrow kernel, not the fit."""
    from .quantile_bin import bucketize_map_in_arrow

    df = load_table(spark, sf_dir, "lineitem")
    return bucketize_map_in_arrow(
        df, cached_exact_boundaries(spark, sf_dir), keep_cols=LINEITEM_KEYS
    )


QUERIES = {
    "quantile_bin_per_group": q_quantile_bin_per_group,
    "quantile_bin_lineitem": q_quantile_bin_lineitem,
    "quantile_bin_map_in_arrow": q_quantile_bin_map_in_arrow,
    "quantile_bin_exact_boundaries": q_quantile_bin_exact_boundaries,
    "quantile_bin_scalable": q_quantile_bin_scalable,
    "quantile_bin_saved_model": q_quantile_bin_saved_model,
    "quantile_bin_pandas_udf": q_quantile_bin_pandas_udf,
    "tokenize_generated": q_tokenize_generated,
}

# Shared oracle for the boundary lanes (in-query fit, Bucketizer /
# pandas_udf / mapInArrow / saved model): all consume the same exact-fit
# 6dp-rounded boundaries, so bin = #(interior boundaries <= v) is one SQL
# shape. Keeping one entry per lane keeps each lane independently
# sampled by the gate.
_EXACT_BOUNDARY_ORACLE = boundary_bin_oracle(
    LINEITEM_MEASURES, "t.l_orderkey, t.l_linenumber"
)

ORACLES = {
    "quantile_bin_scalable": _EXACT_BOUNDARY_ORACLE,
    "quantile_bin_saved_model": _EXACT_BOUNDARY_ORACLE,
    "quantile_bin_pandas_udf": _EXACT_BOUNDARY_ORACLE,
    "quantile_bin_map_in_arrow": _EXACT_BOUNDARY_ORACLE,
    "quantile_bin_exact_boundaries": _EXACT_BOUNDARY_ORACLE,
    "tokenize_generated": boundary_bin_oracle(
        _GEN_COLNAMES, "t.id", scan=f"read_parquet('{_generated_path()}/*.parquet')"
    ),
    "quantile_bin_per_group": """
SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
  CAST(ntile(10) OVER (PARTITION BY l_returnflag, l_linestatus
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber)
       - 1 AS INTEGER) AS l_extendedprice_bin
FROM lineitem
""",
    "quantile_bin_lineitem": f"""
SELECT l_orderkey, l_linenumber,
  {_NTILE_COLS}
FROM lineitem
""",
}
