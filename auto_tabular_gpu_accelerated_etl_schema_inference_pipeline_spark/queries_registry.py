"""Central registry mapping query names -> (Spark callable, DuckDB oracle).

Each operator module exposes ``QUERIES: dict[str, callable]`` (callable
takes ``(spark, sf_dir)`` and returns a DataFrame) and ``ORACLES:
dict[str, str]`` (ANSI SQL DuckDB runs on the same parquet views). A
query present in QUERIES but absent from ORACLES gets the driver's weaker
rows-only check (reserved for approximate / non-SQL-expressible ops).
Every entry queries() hands out runs under UTC (see _under_utc); the
lane functions themselves leave the caller's timezone alone.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

# Module order doubles as the external-verification priority: harnesses
# that sample a prefix of the registry see queries in this order (further
# shaped by the tier sort in queries() below). North-star lanes (dedup /
# similarity / text / multimodal), streaming, and time-series come first;
# the relational/TPC-H core — already externally verified across two
# rounds — comes last.
_MODULES = [
    "operators.dedup",
    "operators.graph",
    "operators.similarity",
    "operators.text",
    "operators.text_lm",
    "operators.analytics",
    "streaming.windows",
    "streaming.stateful",
    "streaming.stateful_v2",
    "streaming.foreach_batch",
    "streaming.joins",
    "streaming.enrich",
    "streaming.tokenize",
    "streaming.state_reader",
    "operators.multimodal",
    "operators.schema_infer",
    "operators.timeseries",
    "operators.retrieval",
    "operators.interval_join",
    "operators.geo",
    "operators.audit",
    "operators.cdc",
    "operators.llm_prep",
    "operators.eval_stats",
    "operators.text_stats",
    "operators.sql_surface",
    "operators.model",
    "operators.corpus_reports",
    "operators.sketches",
    "operators.production",
    "operators.asof_pandas",
    "operators.udtf_queries",
    "operators.variant_json",
    "operators.xml_roundtrip",
    "functions.skew",
    "operators.tpch_deep",
    "operators.quantile_bin_queries",
    "operators.relational",
    "pipelines",
]

# Hand-curated external-verification window: a prefix-sampling gate with
# ~50 slots should spend them across EVERY operator lane (the lanes
# VERDICT r2 names first), not exhaust one lane. Ordered; names absent
# from the registry are ignored. Each round the window rotates to the
# queries the committed CORRECTNESS_r*.json files sampled least recently
# (scripts/rotate_window.py suggests the next one).
_PRIORITY_WINDOW = [
    # r13 rotation (VERDICT r12 item 7): the window moves onto (a) the
    # five oracle-backed lanes the r12 optimization round REWROTE —
    # until now they carried only pytest-parity evidence, no external
    # driver sample (training_data_prep, the sixth rewrite, is
    # rows-only by design; its value-verified composite twin
    # corpus_curation_report stands in); (b) every oracle-backed lane
    # round 13 touched (Arrow/_emb fixes, semdedup pin, streaming sink
    # + schema memo, observe-based graph loops, spread-memo loaders);
    # (c) the stalest r5-green cohort as drift fillers (per
    # scripts/rotate_window.py; the r12 window already re-certified the
    # full r4 cohort).
    # --- (a) r12 rewrites, externally unsampled ---
    "recursive_cte_order_chain", "max_cover_selection",
    "transpose_flag_profile", "similarity_lsh_portable",
    "dedup_detector_agreement",
    # --- (b) r13-touched lanes ---
    "semdedup_embedding", "similarity_topk_cosine",
    "embedding_centroids", "embedding_dim_profile", "embedding_stats",
    "silhouette_by_label", "matryoshka_dim_quality",
    "triplet_margin_violations", "ann_hubness_report",
    "similarity_pq_adc_topk", "similarity_filtered_topk",
    "corpus_curation_report", "streaming_tokenize_lineitem",
    "streaming_tumbling_window", "streaming_hll_distinct",
    "streaming_stateful_user_totals", "streaming_static_enrich",
    "streaming_sprt_monitor", "streaming_dedup_keys",
    "dedup_components", "dedup_components_star", "graph_kcore",
    "graph_bfs_hops", "dedup_minhash_portable",
    "dedup_simhash_portable", "dedup_exact_hash",
    "text_top_ngram_cover", "bpe_merges",
    # --- (c) stalest r5 greens, drift fillers to 50 ---
    "cep_pattern_match", "chi2_term_source", "cohens_kappa_raters",
    "collation_lcase_distinct", "contamination_report",
    "context_length_sweep", "cross_source_dup_matrix",
    "cuped_adjusted_metric", "dedup_cluster_sizes",
    "dedup_survivorship", "dsir_importance_weights",
    "events_rolling_median", "funnel_step_significance",
    "histogram_equal_width", "hll_portable_distinct",
    "incremental_join_view", "js_divergence_by_source",
]

_PKG = __name__.rsplit(".", 1)[0]


def _modules():
    # no ImportError guard: a module that fails to import must fail the
    # registry loudly, not silently drop its queries from the gate
    return [import_module(f"{_PKG}.{m}") for m in _MODULES]


def _under_utc(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``fn`` run on a session set to UTC first, whoever built the
    session (an external caller brings its own): UTC so Spark renders
    the same instants DuckDB reads from the parquet footers. Forks inherit it
    through session._FORK_SYNCED_CONFS. ANSI mode is deliberately left
    at Spark 4's default (ON) — the whole registry passes under it
    (degenerate cases are guarded explicitly, e.g. kappa's p_e = 1 NULL,
    rather than leaning on non-ANSI NaN→0 casts), so queries behave
    identically on strict production clusters."""

    @functools.wraps(fn)
    def lane(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return lane


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in external-verification priority order, each entry
    wrapped by _under_utc.

    Three tiers: (1) the curated window, in window order; (2) every other
    oracle-backed query; (3) rows-only queries, which can't produce a
    value-hash match and must not displace oracle-backed ones from a
    prefix-sampling gate. Within tiers 2 and 3, _MODULES order.
    """
    raw: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in _modules():
        for name, fn in getattr(mod, "QUERIES", {}).items():
            assert name not in raw, f"duplicate query name {name}"
            raw[name] = fn
        oracles.update(getattr(mod, "ORACLES", {}))

    window_rank = {n: i for i, n in enumerate(_PRIORITY_WINDOW)}

    def tier(name: str) -> tuple[int, int]:
        if name not in oracles:
            return (2, 0)  # rows-only: never displace oracle-backed
        if name in window_rank:
            return (0, window_rank[name])  # curated cross-lane window
        return (1, 0)

    return {
        name: _under_utc(raw[name])
        for name in sorted(raw, key=lambda n: tier(n))  # stable sort
    }


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(getattr(mod, "ORACLES", {}))
    return out
