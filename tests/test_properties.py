"""Property-based tests (hypothesis) for the tokenizer's core
invariants — the checks the reference never had for its three divergent
binning implementations (SURVEY.md §5, §7 "hard parts"):

1. bins stay in [0, bins-1] for ANY data (including constants, extreme
   magnitudes, duplicate-heavy columns);
2. bucketize is monotonic: x <= y  =>  bin(x) <= bin(y);
3. duplicate boundary collapse (the reference's duplicates='drop')
   yields fewer, still-valid bins on low-cardinality data;
4. the Bucketizer lane and the Arrow searchsorted lane agree everywhere.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import given, settings, strategies as st  # noqa: E402

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (  # noqa: E402
    _interior_splits,
    bucketize,
    bucketize_pandas_udf,
    fit_quantile_boundaries,
)

finite_floats = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(finite_floats, min_size=4, max_size=200),
    st.integers(min_value=2, max_value=20),
)
def test_bins_in_range_and_monotonic(spark, values, bins):
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(values)], "id long, x double")
    bounds = fit_quantile_boundaries(df, ["x"], bins=bins, relative_error=0.0)
    toks = bucketize(df, bounds, keep_cols=["id"])
    rows = {r["id"]: r["x_bin"] for r in toks.collect()}
    n_interior = len(_interior_splits(bounds["x"]))
    for i, v in enumerate(values):
        assert 0 <= rows[i] <= n_interior
    # monotonic: sort by value, bins must be non-decreasing
    by_val = [rows[i] for i, _ in sorted(enumerate(values), key=lambda t: t[1])]
    assert all(a <= b for a, b in zip(by_val, by_val[1:]))


@settings(max_examples=10, deadline=None)
@given(st.lists(st.sampled_from([1.0, 2.0, 3.0]), min_size=10, max_size=100))
def test_duplicate_boundaries_collapse(spark, values):
    """<=3 distinct values with 10 requested bins: duplicate quantile
    boundaries collapse (duplicates='drop' semantics — strictly fewer
    splits than requested; exact count varies with percentile
    interpolation) and every row still lands in a valid bin."""
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    bounds = fit_quantile_boundaries(df, ["x"], bins=10, relative_error=0.0)
    interior = _interior_splits(bounds["x"])
    assert len(interior) <= 9  # never more than bins-1; dups collapsed
    toks = bucketize(df, bounds)
    mx = toks.selectExpr("max(x_bin) AS m").collect()[0]["m"]
    assert 0 <= mx <= len(interior)


@settings(max_examples=8, deadline=None)
@given(st.lists(finite_floats, min_size=8, max_size=120))
def test_backend_agreement(spark, values):
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(values)], "id long, x double")
    bounds = fit_quantile_boundaries(df, ["x"], bins=8, relative_error=0.0)
    a = bucketize(df, bounds, keep_cols=["id"])
    b = bucketize_pandas_udf(df, bounds, keep_cols=["id"])
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_freq_items_no_false_negatives(spark, sf_dir):
    """freqItems contract: every value with frequency > support*n must
    appear in the result list (false positives allowed, negatives not)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.relational import (
        q_stat_freq_items,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_table,
    )

    row = q_stat_freq_items(spark, sf_dir).collect()[0]
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    for col, out_field in (
        ("o_orderpriority", "priority_freq_items"),
        ("o_orderstatus", "status_freq_items"),
    ):
        counts = orders.groupBy(col).count().collect()
        must_have = {r[col] for r in counts if r["count"] > 0.2 * n}
        got = set(row[out_field].split(","))
        assert must_have <= got, (col, must_have, got)


def test_approx_top_k_exact_at_fixture_cardinality(spark, sf_dir):
    """approx_top_k's sketch capacity (default 10x k) far exceeds the
    5-value event_type cardinality, so items AND counts must equal the
    exact groupBy top-k here — the sketch is only allowed to
    approximate when capacity is exceeded."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.relational import (
        q_agg_approx_top_k,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_events,
    )

    got = {(r["event_type"], r["n"]) for r in q_agg_approx_top_k(spark, sf_dir).collect()}
    exact = {
        (r["event_type"], r["count"])
        for r in load_events(spark, sf_dir).groupBy("event_type").count().collect()
    }
    assert got == exact


def test_cms_never_underestimates(spark, sf_dir):
    """Count-min guarantee: estimate >= true count for every probe."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.sketches import (
        q_count_min_sketch,
    )

    rows = q_count_min_sketch(spark, sf_dir).collect()
    assert rows, "probe set must not be empty"
    for r in rows:
        assert r["cms_estimate"] >= r["true_n"], r


def test_hll_sketch_union_equals_whole(spark, sf_dir):
    """Apache DataSketches HLL mergeability: register-wise union of two
    half-corpus sketches must estimate EXACTLY what one whole-corpus
    sketch estimates — the property that lets partial sketches roll up
    across partitions/days without re-scanning (approx distinct at
    100 TB is only usable because of this)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    sk = (
        a.agg(F.hll_sketch_agg("user_id").alias("ska"))
        .crossJoin(b.agg(F.hll_sketch_agg("user_id").alias("skb")))
        .select(
            F.hll_sketch_estimate(
                F.hll_union("ska", "skb")
            ).alias("est_merged")
        )
    )
    whole = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_whole")
    )
    m = sk.collect()[0]["est_merged"]
    w = whole.collect()[0]["est_whole"]
    assert m == w, (m, w)


def test_table_checksum_partition_invariant(spark, sf_dir):
    """Orderless table fingerprint: sum + bit_xor of per-row xxhash64
    must be invariant under repartitioning and row order — the cheap
    anti-entropy check for comparing replicas/copies of a 100 TB table
    without sorting or shuffling either side."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cols = [F.col(c) for c in orders.columns]

    def fp(df):
        r = df.select(F.xxhash64(*cols).alias("h")).agg(
            # decimal(38,0) sum: exact, orderless, and can't hit ANSI
            # long overflow the way sum(bigint) of hashes does
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.bit_xor("h").alias("x"),
        ).collect()[0]
        return (r["s"], r["x"])

    base = fp(orders)
    assert fp(orders.repartition(7)) == base
    assert fp(orders.orderBy(F.col("o_totalprice").desc())) == base
    # and it must actually DETECT a difference
    assert fp(orders.limit(orders.count() - 1)) != base


def test_degenerate_inputs_quantile_bin(spark):
    """Degenerate inputs must not crash or go silently wrong: a constant
    column (every boundary equal), a single row, and an all-null column.
    The 10-hour-job reality: degenerate partitions/columns WILL occur at
    100 TB and must produce defined results."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        bucketize,
        exact_quantile_bin,
        fit_quantile_boundaries,
    )

    const = spark.createDataFrame([(i, 5.0) for i in range(100)], "id int, v double")
    # exact lane: constant column still fills bins by the total order
    binned = exact_quantile_bin(const, ["v"], bins=4, keys=["id"])
    got = {r["v_bin"] for r in binned.collect()}
    assert got == {0, 1, 2, 3}
    # fitted lane: duplicate boundaries collapse -> everything lands in
    # one defined bin, never an error
    bounds = fit_quantile_boundaries(const, ["v"], bins=4)
    out = bucketize(const, bounds)
    assert out.select("v_bin").distinct().count() == 1

    single = spark.createDataFrame([(1, 3.25)], "id int, v double")
    b1 = fit_quantile_boundaries(single, ["v"], bins=4)
    assert bucketize(single, b1).count() == 1

    nulls = spark.createDataFrame(
        [(i, None) for i in range(10)], "id int, v double"
    )
    bn = fit_quantile_boundaries(
        const, ["v"], bins=4
    )  # fit on real data, transform null rows
    outn = bucketize(nulls, bn)
    # pinned NaN/null policy: last bin
    assert outn.select("v_bin").distinct().collect()[0][0] is not None


def test_degenerate_inputs_dedup(spark):
    """Empty and single-doc corpora through the dedup lanes."""
    from pyspark.sql import functions as F  # noqa: F401

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.dedup import (
        minhash_near_dup_drop_ids,
        pin_doc_tokens,
    )

    empty = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    assert minhash_near_dup_drop_ids(pin_doc_tokens(empty)).count() == 0
    one = spark.createDataFrame(
        [(1, "a b c d e f g h", "en", "s", 15)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    fates = minhash_near_dup_drop_ids(pin_doc_tokens(one)).collect()
    assert [(r["doc_id"], r["dropped"]) for r in fates] == [(1, False)]


def test_fold_ops_partition_invariant(spark, sf_dir):
    """Distributed determinism of the nonlinear-fold operators (CUSUM,
    SES, TWAP): identical results whether the engine splits the scan
    into many tiny partitions and shuffles across 3 reducers, or reads
    big splits across 64 — because every fold orders its series with
    sort_array under a stated total order before folding, no
    aggregation-order nondeterminism can leak into results. This is the
    property that makes the ops safe on a 1000-executor cluster."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_events_cusum_changepoints,
        q_events_ses_forecast,
        q_events_twap,
    )

    def run():
        return [
            sorted(map(tuple, q(spark, sf_dir).collect()), key=repr)
            for q in (
                q_events_cusum_changepoints,
                q_events_ses_forecast,
                q_events_twap,
            )
        ]

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        tiny = run()
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
        big = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_bytes)
    assert tiny == big


@given(st.integers(min_value=0, max_value=2**62))
@settings(max_examples=200, deadline=None)
def test_shuffle_hash_limb_split_matches_bignum(doc_id):
    """corpus_global_shuffle's 16-bit limb-split multiply-mod must equal
    the true (doc_id * KNUTH_C) mod 2^32 computed in Python bignum for
    the WHOLE bigint domain — including doc_id beyond 3.5e9 where the
    naive BIGINT product overflows (the 100 TB regime the fix targets).
    Pure arithmetic, no Spark session needed."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        KNUTH_C,
        MOD32,
    )

    a = doc_id % MOD32
    hi, lo = a // 65536, a % 65536
    limb = ((hi * KNUTH_C % 65536) * 65536 + lo * KNUTH_C) % MOD32
    assert limb == (doc_id * KNUTH_C) % MOD32
    # every intermediate stays inside int64 (the point of the split)
    assert (hi * KNUTH_C % 65536) * 65536 + lo * KNUTH_C < 2**63


def test_kappa_degenerate_marginals_null(spark):
    """Cohen's kappa with single-class marginals (p_e = 1) must return
    NULL, not a silent 0 from a non-ANSI NaN cast (ADVICE r4). Build a
    tiny corpus where every doc passes both raters."""
    import pandas as pd

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.eval_stats import (
        KAPPA_MIN_CHARS,
        KAPPA_MIN_TOKENS,
        q_cohens_kappa_raters,
    )

    long_text = " ".join(["word"] * max(KAPPA_MIN_TOKENS, KAPPA_MIN_CHARS))
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [long_text] * 3})
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="kappa_degen_")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    row = q_cohens_kappa_raters(spark, d).collect()[0]
    assert row["n"] == 3 and row["agree"] == 3
    assert row["kappa_ppm"] is None


def test_basket_guarded_equals_direct_with_mega_order(spark):
    """The r8 market-basket scale twin's exactness contract, at unit
    scale: block decomposition must enumerate every unordered pair
    exactly once across all three regimes — cross-block pairs whose
    part-value order DISAGREES with their block order (the case a
    naive p1 < p2 join condition on block keys silently drops),
    same-block pairs (emitted twice by the block cross product, halved
    by the value filter), and self-pairs (dropped). A tiny threshold
    forces several orders down the blocked path; a mega order mixes
    both paths in one frame."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.analytics import (
        basket_support_direct_form,
        basket_support_guarded_form,
    )

    items = (
        spark.range(4000)
        .select(
            F.when(F.col("id") < 1200, F.pmod(F.col("id"), F.lit(150)))
            .otherwise(F.lit(9999))
            .alias("okey"),
            F.pmod(F.xxhash64("id"), F.lit(700)).alias("part"),
        )
        .distinct()
    )
    direct = basket_support_direct_form(items)
    for n_blocks in (1, 3, 16):  # 1 = degenerate single block
        guarded = basket_support_guarded_form(
            items, threshold=6, n_blocks=n_blocks
        ).select(*direct.columns)
        assert direct.exceptAll(guarded).count() == 0, n_blocks
        assert guarded.exceptAll(direct).count() == 0, n_blocks


def test_fuzzy_block_join_can_route_through_guarded_pairs(spark):
    """The size-routed pair generator is generic over any (key, value)
    relation — the fuzzy name join's per-block quadratic comparison has
    the same mega-group exposure as the basket's mega-order (a hot head
    noun concentrates b^2 levenshtein pairs in one task at catalog
    scale). Pin that basket_pair_stream_guarded over (block, name)
    enumerates EXACTLY the pairs the production equi-join form builds,
    on a corpus with one pathological block forced down the block
    path."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.analytics import (
        basket_pair_stream_guarded,
    )

    names = spark.range(300).select(
        F.when(F.col("id") < 260, F.lit("tomato"))
        .otherwise(F.concat(F.lit("b"), (F.col("id") % 5).cast("string")))
        .alias("block"),
        F.concat(F.lit("name_"), F.col("id").cast("string")).alias("p_name"),
    ).distinct()
    a = names.select(F.col("p_name").alias("a_name"), "block")
    b = names.select(F.col("p_name").alias("b_name"), "block")
    direct = (
        a.join(b, "block")
        .filter(F.col("a_name") < F.col("b_name"))
        .select(F.col("a_name").alias("p1"), F.col("b_name").alias("p2"))
    )
    guarded = basket_pair_stream_guarded(
        names.select("block", "p_name"), threshold=20, n_blocks=8
    )
    assert direct.exceptAll(guarded).count() == 0
    assert guarded.exceptAll(direct).count() == 0
