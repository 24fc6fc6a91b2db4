"""Plan-shape guards: the scalable operators must produce the physical
plans they were designed around (pushdown, pruning, broadcast, no global
sorts). A correctness-green query with the wrong plan is still a bug at
100 TB."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (  # noqa: E402
    assert_broadcast_join,
    assert_no_single_partition_window,
    assert_pushed_filters,
    formatted_plan,
    assert_read_schema_pruned,
    assert_whole_stage_codegen,
)


def test_q6_pushdown_and_pruning(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.relational import (
        q_tpch_q6,
    )

    df = q_tpch_q6(spark, sf_dir)
    assert_pushed_filters(df, "l_discount")
    assert_read_schema_pruned(df, 4)  # shipdate, discount, quantity, extendedprice
    assert_whole_stage_codegen(df)


def test_filter_project_pushdown_plan(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.relational import (
        q_filter_project_pushdown,
    )

    df = q_filter_project_pushdown(spark, sf_dir)
    assert_pushed_filters(df, "l_discount")
    assert_read_schema_pruned(df, 3)


def test_q3_q5_broadcast_dimensions(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.relational import (
        q_tpch_q3,
        q_tpch_q5,
    )

    assert_broadcast_join(q_tpch_q3(spark, sf_dir), 1)
    assert_broadcast_join(q_tpch_q5(spark, sf_dir), 4)


def test_scalable_tokenizer_no_global_sort(spark, sf_dir):
    """The 100 TB tokenize path must be map-only: no shuffle at all in
    the transform (the fit is a separate sketch pass)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (
        LINEITEM_KEYS,
        LINEITEM_MEASURES,
        bucketize,
        fit_quantile_boundaries,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_table,
    )

    df = load_table(spark, sf_dir, "lineitem")
    bounds = fit_quantile_boundaries(df, LINEITEM_MEASURES, relative_error=0.001)
    toks = bucketize(df, bounds, keep_cols=LINEITEM_KEYS)
    assert_no_single_partition_window(toks)
    plan = formatted_plan(toks)
    assert "Exchange" not in plan, f"transform stage should be shuffle-free:\n{plan}"


def test_topk_brute_force_broadcasts_queries(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.similarity import (
        q_similarity_topk_cosine,
    )

    df = q_similarity_topk_cosine(spark, sf_dir)
    # broadcast nested-loop join (non-equi condition) — corpus side never shuffles for the join
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(df)
    assert "Broadcast" in plan, f"queries side must broadcast:\n{plan}"


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """When the dim side is filtered but the join can't broadcast, the
    optimizer must inject a runtime bloom filter that prunes fact rows
    before the shuffle (the 100 TB shuffle-reduction lever). Broadcast
    is disabled only to force the shuffle-join regime the feature
    targets; thresholds are floored because fixture scans are tiny."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        assert_bloom_filter_pruning,
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        assert_bloom_filter_pruning(j)
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_variant_extract_prunes_scan(spark, sf_dir):
    """The VARIANT query must read only event_type + props (column
    pruning through parse_json)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.variant_json import (
        q_variant_extract_events,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        assert_read_schema_pruned,
    )

    assert_read_schema_pruned(q_variant_extract_events(spark, sf_dir), 2)


def test_gap_fill_no_global_window(spark, sf_dir):
    """The forward-fill window is per-user partitioned — a single-
    partition window here would serialize the whole grid."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.relational import (
        q_events_gap_fill,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        assert_no_single_partition_window,
    )

    assert_no_single_partition_window(q_events_gap_fill(spark, sf_dir))


def test_doc_chunk_overlap_map_only(spark, sf_dir):
    """The chunker is a pure 1-to-N map-side expansion: zero Exchange in
    the plan, and the scan reads only (doc_id, text)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        q_doc_chunk_overlap,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        assert_read_schema_pruned,
        formatted_plan,
    )

    df = q_doc_chunk_overlap(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, f"chunker must be shuffle-free:\n{plan}"
    assert_read_schema_pruned(df, 2)


def test_zscore_transform_broadcasts_stats(spark, sf_dir):
    """The z-score transform enriches every row with the 1-row fitted
    stats via broadcast — the lineitem side must not shuffle for it."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.llm_prep import (
        q_zscore_normalize,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(q_zscore_normalize(spark, sf_dir))
    # keyless 1-row join compiles to BroadcastNestedLoopJoin — what
    # matters is that the FACT side never shuffles for the enrich
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_salted_join_broadcasts_replicated_dim(spark, sf_dir):
    """The n_salt-replicated dim must still broadcast (replication keeps
    it tiny); a shuffle join would defeat the point at fixture scale."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.functions.skew import (
        q_join_skew_salted,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (
        assert_broadcast_join,
    )

    assert_broadcast_join(q_join_skew_salted(spark, sf_dir), 1)


def test_ngram_jaccard_dedup_after_verify(spark, sf_dir):
    """The similarity join must deduplicate candidate pairs AFTER
    verification, never before: the pre-verify candidate relation is the
    widest table in the plan (3.4M rows at sf0.1 for a 0.3M-row verified
    output), and an exchange there is the dominant shuffle. Catalyst goes
    one step further and pushes the jaccard predicate INTO the candidate
    join condition; pin both properties on the optimized logical plan:
    the pair-dedup Aggregate is the top operator (above the join), and
    the jaccard threshold appears no later than the candidate join line
    (i.e. inside its condition or a filter directly above it)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        q_dedup_ngram_jaccard,
    )

    df = q_dedup_ngram_jaccard(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    i_agg = plan.find("Aggregate [a_id")
    i_join = plan.find("Join Inner")
    i_thresh = plan.find(str(JACCARD_THRESHOLD))
    assert i_agg != -1 and i_join != -1 and i_thresh != -1, plan[:2000]
    # toString prints top-down: parent operators appear first
    assert i_agg < i_join, "pair dedup must sit above the candidate join"
    join_line_end = plan.find("\n", i_join)
    assert i_thresh <= join_line_end, (
        "jaccard verification must not run below the candidate join"
    )


def test_interval_bucket_join_no_nested_loop(spark, sf_dir):
    """The keyless interval join must plan as a hash join on the bucket
    key — never BroadcastNestedLoopJoin (the default physical plan for a
    non-equi-only condition, quadratic at scale)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.interval_join import (
        q_interval_bucket_join_orders,
    )

    df = q_interval_bucket_join_orders(spark, sf_dir)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan, plan[:2000]
    assert "HashJoin" in plan


def test_interval_bucket_join_matches_naive(spark, sf_dir):
    """Bucket-expansion result == the direct non-equi join, on a width
    deliberately NOT dividing the window length (the correctness claim
    is width-independent)."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.interval_join import (
        bucketized_interval_join,
    )

    pts = spark.range(500).select(
        (F.col("id") * 37 % 449).cast("long").alias("p"),
        F.col("id").alias("pid"),
    )
    iv = spark.range(60).select(
        (F.col("id") * 17 % 400).cast("long").alias("s"),
        ((F.col("id") * 17 % 400) + (F.col("id") % 9)).cast("long").alias("e"),
        F.col("id").alias("iid"),
    )
    got = sorted(
        bucketized_interval_join(pts, iv, "p", "s", "e", bucket_width=11)
        .select("pid", "iid")
        .collect()
    )
    want = sorted(
        pts.join(iv, (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e")))
        .select("pid", "iid")
        .collect()
    )
    assert got == want


def test_per_group_bin_no_single_partition_window(spark, sf_dir):
    """The grouped exact binner must use a PARTITIONED window — the
    whole point vs the global ntile lane."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin_queries import (
        q_quantile_bin_per_group,
    )

    assert_no_single_partition_window(q_quantile_bin_per_group(spark, sf_dir))


def test_dynamic_partition_pruning(spark, sf_dir):
    """Joining a partitioned fact to a filtered dim must inject a
    dynamicpruningexpression into the fact scan's PartitionFilters —
    Spark's runtime partition pruning, THE scan-elimination lever for
    star joins over partitioned 100 TB facts."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "false",
    )
    tmp = tempfile.mkdtemp(prefix="dpp_test_")
    try:
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        fact = orders.withColumn("od_year", F.year("o_orderdate"))
        fact.write.partitionBy("od_year").mode("overwrite").parquet(
            os.path.join(tmp, "fact")
        )
        factp = spark.read.parquet(os.path.join(tmp, "fact"))
        dim = spark.createDataFrame(
            [(1995, "x"), (1996, "y"), (1997, "z")], "y int, tag string"
        )
        j = factp.join(
            dim.filter(F.col("tag") == "x"), factp.od_year == dim.y
        ).agg(F.sum("o_totalprice"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.conf.unset(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
        )


def test_exchange_reuse_in_self_join(spark, sf_dir):
    """A self-join of the same aggregate must REUSE the shuffle
    (ReusedExchange/ReusedQueryStage) instead of computing it twice —
    Spark's automatic common-subplan sharing, worth half the job's IO
    when a pipeline joins an aggregate to itself (e.g. share-of-total)."""
    import os

    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    agg = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("q"))
    j = (
        agg.alias("a")
        .join(agg.alias("b"), F.col("a.l_partkey") == F.col("b.l_partkey"))
        .filter(F.col("a.q") > 100)
    )
    j.collect()  # AQE finalizes reuse at runtime
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:2000]


def test_semdedup_broadcasts_seeds(spark, sf_dir):
    """SemDeDup's centroid assignment must broadcast the K-row seed
    table (a shuffle of the corpus against an 8-row side is the wrong
    plan), and the pair stage must join on cluster_id without a
    nested-loop. r13: the query pins the assignment (localCheckpoint —
    it fans out to three consumers), which hides the assignment subtree
    behind a LogicalRDD in the final plan, so the broadcast pin is
    checked on the factored-out assignment builder and the
    no-cartesian pin on the full query."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.similarity import (
        _semdedup_assigned,
        q_semdedup_embedding,
    )

    assign_plan = formatted_plan(_semdedup_assigned(spark, sf_dir))
    assert (
        "BroadcastNestedLoopJoin" in assign_plan
        or "BroadcastHashJoin" in assign_plan
    ), assign_plan
    plan = formatted_plan(q_semdedup_embedding(spark, sf_dir))
    # the corpus-vs-corpus pair join must be an equi-join on cluster_id,
    # never a cartesian — in BOTH plans
    assert "CartesianProduct" not in assign_plan
    assert "CartesianProduct" not in plan


def test_pq_adc_broadcasts_codebook_and_lut(spark, sf_dir):
    """PQ encode joins the corpus subvectors against the broadcast
    codebook; ADC joins codes against the broadcast LUT — neither side
    may shuffle the corpus on codebook keys."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.similarity import (
        q_similarity_pq_adc_topk,
    )

    df = q_similarity_pq_adc_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_top_ngram_cover_map_only(spark, sf_dir):
    """The per-doc argmax runs inside array expressions: no KEYED
    exchange, no window, no join anywhere in the plan. The one allowed
    exchange is the round-robin input spread (r12, session.
    spread_small_scan) — it redistributes an under-split scan without
    introducing any key-based shuffle, so the map-only discipline this
    pin protects (no data movement keyed on row content) still holds."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.text import (
        q_text_top_ngram_cover,
    )

    df = q_text_top_ngram_cover(spark, sf_dir)
    plan = formatted_plan(df)
    # every Exchange must be the round-robin spread, never keyed.
    # ADVICE r12: the equality form passed vacuously (0 == 0) if the
    # fixture ever stopped being under-split; assert the cap explicitly
    # so the test distinguishes "map-only" (<=1 spread exchange) from
    # "keyed shuffle appeared" regardless of the fixture's split count.
    import re as _re

    n_exch = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exch <= 1, plan
    assert n_exch == plan.count("RoundRobinPartitioning"), plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_aqe_coalesces_small_shuffle(spark, sf_dir):
    """AQE partition coalescing: a low-cardinality aggregate shuffled
    across many partitions must be read back as few coalesced partitions
    — at 100 TB this is what keeps reducer counts matched to actual
    bytes instead of a static spark.sql.shuffle.partitions guess."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        df = (
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .groupBy("o_orderpriority")
            .count()
        )
        df.collect()  # adaptive plans finalize on execution
        plan = formatted_plan(df)
        assert "AQEShuffleRead" in plan, plan
        assert "coalesced" in plan, plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_join_hint_strategies(spark, sf_dir):
    """All three join-strategy hints must reach the planner: broadcast,
    shuffle_hash, merge — the knobs a 100 TB job uses when the optimizer
    guesses wrong (stats-less scans, skewed builds)."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    cond = o["o_custkey"] == c["c_custkey"]
    assert "BroadcastHashJoin" in formatted_plan(o.join(c.hint("broadcast"), cond))
    assert "ShuffledHashJoin" in formatted_plan(o.join(c.hint("shuffle_hash"), cond))
    assert "SortMergeJoin" in formatted_plan(o.join(c.hint("merge"), cond))


def test_geo_grid_join_is_equi_join_not_cartesian(spark, sf_dir):
    """The spatial join must plan as an equi-join on the cell id with
    the 9x-replicated supplier side broadcast — never a cartesian/
    nested-loop with a distance predicate (the naive plan the oracle
    runs)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.geo import (
        q_geo_grid_distance_join,
    )

    plan = formatted_plan(q_geo_grid_distance_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hybrid_rrf_topk_no_global_sort(spark, sf_dir):
    """Both retrieval lists are cut with TakeOrderedAndProject
    (distributed heap top-k); the corpus must never pass through a
    single-partition global Sort or a corpus-wide Window."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.retrieval import (
        q_hybrid_rrf_search,
    )

    plan = formatted_plan(q_hybrid_rrf_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_sequence_gap_audit_partitioned_adjacency(spark, sf_dir):
    """The id-adjacency window must be partitioned by the id bucket:
    the full events table may never collapse into one partition (the
    only partitionless window allowed is over the tiny per-bucket
    summary)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.audit import (
        q_sequence_gap_audit,
    )

    plan = formatted_plan(q_sequence_gap_audit(spark, sf_dir))
    # the bucket-partitioned window pass shows hashpartitioning on b
    assert "hashpartitioning(b" in plan, plan


def test_cbo_stats_after_analyze(spark, sf_dir):
    """Cost-based optimization needs table/column statistics: after
    ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, the optimized
    plan must carry a rowCount estimate (not just sizeInBytes) — the
    input join-reordering and broadcast decisions feed on at 100 TB,
    where guessing cardinalities from file sizes is how 5-way joins
    pick disastrous orders."""
    import os
    import uuid

    name = f"cbo_nation_{uuid.uuid4().hex[:8]}"
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.saveAsTable(name)
    old = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS n_nationkey"
        )
        spark.conf.set("spark.sql.cbo.enabled", "true")
        df = spark.table(name).groupBy("n_nationkey").count()
        stats = df._jdf.queryExecution().optimizedPlan().stats().toString()
        assert "rowCount" in stats, stats
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _scan_count(df):
    return (
        df._jdf.queryExecution().executedPlan().toString()
        .count("FileScan parquet")
    )


def test_round4_scan_floor_pins(spark, sf_dir):
    """Pin the corpus-pass economies bought in round 4 (Catalyst shares
    no subtrees across DAG branches, so un-pinned fan-out intermediates
    silently re-run whole exploded scans — naive Bayes measured SIX
    exploded corpus scans before localCheckpoint pinning). The counts
    below are VISIBLE-plan scans; the pinned fit passes run exactly
    once at query-build time by construction."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.model import (
        q_naive_bayes_source_confusion,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.text_stats import (
        q_chi2_term_source,
        q_pmi_cooccurrence_pairs,
        q_vocab_growth_heaps,
    )

    assert _scan_count(q_naive_bayes_source_confusion(spark, sf_dir)) <= 2
    assert _scan_count(q_vocab_growth_heaps(spark, sf_dir)) <= 2
    assert _scan_count(q_chi2_term_source(spark, sf_dir)) <= 3
    assert _scan_count(q_pmi_cooccurrence_pairs(spark, sf_dir)) <= 3


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """join_runtime_bloom_filter's whole point is the optimizer-injected
    runtime filter: the physical plan must contain
    bloom_filter_might_contain on the fact side (and the result itself
    is oracle-verified elsewhere — the filter is result-neutral)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.functions.skew import (
        q_join_runtime_bloom_filter,
    )

    df = q_join_runtime_bloom_filter(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:2000]


def test_pipe_syntax_plan_matches_classic(spark, sf_dir):
    """SQL pipe syntax must be pure notation: the pipe query's optimized
    plan has the same pushed parquet filter and no extra operators vs
    the classic rendering — Catalyst sees one logical plan."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.sql_surface import (
        q_sql_pipe_syntax_profile,
    )

    df = q_sql_pipe_syntax_profile(spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in physical and "l_shipdate" in physical


def test_memoized_builders_raw_plans_audited(spark, sf_dir):
    """The registry maps dedup_ngram_jaccard / orders_market_basket /
    label_propagation_communities to session-memoized wrappers whose
    DataFrames are localCheckpoint scans — so the registry-wide
    CartesianProduct ban never sees their REAL build plans. Audit the
    raw builders here: no cartesian, and the PPJoin must keep its
    equi-join shape (a regression to an all-pairs join would otherwise
    hide behind the checkpoint)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.analytics import (
        q_orders_market_basket,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.dedup import (
        q_dedup_minhash_portable,
        q_dedup_ngram_jaccard,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        q_label_propagation_communities,
    )

    for fn in (
        q_dedup_ngram_jaccard,
        q_orders_market_basket,
        q_label_propagation_communities,
        q_dedup_minhash_portable,
    ):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, fn.__name__
        # "keeps its equi-join shape" must be asserted, not implied: a
        # regression to a non-equi predicate plans as
        # BroadcastNestedLoopJoin (the planner's fallback), which the
        # cartesian ban alone would wave through — same O(n·m) compare
        # count at scale, just with one side broadcast.
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_profiling_pass_is_one_scan(spark, sf_dir):
    """Profiling is one plan: _value_counts, the frame every profiling
    pass (infer_column_classes, partition_advisor) reads, has exactly one
    leaf scan, whose ReadSchema holds exactly the profiled columns; a
    Generate turns each row into one (i, v) pair per column, with no
    Expand node (the multi-countDistinct shape); and all columns share
    exactly one exchange, keyed on (i, v), for a 2-column and a 5-column
    frame alike. infer_column_classes' vocabulary pass scans only the
    dict-encoded columns."""
    import re
    from unittest import mock

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (
        schema_infer,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_table,
    )

    def read_columns(df):
        # the formatted plan prints each scan's ReadSchema in full
        (schema,) = re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))
        return sorted(f.split(":")[0] for f in schema.split(","))

    li = load_table(spark, sf_dir, "lineitem")
    for cols in (
        ["l_orderkey", "l_returnflag"],
        ["l_orderkey", "l_returnflag", "l_quantity", "l_linenumber", "l_shipdate"],
    ):
        counts = schema_infer._value_counts(li.select(*cols))
        assert read_columns(counts) == sorted(cols)
        plan = counts._jdf.queryExecution().executedPlan().toString()
        assert "Generate" in plan and "Expand" not in plan, plan[:2000]
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(exchanges) == 1, plan[:2000]
        assert re.match(r"i#\d+, v#\d+, \d+$", exchanges[0]), exchanges

    passes = []
    real = schema_infer._value_counts

    def spy(df, keep=None):
        passes.append(real(df, keep))
        return passes[-1]

    with mock.patch.object(schema_infer, "_value_counts", spy):
        schema_infer.infer_column_classes(spark, li, "lineitem")
    stats, vocab = passes
    assert read_columns(stats) == sorted(li.columns)
    assert read_columns(vocab) == ["l_linenumber", "l_linestatus", "l_returnflag"]


def test_range_join_bucketed_is_equi_join(spark, sf_dir):
    """The bucketized range join exists precisely to turn a range
    predicate into an equi-join: the physical plan must be a shuffle
    equi-join on (user, hour_bucket) — never BroadcastNestedLoopJoin
    or a cartesian product carrying the time predicate."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_events_range_join_bucketed,
    )

    plan = formatted_plan(q_events_range_join_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # any hash-keyed equi-join qualifies: BroadcastHashJoin at fixture
    # sizes, SortMergeJoin/ShuffledHashJoin once both sides are large
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_asof_union_single_shuffle_two_sorts(spark, sf_dir):
    """The union as-of form must contain NO join at all — one hash
    partitioning on user_id feeding two Window sorts. Any Join node in
    the plan means the fan-out the formulation exists to avoid has
    crept back in."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_asof_join_directions_union,
    )

    plan = formatted_plan(q_asof_join_directions_union(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 2, plan


def test_basket_guarded_repartition_survives(spark):
    """The explicit repartition(N, okey, u, v) in the guarded basket
    pair stream is load-bearing: AQE coalesces the block join's tiny
    shuffle INPUT down to 1-2 partitions otherwise, re-serializing the
    d^2/2 emission the decomposition exists to spread (measured 6.4x on
    the full query, PROBE_MARKET_BASKET_r08). Pin the user-specified
    repartition in the plan so a cleanup can't silently drop it."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.analytics import (
        basket_pair_stream_guarded,
    )

    items = spark.createDataFrame(
        [(1, i) for i in range(8)] + [(2, 1), (2, 2)],
        "okey bigint, part bigint",
    )
    plan = formatted_plan(basket_pair_stream_guarded(items, threshold=4))
    assert plan.count("REPARTITION_BY_NUM") >= 2, plan


def test_asof_directions_pinned_smj_single_agg_exchange(spark, sf_dir):
    """The as-of direction matrix's plan is pinned against cost-model
    flapping (r10): left to Catalyst/AQE the borderline join chose
    three different physicals across sessions — including a broadcast
    of the EVENTS side whose missing output partitioning forced the
    ~10x fan-out through an extra (event_id, user_id, ts) exchange
    (measured 22/26.5/70 s at 100x for the same query). Pinned shape:
    exactly two user-specified fixed-width exchanges feeding a
    sort-merge join, no broadcast, and the direction aggregate reuses
    the join partitioning (user_id is a subset of the group keys) — so
    the executed plan carries NO ENSURE_REQUIREMENTS exchange at all."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_asof_join_directions,
    )

    df = q_asof_join_directions(spark, sf_dir)
    # collect() — NOT a noop write — finalizes THIS dataframe's own
    # AdaptiveSparkPlan; a write creates a separate QueryExecution and
    # leaves df's plan at isFinalPlan=false, so the assertions would
    # run against the never-executed initial plan and miss a runtime
    # broadcast flip (r10 closing review).
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    # AdaptiveSparkPlan.toString prints the final plan followed by the
    # initial plan — assert on the FINAL section only
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final, final
    assert "BroadcastExchange" not in final, final
    assert final.count("REPARTITION_BY_NUM") == 2, final
    assert "ENSURE_REQUIREMENTS" not in final, final


def test_asof_events_orders_pinned_smj_window_exchange(spark, sf_dir):
    """The backward-only WINDOW formulation gets the same join pin as
    the direction matrix (its 100x time flapped 15 s vs 37 s across
    sessions): deterministic SMJ over two fixed-width exchanges, no
    broadcast. Unlike the aggregate form, the per-event ranking window
    NEEDS one ENSURE_REQUIREMENTS exchange on event_id — assert exactly
    one, so a regression that re-partitions the fan-out twice (the
    broadcast-flip symptom) still trips."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_asof_join_events_orders,
    )

    df = q_asof_join_events_orders(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final, final
    assert "BroadcastExchange" not in final, final
    assert final.count("REPARTITION_BY_NUM") == 2, final
    assert final.count("ENSURE_REQUIREMENTS") == 1, final


def _seq(s):
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(node):
    """Every node of a physical plan, descending into AQE's current plan,
    its query stages, and cached relations (innerChildren)."""
    kids = _seq(node.children()) + _seq(node.innerChildren())
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())
    if cls.endswith("QueryStageExec"):
        kids.append(node.plan())
    yield node
    for k in kids:
        yield from _plan_nodes(k)


def test_training_data_prep_moves_no_text(spark, sf_dir):
    """prepare_training_data reads the survivors' text once, into its one
    narrow pin (doc_id, lang, source, f_tokens, f_chars, fp, toks). Below the
    sink, no exchange, broadcast or cached relation carries a ``text``
    attribute: the localCheckpoint cuts the scan-side plan that read it
    out of the lineage, so the MinHash stage, the cache, the fit and
    the sink move only the narrow columns."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        prepare_training_data,
    )

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    try:
        out = prepare_training_data(spark, sf_dir)
        nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))
        kinds = {n.getClass().getSimpleName() for n in nodes}
        assert "InMemoryRelation" in kinds, kinds
        assert any("Exchange" in k for k in kinds), kinds
        carrying = [
            n.getClass().getSimpleName()
            for n in nodes
            if any(
                w in n.getClass().getSimpleName()
                for w in ("Exchange", "InMemory", "Broadcast")
            )
            and "text" in {a.name() for a in _seq(n.output())}
        ]
        assert not carrying, carrying
    finally:
        rdds = persisted()
        for rdd_id in set(rdds.keySet()) - before:
            rdds.get(rdd_id).unpersist(False)


def test_minhash_drop_ids_one_b_id_exchange(spark, sf_dir):
    """The candidate pairs are hashed on b_id once: that exchange serves
    the top-M window, the verify joins (broadcast, so they keep the
    partitioning) and the fate window, all partitioned by b_id, so no
    other exchange keys on a pair id."""
    import re

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.dedup import (
        minhash_near_dup_drop_ids,
        pin_doc_tokens,
    )

    toks = pin_doc_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = minhash_near_dup_drop_ids(toks)._jdf.queryExecution().executedPlan().toString()
    keyed = [
        k for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if re.search(r"\b[ab]_id#", k)
    ]
    assert len(keyed) == 1, plan[:3000]
    assert re.match(r"b_id#\d+L?, \d+$", keyed[0]), keyed


def test_training_data_prep_keeps_survivors_without_join(spark, sf_dir, monkeypatch):
    """The corpus pipeline keeps the near-dedup survivors with a filter
    on the MinHash stage's fate column, and decides the exact dedup in
    the same stage: its plan, the cached relation included, has no
    left-anti join, no exchange keyed on doc_id alone and none keyed on
    the digest ``fp``, and the dedup runs through exactly one exchange
    keyed on (band, bucket) and one keyed on b_id. The pin reads the
    documents in one FileScan, with no hash exchange, broadcast or
    join."""
    import re

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        pipelines,
    )

    pinned = []
    real = pipelines.pin_doc_tokens

    def spy(docs, *keep):
        pinned.append(docs.select("doc_id", *keep)._jdf.queryExecution().executedPlan())
        return real(docs, *keep)

    monkeypatch.setattr(pipelines, "pin_doc_tokens", spy)

    def shuffle_keys(plan):
        shuffles = [  # each exchange's own line, not its subtree
            n.toString().splitlines()[0] for n in _plan_nodes(plan)
            if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        ]
        return [
            re.sub(r"#\d+L?|, \d+$", "", k)
            for s in shuffles
            for k in re.findall(r"hashpartitioning\(([^)]*)\)", s)
        ]

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    try:
        out = pipelines.prepare_training_data(spark, sf_dir)
        nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))
        joins = [n.toString() for n in nodes if "Join" in n.getClass().getSimpleName()]
        assert not [j for j in joins if "LeftAnti" in j], joins
        keys = shuffle_keys(out._jdf.queryExecution().executedPlan())
        assert "doc_id" not in keys, keys
        assert not [k for k in keys if re.search(r"\bfp\b", k)], keys
        assert keys.count("band, bucket") == 1, keys
        assert keys.count("b_id") == 1, keys
        assert len(pinned) == 1
        pin_plan = pinned[0].toString()
        assert not shuffle_keys(pinned[0]), pin_plan[:3000]
        assert "BroadcastExchange" not in pin_plan and "Join" not in pin_plan, pin_plan[:3000]
        scans = [
            n.toString() for n in _plan_nodes(pinned[0])
            if n.getClass().getSimpleName() == "FileSourceScanExec"
        ]
        assert len(scans) == 1 and "documents" in scans[0], scans
    finally:
        rdds = persisted()
        for rdd_id in set(rdds.keySet()) - before:
            rdds.get(rdd_id).unpersist(False)


def test_minhash_drop_ids_one_bucket_exchange_no_band_pin(spark, sf_dir):
    """The drop-ids path pairs each band row with its bucket's
    representatives through one exchange keyed on (band, bucket): no
    join keys on band or bucket, and the band rows are not pinned (no
    RDD scan carries a band column), so the signatures are computed in
    that exchange's map stage."""
    import re

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.dedup import (
        minhash_near_dup_drop_ids,
        pin_doc_tokens,
    )

    toks = pin_doc_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = minhash_near_dup_drop_ids(toks)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    banded = [
        k for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if re.search(r"\b(band|bucket)#", k)
    ]
    assert len(banded) == 1, plan[:3000]
    assert re.match(r"band#\d+, bucket#\d+L?, \d+$", banded[0]), banded
    band_joins = [
        ln for ln in lines if "Join" in ln and re.search(r"\b(band|bucket)#", ln)
    ]
    assert not band_joins, band_joins
    rdd_scans = [ln for ln in lines if "Scan ExistingRDD" in ln]
    assert rdd_scans, plan[:3000]
    assert not [ln for ln in rdd_scans if re.search(r"\bband#", ln)], rdd_scans
