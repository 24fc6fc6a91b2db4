"""SQL DDL / catalog surface: CTAS, INSERT INTO, partitioned managed
tables, SHOW PARTITIONS, and partition pruning through the catalog —
the warehouse-facing API a user of the engine drives with pure SQL.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (  # noqa: E402
    formatted_plan,
)


def test_ctas_insert_show_partitions_prune(spark, sf_dir, tmp_path):
    db = "graft_cat_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/warehouse'")
    try:
        orders = f"{sf_dir}/orders.parquet"
        # CTAS, partitioned by status — the managed-table layout step
        spark.sql(
            f"""
            CREATE TABLE {db}.orders_p USING parquet
            PARTITIONED BY (o_orderstatus)
            AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
               FROM parquet.`{orders}` WHERE o_orderkey < 5000
            """
        )
        base = spark.sql(f"SELECT count(*) c FROM {db}.orders_p").collect()[0]["c"]
        assert base > 0
        # INSERT INTO appends through the catalog (dynamic partitions)
        spark.sql(
            f"""
            INSERT INTO {db}.orders_p
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM parquet.`{orders}`
            WHERE o_orderkey >= 5000 AND o_orderkey < 6000
            """
        )
        after = spark.sql(f"SELECT count(*) c FROM {db}.orders_p").collect()[0]["c"]
        extra = spark.read.parquet(orders).filter(
            "o_orderkey >= 5000 AND o_orderkey < 6000"
        ).count()
        assert after == base + extra
        # catalog knows the partitions
        parts = {
            r[0] for r in spark.sql(f"SHOW PARTITIONS {db}.orders_p").collect()
        }
        statuses = {
            f"o_orderstatus={r[0]}"
            for r in spark.read.parquet(orders)
            .filter("o_orderkey < 6000")
            .select("o_orderstatus").distinct().collect()
        }
        assert parts == statuses
        # partition pruning: a status filter must prune at the scan, and
        # the answer must match the source-of-truth parquet
        q = spark.sql(
            f"SELECT count(*) c FROM {db}.orders_p WHERE o_orderstatus = 'F'"
        )
        plan = formatted_plan(q)
        assert "o_orderstatus=F" in plan.replace("'", "") or "PartitionFilters" in plan, plan
        got = q.collect()[0]["c"]
        want = spark.read.parquet(orders).filter(
            "o_orderkey < 6000 AND o_orderstatus = 'F'"
        ).count()
        assert got == want
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_analyze_table_cbo_stats(spark, sf_dir):
    """ANALYZE TABLE must land row-count + per-column stats in the
    catalog, and the optimizer must SEE them (rowCount on the optimized
    plan) — the input the cost-based join reorderer consumes. At 100 TB
    these stats are what keep a 6-table star join from picking the wrong
    build side."""
    import os

    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        spark.sql("DROP TABLE IF EXISTS cbo_stats_t")
        src = os.path.join(sf_dir, "orders.parquet")
        spark.sql(
            "CREATE TABLE cbo_stats_t USING parquet AS "
            f"SELECT * FROM parquet.`{src}`"
        )
        spark.sql("ANALYZE TABLE cbo_stats_t COMPUTE STATISTICS FOR ALL COLUMNS")
        stats = (
            spark.table("cbo_stats_t")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        n = spark.table("cbo_stats_t").count()
        assert stats.rowCount().isDefined()
        assert stats.rowCount().get() == n
        assert stats.attributeStats().size() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_stats_t")
        spark.conf.set("spark.sql.cbo.enabled", "false")


def test_parameterized_sql(spark, sf_dir):
    """spark.sql named-parameter binding (Spark 4): same plan+result as
    the literal query, no string interpolation (the injection-safe API
    a production query service uses)."""
    import os

    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).createOrReplaceTempView(
        "v_param_orders"
    )
    got = spark.sql(
        "SELECT count(*) AS n FROM v_param_orders WHERE o_totalprice > :thr",
        args={"thr": 400000.0},
    ).first()["n"]
    want = spark.sql(
        "SELECT count(*) AS n FROM v_param_orders WHERE o_totalprice > 400000.0"
    ).first()["n"]
    assert got == want and got > 0


def test_cli_list_and_unknown():
    """The CLI surface: `list` enumerates the registry with oracle
    markers; an unknown name exits 2 with a did-you-mean hint. (run/
    explain spin a JVM — exercised by the smoke scripts, not per-test.)"""
    import io
    import contextlib

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.__main__ import (
        main,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["list"]) == 0
    out = buf.getvalue()
    assert "tpch_q1" in out and "oracle-backed" in out

    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        assert main(["run", "tpch_q1_typo"]) == 2
    assert "did you mean" in err.getvalue()


def test_session_memo_identity_and_keying(spark, sf_dir):
    """session_memo contract: same (context, key, sf_dir) returns the
    SAME pinned DataFrame object (consumers share one checkpoint);
    different key or sf_dir builds separately; the build thunk runs at
    most once per key."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        session_memo,
    )

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).selectExpr("id AS v")

    a = session_memo(spark, "memo_test_a", sf_dir, build)
    b = session_memo(spark, "memo_test_a", sf_dir, build)
    assert a is b and calls["n"] == 1
    c = session_memo(spark, "memo_test_b", sf_dir, build)
    assert c is not a and calls["n"] == 2
    d = session_memo(spark, "memo_test_a", sf_dir + "/other", build)
    assert d is not a and calls["n"] == 3
    assert sorted(r["v"] for r in a.collect()) == [0, 1, 2, 3, 4]
    # ADVICE r5: a forked newSession() must get its OWN slot — a
    # DataFrame is bound to the session that built it, so handing the
    # fork another session's plan would mix session state/confs.
    forked = spark.newSession()

    def build_forked():
        calls["n"] += 1
        return forked.range(5).selectExpr("id AS v")

    e = session_memo(forked, "memo_test_a", sf_dir, build_forked)
    assert e is not a and calls["n"] == 4
    f = session_memo(forked, "memo_test_a", sf_dir, build_forked)
    assert f is e and calls["n"] == 4  # memoized within the fork


def test_forked_session_cached_per_purpose(spark):
    """ADVICE r6: view/conf-isolating lanes must reuse ONE fork per
    (context, purpose) — not leak a JVM SessionState per invocation —
    while different purposes stay conf-isolated from each other and
    from the caller."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        forked_session,
    )

    a1 = forked_session(spark, "t.purpose_a")
    a2 = forked_session(spark, "t.purpose_a")
    b = forked_session(spark, "t.purpose_b")
    assert a1 is a2
    assert a1 is not b and a1 is not spark
    a1.conf.set("spark.sql.cbo.enabled", "true")
    assert b.conf.get("spark.sql.cbo.enabled") == "false"
    assert spark.conf.get("spark.sql.cbo.enabled") == "false"


def test_forked_session_syncs_confs_on_first_creation(spark):
    """ADVICE r7: newSession() starts from SparkContext defaults, not
    the parent's runtime conf — the plan-shaping confs must be synced
    on the CREATE path too, or a lane's first invocation runs under
    different shuffle/AQE/ANSI settings than every later one."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        forked_session,
    )

    tz = "spark.sql.session.timeZone"
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    orig_tz = spark.conf.get(tz)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set(tz, "America/New_York")
        fresh = forked_session(spark, "t.purpose_first_sync")
        assert fresh.conf.get("spark.sql.shuffle.partitions") == "7"
        assert fresh.conf.get(tz) == "America/New_York"
        # ...and the reuse path keeps tracking the parent
        spark.conf.set("spark.sql.shuffle.partitions", "11")
        spark.conf.set(tz, "Asia/Kolkata")
        again = forked_session(spark, "t.purpose_first_sync")
        assert again is fresh
        assert again.conf.get("spark.sql.shuffle.partitions") == "11"
        assert again.conf.get(tz) == "Asia/Kolkata"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
        spark.conf.set(tz, orig_tz)


def test_lanes_keep_callers_views(spark, sf_dir):
    """Lanes that read fixture tables by name take them as spark.sql
    DataFrame arguments, so a caller's own ``customer`` and ``nation``
    views survive geo_hilbert_layout and lateral_join_topk. The lanes
    whose subject is a named table or a temporary function (the
    IDENTIFIER lane, the SQL-UDF lane) register them on their forked
    session. The caller is a fresh session, so views other tests left
    cannot mask drift: it ends with only its own views and no
    temporary function."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.geo import (
        q_geo_cell_rollup,
        q_geo_hilbert_layout,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.relational import (
        q_agg_listagg,
        q_exists_subquery,
        q_grouping_sets,
        q_lateral_join_topk,
        q_lateral_posexplode,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.sql_surface import (
        q_parameterized_sql_segment_revenue,
        q_sql_pipe_syntax_profile,
        q_sql_udf_discounted_revenue,
    )

    caller = spark.newSession()
    caller.createDataFrame([(7,)], "mine int").createOrReplaceTempView("customer")
    caller.createDataFrame([(8,)], "mine int").createOrReplaceTempView("nation")
    assert q_geo_hilbert_layout(caller, sf_dir).count() > 0
    assert q_lateral_join_topk(caller, sf_dir).count() > 0
    for lane in (
        q_geo_cell_rollup,
        q_lateral_posexplode,
        q_grouping_sets,
        q_exists_subquery,
        q_agg_listagg,
        q_sql_udf_discounted_revenue,
        q_sql_pipe_syntax_profile,
        q_parameterized_sql_segment_revenue,
    ):
        assert lane(caller, sf_dir).count() > 0, lane.__name__
    assert [tuple(r) for r in caller.table("customer").collect()] == [(7,)]
    assert [tuple(r) for r in caller.table("nation").collect()] == [(8,)]
    views = {t.name for t in caller.catalog.listTables() if t.isTemporary}
    assert views == {"customer", "nation"}
    assert caller.sql("SHOW USER FUNCTIONS").collect() == []


def test_scoped_confs_restore_unset_keys(spark, sf_dir):
    """footer_stats and the stateful streaming lane flip confs for their
    own run and restore the caller's state: a key that was unset is
    unset again (not set to the default it read), a key that was set
    gets its value back. The stream's nanos-as-long read is scoped the
    same way."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.sources.readers import (
        footer_stats,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.stateful import (
        run_stateful_user_totals,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.sources.useV1SourceList",
        "spark.sql.parquet.aggregatePushdown",
        "spark.sql.legacy.parquet.nanosAsLong",
    )
    caller = spark.newSession()
    caller.conf.unset("spark.sql.shuffle.partitions")

    def state():
        return {k: caller.conf.get(k, None) for k in keys}

    assert state() == dict.fromkeys(keys)
    path = os.path.join(sf_dir, "lineitem.parquet")
    footer_stats(caller, path, ["l_quantity"]).collect()
    assert state() == dict.fromkeys(keys)
    assert run_stateful_user_totals(caller, sf_dir).count() > 0
    assert state() == dict.fromkeys(keys)
    caller.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    footer_stats(caller, path, ["l_quantity"]).collect()
    assert caller.conf.get("spark.sql.parquet.aggregatePushdown") == "false"


def test_pinned_shuffle_width_floor_and_cap(spark):
    """ADVICE r11: the anti-flap fixed-width exchanges (as-of, PPJoin
    verify, retrieval buckets) share one floored+capped derivation —
    raw defaultParallelism hard-codes a tiny width when dynamic
    allocation hasn't registered executors at plan time, and an
    uncapped one turns pinned exchanges into 200k-file shuffles on a
    10k-core cluster."""
    from unittest import mock

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        pinned_shuffle_width,
    )

    real = spark.sparkContext.defaultParallelism
    assert pinned_shuffle_width(spark) == min(max(32, real), 1024)
    with mock.patch.object(
        type(spark.sparkContext), "defaultParallelism",
        new_callable=mock.PropertyMock,
    ) as par:
        par.return_value = 2  # pre-registration dynamic allocation
        assert pinned_shuffle_width(spark) == 32
        par.return_value = 10_000  # wide cluster
        assert pinned_shuffle_width(spark) == 1024
        par.return_value = 128
        assert pinned_shuffle_width(spark) == 128


def test_spread_small_scan_adaptive(spark, sf_dir):
    """spread_small_scan (r12): an under-split scan is round-robin
    repartitioned to the session's parallelism; an input already at or
    near parallelism is returned UNCHANGED (the production no-op path —
    at scale a table arrives as >= parallelism splits and must not pay
    an extra exchange). Row content is identical either way."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_table,
        spread_small_scan,
    )

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < par  # fixture is under-split
    spread = spread_small_scan(docs, spark)
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == docs.count()

    wide = docs.repartition(par)  # already at parallelism
    assert spread_small_scan(wide, spark) is wide


def test_spread_small_scan_memo(spark, sf_dir):
    """r13 (ADVICE r12): with a ``key``, the under-split probe runs at
    most once per (context, key, parallelism) — the memo must return
    the same decision as the unmemoized path, and a second call with
    the same key must not re-probe (df.rdd forces full driver-side
    planning per call)."""
    from unittest import mock

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        session as sess,
    )

    docs = sess.load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    key = f"{sf_dir}/documents.parquet#test_memo"
    spread1 = sess.spread_small_scan(docs, spark, key=key)
    assert spread1.rdd.getNumPartitions() == par
    # second call: the probe (DataFrame.rdd) must not be touched
    with mock.patch.object(
        type(docs), "rdd", new_callable=mock.PropertyMock
    ) as rdd_probe:
        spread2 = sess.spread_small_scan(docs, spark, key=key)
        rdd_probe.assert_not_called()
    assert spread2.rdd.getNumPartitions() == par
    # a different parallelism would be a different cache slot
    assert (
        spark.sparkContext.applicationId,
        spark.sparkContext.startTime,
        spark._jsparkSession.sessionUUID(),
        "spread",
        key,
        par,
    ) in sess._CTX_CACHE


def test_observe_fires_on_localcheckpoint(spark):
    """r13 mechanics pin (PROBE_CC_CADENCE_r13): the iterative graph
    loops fold their convergence counts into the round's eager
    localCheckpoint job via ``observe`` — this test pins the Spark
    behavior that makes the separate count job redundant. If a Spark
    upgrade ever stopped populating observed metrics from the
    checkpoint's materialization job, the loops would hang rather than
    miscount (Observation.get blocks), and this test catches it first."""
    import threading

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    pinned = (
        spark.range(0, 5000)
        .select(F.col("id"), (F.col("id") % 3 == 0).alias("_changed"))
        .observe(
            obs, F.count(F.when(F.col("_changed"), F.lit(1))).alias("c")
        )
        .localCheckpoint()
    )
    box = {}

    def _get():
        box["val"] = obs.get

    t = threading.Thread(target=_get, daemon=True)
    t.start()
    t.join(30)
    assert not t.is_alive(), "observe did not fire on localCheckpoint"
    assert box["val"]["c"] == pinned.filter("_changed").count() == 1667
