"""Streaming/batch unified-engine equivalence: the same windowed
aggregation over the same bounded input must produce identical results
through the streaming and batch paths."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_stream_equals_batch(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.timeseries import (
        q_events_tumbling_window,
    )
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.windows import (
        run_tumbling_stream,
    )

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in q_events_tumbling_window(spark, sf_dir).collect()
    }
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in run_tumbling_stream(spark, sf_dir).collect()
    }
    assert batch == stream


def test_tws_processor_logic_pure_pandas():
    """transformWithStateInPandas needs protobuf (absent in this
    container — see stateful_v2.tws_available); the StatefulProcessor's
    accumulation logic is still unit-tested here by driving
    handleInputRows with a mocked ValueState."""
    import pandas as pd

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.stateful_v2 import (
        UserStatsProcessor,
    )

    class FakeState:
        def __init__(self):
            self.v = None
        def exists(self):
            return self.v is not None
        def get(self):
            return self.v
        def update(self, v):
            self.v = v

    class FakeHandle:
        def __init__(self, st):
            self.st = st
        def getValueState(self, name, schema):
            return self.st

    st = FakeState()
    proc = UserStatsProcessor()
    proc.init(FakeHandle(st))
    out1 = list(proc.handleInputRows(
        (7,), iter([pd.DataFrame({"value": [1.0, 2.5]})]), None))
    out2 = list(proc.handleInputRows(
        (7,), iter([pd.DataFrame({"value": [4.0]})]), None))
    assert st.v == (3, 7.5, 4.0)
    assert out2[0].iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "total_value": 7.5, "max_value": 4.0}
    assert out1[0].iloc[0]["n_events"] == 2


def test_tws_query_registered_iff_protobuf():
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming import (
        stateful_v2,
    )

    assert ("streaming_tws_user_stats" in stateful_v2.QUERIES) == (
        stateful_v2.tws_available()
    )
    assert set(stateful_v2.ORACLES) <= set(stateful_v2.QUERIES)


def test_state_metadata_reader_lists_operator(spark, sf_dir):
    """Companion to statestore_reader_counts: the state-metadata format
    must list the checkpoint's aggregation operator with the expected
    identity (operator 0, stateStoreSave, default store) and the
    single-batch lifecycle of the bounded build stream."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.state_reader import (
        _checkpoint_for,
    )

    s = spark.newSession()
    s.conf.set(
        "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag",
        "false",
    )
    ck = _checkpoint_for(s, sf_dir)
    rows = s.read.format("state-metadata").load(ck).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["operatorId"] == 0
    assert r["operatorName"] == "stateStoreSave"
    assert r["stateStoreName"] == "default"
    assert r["minBatchId"] == 0


def test_stateful_totals_identical_under_rocksdb_provider(spark, sf_dir):
    """State-store provider portability: the same stateful aggregation
    must produce identical results under the default HDFS-backed
    provider and RocksDB (the provider production clusters run for
    large state — state off-heap, incremental checkpoints). Each run
    gets a forked session so the provider conf cannot leak."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.stateful import (
        q_streaming_stateful_user_totals,
    )

    results = []
    for provider in (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    ):
        s = spark.newSession()
        s.conf.set(
            "spark.sql.streaming.stateStore.providerClass", provider
        )
        rows = sorted(
            map(tuple, q_streaming_stateful_user_totals(s, sf_dir).collect())
        )
        results.append(rows)
    assert results[0] == results[1] and len(results[0]) > 0


def test_streaming_hll_really_merges_across_batches(spark, sf_dir, tmp_path):
    """Pin streaming_hll_distinct's multi-batch claim: with the 4-file
    split and maxFilesPerTrigger=1 the checkpoint must record 4
    committed micro-batches (else the register-max 'merge' never merged
    anything and the query silently degenerates to a batch pass)."""
    import os

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.foreach_batch import (
        q_streaming_hll_distinct,
    )

    rows = q_streaming_hll_distinct(spark, sf_dir).collect()
    assert len(rows) == 1 and rows[0]["n_exact"] > 0
    # the split dir is the persistent artifact: 4 part dirs + marker
    import glob
    import hashlib
    import tempfile

    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    stat = os.stat(src)
    tag = hashlib.md5(
        f"{src}:{stat.st_size}:{int(stat.st_mtime)}".encode()
    ).hexdigest()[:12]
    split_dir = os.path.join(tempfile.gettempdir(), f"events_4split_{tag}")
    assert len(glob.glob(os.path.join(split_dir, "part_*"))) == 4
    # re-run the drain with a KEPT checkpoint and count committed batches
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.foreach_batch import (
        _hll_merge_batch,
    )

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(split_dir)
        .select("user_id")
    )
    target = str(tmp_path / "hll_target")
    os.makedirs(target, exist_ok=True)
    ck = str(tmp_path / "ck")
    q = (
        stream.writeStream.foreachBatch(_hll_merge_batch(target, spark))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    commits = [
        f
        for f in os.listdir(os.path.join(ck, "commits"))
        if not f.startswith(".")
    ]
    assert len(commits) == 4, commits


def test_publish_table_replay_is_idempotent(spark, tmp_path):
    """Crash-recovery path (ADVICE r6): foreachBatch re-delivers a batch
    if the process dies between our pointer flip and the stream's
    checkpoint commit. On the re-run _publish_table must NOT rewrite
    v{batch_id} (self-overwrite while lazily reading it) and the
    additive merge must NOT double-apply."""
    import os

    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.foreach_batch import (
        _current_table,
        _merge_batch,
        _publish_table,
    )

    target = str(tmp_path / "t")
    os.makedirs(target)
    df1 = spark.range(3).select(F.col("id"), F.lit(1).alias("n"))
    _publish_table(target, df1, 7)
    v7 = os.path.join(target, "v7")
    files_before = sorted(os.listdir(v7))
    mtime_before = os.path.getmtime(v7)
    with open(os.path.join(target, "CURRENT")) as fh:
        assert fh.read().strip() == v7
    # replay the SAME batch id with different (double-applied) content:
    # the guard must skip — v7 untouched, CURRENT unchanged
    df_doubled = spark.range(3).select(F.col("id"), F.lit(2).alias("n"))
    _publish_table(target, df_doubled, 7)
    assert sorted(os.listdir(v7)) == files_before
    assert os.path.getmtime(v7) == mtime_before
    got = {r["id"]: r["n"] for r in spark.read.parquet(v7).collect()}
    assert got == {0: 1, 1: 1, 2: 1}
    # end-to-end: the real merge callback replayed with the same
    # batch_id must leave totals single-applied
    target2 = str(tmp_path / "t2")
    os.makedirs(target2)
    batch = spark.range(4).select(
        (F.col("id") % 2).alias("user_id"), F.lit(1.5).alias("value")
    )
    apply = _merge_batch(target2, spark)
    apply(batch, 0)
    once = {
        r["user_id"]: (r["n_events"], float(r["sum_value"]))
        for r in _current_table(target2, spark).collect()
    }
    apply(batch, 0)  # replay
    again = {
        r["user_id"]: (r["n_events"], float(r["sum_value"]))
        for r in _current_table(target2, spark).collect()
    }
    assert once == again == {0: (2, 3.0), 1: (2, 3.0)}


def test_session_memo_bounds_live_context_entries(spark, monkeypatch):
    """ADVICE r6: one long-lived context filling the memo must evict
    LRU within the live context (dead-context purge alone deletes
    nothing), keeping the dict bounded while the hottest entry stays
    memoized."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import session as sess

    monkeypatch.setattr(sess, "_CTX_CACHE_MAX_LIVE", 6)
    monkeypatch.setattr(sess, "_CTX_CACHE", type(sess._CTX_CACHE)())
    builds = {"n": 0}

    def make(i):
        def build():
            builds["n"] += 1
            return spark.range(i + 1)

        return build

    sess.session_memo(spark, "hot", "/x", make(0))
    for i in range(1, 12):
        # touch the hot entry between inserts — LRU must keep it
        sess.session_memo(spark, "hot", "/x", make(0))
        sess.session_memo(spark, f"k{i}", "/x", make(i))
    assert len(sess._CTX_CACHE) <= 6, len(sess._CTX_CACHE)
    n_before = builds["n"]
    sess.session_memo(spark, "hot", "/x", make(0))  # still cached
    assert builds["n"] == n_before
    # evicted cold key rebuilds (proof eviction actually dropped it)
    sess.session_memo(spark, "k1", "/x", make(1))
    assert builds["n"] == n_before + 1


def test_stream_join_state_is_evicted(spark, tmp_path):
    """Pin the interval join's state-eviction claim (streaming/joins.py
    docstring): with both sides watermarked 1 h and a 2 h interval
    condition, join state must stay O(rate x window) — a click older
    than watermark - 2 h is dropped — NOT O(history). Drives the
    PRODUCTION join plan over 24 hour-advancing micro-batches and reads
    the state operator's numRowsTotal from the query progress: it must
    plateau, not grow with batch count."""
    import datetime

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming.joins import (
        click_purchase_joined,
    )

    n_chunks, users = 24, 20
    base = datetime.datetime(2024, 1, 1)
    src = tmp_path / "chunks"
    for k in range(n_chunks):  # chunk k = hour k: 20 clicks + 20 buys
        rows = []
        for u in range(users):
            t = base + datetime.timedelta(hours=k, minutes=u)
            rows.append((k * 1000 + u, t, u, "click"))
            rows.append(
                (k * 1000 + 500 + u, t + datetime.timedelta(minutes=30), u, "purchase")
            )
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
        ).coalesce(1).write.parquet(str(src / f"part_{k:02d}"))
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        click_purchase_joined(ev, "inner")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("state_evict_probe")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"] and p["numInputRows"] > 0
    ]
    q.stop()
    n_out = spark.table("state_evict_probe").count()
    assert n_out >= n_chunks * users  # every same-hour pair joins
    assert len(totals) >= n_chunks - 1
    total_ingested = n_chunks * users * 2
    # eviction bound: watermark 1 h + interval 2 h + batch slack ->
    # state holds a few hours of rows, never the full history
    assert max(totals) <= total_ingested // 2, totals
    # plateau: the second half of the drain must not keep growing
    mid, last = totals[len(totals) // 2], totals[-1]
    assert last <= 1.5 * mid, totals


def test_stream_dedup_state_is_evicted(spark, tmp_path):
    """Pin dropDuplicatesWithinWatermark's bounded-state claim
    (streaming/windows.py docstring): a key's state is evicted once the
    watermark passes its event time, so dedup state is bounded by the
    KEYS SEEN WITHIN THE DELAY, not by all keys ever (the forever-keys
    leak). Drives 24 hour-advancing chunks where every chunk introduces
    20 NEW keys and repeats the previous chunk's 20 (the repeats must
    dedup); state numRowsTotal must plateau near delay-window key
    cardinality while the no-eviction shape would grow to 480+."""
    import datetime

    src = tmp_path / "chunks"
    n_chunks, per_chunk = 24, 20
    base = datetime.datetime(2024, 1, 1)
    for k in range(n_chunks):
        rows = []
        t = base + datetime.timedelta(hours=k)
        for u in range(per_chunk):
            rows.append((k * 100 + u, t, k * 100 + u, "click"))
            if k > 0:  # duplicate of a key first seen one hour ago
                rows.append(((k - 1) * 100 + u, t, (k - 1) * 100 + u, "click"))
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
        ).coalesce(1).write.parquet(str(src / f"part_{k:02d}"))
    ev = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    deduped = (
        ev.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id")
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_evict_probe")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"] and p["numInputRows"] > 0
    ]
    q.stop()
    n_out = spark.table("dedup_evict_probe").count()
    n_keys = n_chunks * per_chunk
    # every key emits at least once; the 1-hour-later repeats (well
    # inside the 2 h delay) must NOT re-emit
    assert n_out == n_keys, n_out
    # bounded state: keys within the delay window, never all keys ever
    assert max(totals) <= n_keys // 2, totals
    mid, last = totals[len(totals) // 2], totals[-1]
    assert last <= 1.5 * mid, totals


def test_streaming_lanes_keep_callers_session(spark, sf_dir):
    """Every streaming registry lane, run through queries() on a fresh
    session, leaves that session's confs (the registry's timezone
    apart) and temp views as it found them, and the frame it returns
    still collects once its memory-sink view is gone. The caller is a
    fresh session, so what earlier tests left cannot mask drift."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.queries_registry import (
        queries,
    )

    tz = "spark.sql.session.timeZone"
    qs = queries()
    lanes = [n for n, fn in qs.items() if ".streaming." in fn.__module__]
    assert len(lanes) >= 16, lanes
    caller = spark.newSession()

    def state():
        confs = {k: v for k, v in caller.conf.getAll.items() if k != tz}
        views = {t.name for t in caller.catalog.listTables() if t.isTemporary}
        return confs, views

    before = state()
    for name in lanes:
        df = qs[name](caller, sf_dir)
        assert state() == before, name
        assert df.collect(), name


def test_stream_tokenize_output_removed_at_exit(spark, sf_dir):
    """streaming_tokenize_lineitem lands its rows in a fresh temporary
    directory that the returned frame reads lazily. The directory is
    registered for removal at process exit: the frame still reads it
    during the process, and the registered cleanup removes it. The
    atexit registration is captured, not run at exit, so this needs no
    second process."""
    from unittest import mock

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.streaming import (
        tokenize,
    )

    with mock.patch.object(tokenize.atexit, "register") as register:
        df = tokenize.q_streaming_tokenize_lineitem(spark, sf_dir)
    # Spark's own code may register exit hooks during the stream too
    removals = [c for c in register.call_args_list if c.args[0] is tokenize.shutil.rmtree]
    assert len(removals) == 1, register.call_args_list
    (cleanup, out_dir), kwargs = removals[0]
    assert os.path.isdir(out_dir) and df.count() > 0
    cleanup(out_dir, **kwargs)
    assert not os.path.exists(out_dir)
