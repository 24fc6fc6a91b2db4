"""SparkSession bootstrap + fixture loading.

Local-mode defaults are tuned for the driver's ``local[32]`` box but every
config here is the one you'd also set on a 1000-executor cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), Arrow on
(vectorized JVM<->Python transfer — the analog of the reference's PCIe
transfer at etl_benchmark.py:53), UTC session timezone (oracle parity).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import uuid
from collections import OrderedDict
from collections.abc import Callable
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# See the heap-sizing comment in get_spark. Override with
# SPARK_DRIVER_MEMORY when a workload genuinely needs more heap.
_DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEMORY", "6g")

#: Spark's documented value for HotSpot, which leaves every method over
#: 8,000 bytecode bytes to the interpreter (``DontCompileHugeMethods``).
#: A whole-stage-codegen subtree whose largest method is over it falls
#: back to per-operator generated code, which the JIT does compile. The
#: fused 24-column serve projection is such a subtree: 8,111 bytes.
#: An engine rule, set on every session this package builds.
HUGE_METHOD_LIMIT = ("spark.sql.codegen.hugeMethodLimit", "8000")


def get_spark(
    app_name: str = "auto-tabular-spark", cpus: int | str | None = None
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(*HUGE_METHOD_LIMIT)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Heap sizing: small, fully committed, pre-touched. This box's
        # hypervisor reclaims guest memory aggressively (measured: first
        # ~2-3 GB of fresh page faults run at ~3 GB/s, everything beyond
        # at ~0.15 GB/s — each GB of NEW heap costs ~6 s). A lazily-grown
        # 48 GB heap therefore stalls every scan while G1 faults in fresh
        # regions (measured: the 10M×20 bucketize pass was 13-18 s under
        # a 48 GB lazy heap vs 2-3.5 s under a 6 GB pre-touched one).
        # Xms == Xmx means G1 never uncommits (no re-fault after the
        # hypervisor reclaims returned pages); AlwaysPreTouch moves the
        # one-time fault cost into JVM startup, outside every timed
        # phase. On a real cluster the same flags are standard executor
        # hygiene (executors are sized to their containers and pre-touch
        # to avoid NUMA/fault jitter), so this is not a bench-only hack.
        .config("spark.driver.memory", _DRIVER_MEM)
        # GCLockerRetryAllocationCount: G1's default of 2 retries turns
        # transient JNI-critical-section contention (32 executor threads
        # in compression/Arrow native calls) into a SPURIOUS
        # OutOfMemoryError with free heap remaining — "Retried waiting
        # for GCLocker too often allocating N words" killed a 16 GB-heap
        # probe run allocating 4 words. Raising the retry budget is the
        # documented mitigation (JDK-8192647); diagnostic flag, so it
        # must follow UnlockDiagnosticVMOptions.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{_DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=64",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # cached batches stay uncompressed: the flagship workload caches
        # random doubles (incompressible) — compression would only add
        # CPU to cache build and every read
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: The one per-session cache: everything derived once per (SparkContext,
#: SparkSession) — checkpoint-pinned shared relations, forked sessions,
#: split-count probes, the exact boundary model, and parquet schemas and
#: saved boundary models (both tied to a file listing, see listing_memo)
#: — lives here under ctx_cache's key discipline.
_CTX_CACHE: OrderedDict = OrderedDict()

#: LRU bound for entries of the LIVE context. Dead-context entries are
#: purged first; without this second bound one long-lived context (many
#: forked sessions hitting memoized lanes) would grow the cache without
#: limit while holding checkpoint-pinned blocks.
_CTX_CACHE_MAX_LIVE = 64


def _ctx_key(spark: SparkSession, key: tuple) -> tuple:
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime, spark._jsparkSession.sessionUUID(), *key)


def ctx_cache(spark: SparkSession, key: tuple, build):
    """Return ``build()`` for this (context, session, *key), computing it
    at most once while the entry lives. Keyed by applicationId +
    startTime — NOT id(sparkContext): CPython recycles object addresses,
    so a restarted context could otherwise be handed state built by its
    predecessor (a dead checkpoint, a stopped session) — PLUS the JVM
    SparkSession's sessionUUID: forked ``newSession()`` clones share the
    context, but a DataFrame is bound to the session that built it, so
    every session gets its own entries. sessionUUID, not ``hashCode()``:
    identity hashes are ~31-bit and reusable after GC; the UUID is
    collision-free for the context's lifetime. On insert, entries of
    other (dead) contexts are purged, then the live context is LRU-
    evicted down to _CTX_CACHE_MAX_LIVE — dropping the reference lets
    the ContextCleaner reclaim pinned blocks."""
    k = _ctx_key(spark, key)
    ctx = k[:2]
    if k in _CTX_CACHE:
        _CTX_CACHE.move_to_end(k)
        return _CTX_CACHE[k]
    value = build()
    for old in [ok for ok in _CTX_CACHE if ok[:2] != ctx]:
        del _CTX_CACHE[old]
    while len(_CTX_CACHE) >= _CTX_CACHE_MAX_LIVE:
        _CTX_CACHE.popitem(last=False)
    _CTX_CACHE[k] = value
    return value


def session_memo(spark: SparkSession, key: str, sf_dir: str, build) -> DataFrame:
    """The localCheckpoint-pinned result of ``build()``, built once per
    (session, key, sf_dir). Expensive relations several registry queries
    share (near-dup pairs, market-basket edges, LPA labels, column
    stats) are materialized once and every consumer derives from the
    materialization; the pinned relations are all output-sized."""
    return ctx_cache(
        spark, ("memo", key, sf_dir), lambda: build().localCheckpoint()
    )


#: runtime confs re-synced from the parent on EVERY forked_session call
#: — the plan- and result-shaping ones a reused fork must track rather
#: than freeze at whatever the parent held when the fork was first
#: created (a harness that tunes these mid-process would otherwise bake
#: its transient value into every later lane run). The timezone is the
#: one the registry sets before every lane, so a forked lane renders
#: instants exactly as its parent does; the codegen method limit, so a
#: forked lane runs the same JIT-compilable code as its parent.
_FORK_SYNCED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.session.timeZone",
    HUGE_METHOD_LIMIT[0],
)


def forked_session(spark: SparkSession, purpose: str) -> SparkSession:
    """A cached ``newSession()`` fork for lanes that need session-scoped
    temp views or conf overrides (bloom-filter thresholds, scripting,
    state-reader telemetry). Forking per INVOCATION leaks one JVM
    SessionState (temp catalog, conf map) per call for the app's
    lifetime; one fork per (context, parent session, purpose) gives the
    same isolation — the caller's session never sees the views/confs,
    purposes never see each other's — at a session count bounded by
    lanes x parents, not invocations. ``newSession()`` starts from
    SparkContext defaults, NOT the parent's runtime conf changes, so the
    plan- and result-shaping confs (_FORK_SYNCED_CONFS) are synced from
    the parent on EVERY call, create and reuse alike. Lanes must (re)apply their
    OWN confs and createOrReplaceTempView their views on every call: the
    fork is reused, not reset."""
    s = ctx_cache(spark, ("fork", purpose), spark.newSession)
    for c in _FORK_SYNCED_CONFS:
        s.conf.set(c, spark.conf.get(c))
    return s


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set runtime ``confs`` for the body, then restore the caller's
    state: a key the caller had set gets its value back, a key it had
    left unset is unset again (setting the default value ``conf.get``
    reads would turn the default into an explicit setting)."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def pinned_shuffle_width(spark: SparkSession) -> int:
    """Width for plan-pinning fixed-width repartitions (the anti-flap
    exchanges of the as-of / PPJoin / retrieval families), floored and
    capped (ADVICE r11): raw defaultParallelism is wrong at BOTH ends on
    a real cluster — under dynamic allocation it can be tiny at plan
    time (executors not yet registered), hard-coding a width that
    defeats the straggler rationale the pin exists for; and on a
    10k-core cluster an uncapped width turns every pinned exchange into
    200k-file shuffles. min(max(32, par), 1024) — the derivation
    retrieval.py:82 already shipped, now the one shared rule."""
    return min(max(32, spark.sparkContext.defaultParallelism), 1024)


def spread_small_scan(
    df: DataFrame, spark: SparkSession, key: str | None = None
) -> DataFrame:
    """Round-robin repartition a scan whose split count is far below the
    session's parallelism (guide §2.5 input skew: a small or
    single-row-group parquet file yields ONE scan partition, serializing
    every downstream expression — tokenization, hashing, regex — onto
    one core of local[32]). Scale-adaptive by construction: a
    production-scale table arrives as >= parallelism splits, making this
    a no-op; only genuinely under-split inputs pay the one extra (tiny)
    exchange. Used by the text/document lanes whose per-row expression
    work dominates; NOT wired into load_table, because plan-pinned lanes
    (as-of family, retrieval) count their exchanges.

    ``key``: optional stable identity of the scan (the table path).
    When given, the under-split verdict is cached per (session, key,
    parallelism), so repeated query constructions skip the driver-side
    ``df.rdd`` planning probe. Callers must pass a key that uniquely
    identifies the FILE SET being scanned; the cache assumes its split
    count is stable within one SparkContext (true for the immutable
    fixture tables; a session that rewrites a table in place must not
    pass a key)."""
    par = spark.sparkContext.defaultParallelism

    def under_split() -> bool:
        return df.rdd.getNumPartitions() * 4 <= par

    if key is None:
        under = under_split()
    else:
        under = ctx_cache(spark, ("spread", key, par), under_split)
    return df.repartition(par) if under else df


def _listing_signature(spark: SparkSession, path: str) -> tuple | None:
    """Sorted (leaf file, length, mtime) under ``path``, listed in this
    process through the path's Hadoop FileSystem (``listFiles``,
    recursive — the listing Spark's file index makes anyway; no Spark
    job). None when the path cannot be listed (missing, or a glob): the
    caller then builds uncached and Spark raises its own error. The file
    name is in the signature, so an overwrite that writes new part files
    changes it even within one mtime tick."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    out = []
    try:
        files = p.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(p, True)
        while files.hasNext():
            st = files.next()
            out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    except Py4JJavaError:
        return None
    return tuple(sorted(out))


def listing_memo(spark: SparkSession, key: tuple, path: str, build):
    """``build()`` memoized in ctx_cache under ``key`` until the files
    under ``path`` change: the entry holds the listing signature beside
    the value and is replaced when the signature no longer matches, so
    a path takes one cache entry however often it is rewritten. A path
    that cannot be listed is built uncached every call."""
    sig = _listing_signature(spark, path)
    if sig is None:
        return build()
    k = _ctx_key(spark, key)
    if k in _CTX_CACHE and _CTX_CACHE[k][0] != sig:
        del _CTX_CACHE[k]
    return ctx_cache(spark, key, lambda: (sig, build()))[1]


#: Confs that change the schema Spark infers from parquet footers (and
#: partition directories); each is part of the schema memo's key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


#: The footer Spark's inference reads (mergeSchema off): a
#: _common_metadata file, else a _metadata file, else the first data file
#: in path order.
_FOOTER_RANK = {"_common_metadata": 0, "_metadata": 1}


def _infer_parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """What ``spark.read.parquet(path).schema`` infers, without its Spark
    job. With mergeSchema off, Spark's inference reads ONE footer
    (_FOOTER_RANK) in a one-task job. Here Spark's own file index (a read
    with an empty user schema, which lists but infers nothing), its
    footer reader and converter (``ParquetFileFormat.readSchema``, the
    session's confs) and its relation (``HadoopFsRelation.schema``, which
    joins the partition columns) run on the driver over that same
    footer. Spark infers itself, and raises its own error, when
    mergeSchema is on or there is no footer to read."""
    if spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return spark.read.parquet(path).schema
    probe = spark.read.schema(T.StructType()).parquet(path)
    rel = probe._jdf.queryExecution().analyzed().relation()
    files = rel.location().allFiles()
    if files.isEmpty():
        return spark.read.parquet(path).schema
    first = min(
        (files.apply(i) for i in range(files.size())),
        key=lambda st: (
            _FOOTER_RANK.get(st.getPath().getName(), 2),
            st.getPath().toString(),
        ),
    )
    jvm, jss = spark._jvm, spark._jsparkSession
    pff = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"),
        "MODULE$",
    )
    footers = pff.readParquetFootersInParallel(
        jss.sessionState().newHadoopConf(),
        jvm.org.apache.spark.api.python.PythonUtils.toSeq([first]),
        spark.conf.get("spark.sql.files.ignoreCorruptFiles").lower() == "true",
    )
    data = pff.readSchema(footers, jss)
    if data.isEmpty():  # a corrupt footer skipped under ignoreCorruptFiles
        return spark.read.parquet(path).schema
    full = rel.copy(
        rel.location(),
        rel.partitionSchema(),
        data.get().asNullable(),
        rel.bucketSpec(),
        rel.fileFormat(),
        rel.options(),
        jss,
    ).schema()
    return T._parse_datatype_json_string(full.json())


def parquet_schema(spark: SparkSession, path: str):
    """The schema Spark infers for a parquet file/dir — the one place it
    is derived, and it costs no Spark job (``_infer_parquet_schema``
    reads the footer on the driver). The result is memoized per session
    under the path, the _SCHEMA_CONFS values and the path's listing
    signature, so a repeat costs a file listing and no footer read. Any
    added, removed or rewritten file under the path, or a change of one
    of those confs, invalidates it. A missing path raises Spark's own
    PATH_NOT_FOUND error."""
    confs = tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    return listing_memo(
        spark,
        ("schema", path, confs),
        path,
        lambda: _infer_parquet_schema(spark, path),
    )


def write_released(
    df: DataFrame, out_path: str | None = None, release: tuple = (), partition_by: tuple = ()
) -> DataFrame:
    """Write ``df`` as parquet to ``out_path`` (None: a temporary
    directory removed at exit), release the caches and pins only this
    write reads, and return a frame over the written table with its
    footer schema (no job): ``df``'s rows, nothing left persisted."""
    if out_path is None:
        out_path = tempfile.mkdtemp(prefix="spark_graft_table_")
        atexit.register(shutil.rmtree, out_path, ignore_errors=True)
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(out_path)
    for frame in release:
        frame.unpersist()
        unpin(frame)
    spark = df.sparkSession
    return spark.read.schema(parquet_schema(spark, out_path)).parquet(out_path).select(*df.columns)


def unpin(frame: DataFrame) -> None:
    """Release every ``localCheckpoint`` pin a frame reads (the
    ``LogicalRDD`` leaves of its analyzed plan), the caller's own only:
    a session_memo relation is one too. A frame that reads a released
    pin fails: a local checkpoint keeps no lineage."""
    leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        if leaves.apply(i).nodeName() == "LogicalRDD":
            leaves.apply(i).rdd().unpersist(False)


def built_once(src: str, prefix: str, build: Callable[[str], None]) -> str:
    """The directory ``<tmp>/<prefix>_<tag>`` derived from the file
    ``src`` (tag: its path, size and mtime), made by ``build(dir)`` on
    first use. ``build`` fills a directory unique to this call, which is
    then renamed into place: the rename is atomic, so no reader sees a
    half-built directory, and the loser of a race between two builders
    discards its own copy. (A ``_SUCCESS`` check plus
    ``mode("overwrite")`` lets a second builder delete files under the
    first one's reader.) The tag follows ``src``, so a regenerated
    fixture gets a fresh directory instead of stale files."""
    st = os.stat(src)
    key = f"{os.path.abspath(src)}:{st.st_size}:{int(st.st_mtime)}"
    out = os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{hashlib.md5(key.encode()).hexdigest()[:12]}",
    )
    if not os.path.exists(out):
        tmp = f"{out}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        try:
            build(tmp)
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # not a lost race
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def quote_name(name: str) -> str:
    """``name`` as a SQL identifier: backquoted, any backquote doubled,
    so a dot or a backquote in a column name is part of the name and
    never a struct field access (``F.col("price.usd")`` parses one)."""
    return "`" + name.replace("`", "``") + "`"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (reference O3, etl_benchmark.py:27) with the footer
    schema from the parquet_schema memo; Catalyst pushes
    filters/projections into the scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table through spread_small_scan with the table path as the
    probe key: the loader of the expression-bound document and embedding
    lanes, whose single-row-group fixture files otherwise serialize all
    per-row work onto one core (no-op at production split counts)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spread_small_scan(load_table(spark, sf_dir, name), spark, key=path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet, read with nanos-as-long (a legacy conf, runtime-
    settable) because Spark's vectorized parquet reader rejects
    TIMESTAMP(NANOS), and its ts normalized by normalize_event_ts."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(load_table(spark, sf_dir, "events"))


def normalize_event_ts(events: DataFrame) -> DataFrame:
    """The events ``ts`` as a microsecond TIMESTAMP, for a batch read or a
    stream. ts arrives either as a native timestamp (fixture generations
    that write micros) or, read nanos-as-long, as TIMESTAMP(NANOS) epoch
    nanoseconds, which are truncated to microseconds exactly as DuckDB's
    reader does, so oracle comparisons line up. `div` (integer division)
    is load-bearing there: ns epoch values ~1.7e18 lose precision through
    double division. The branch is schema-driven, so the same code works
    against both fixture vintages."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(events.schema["ts"].dataType, LongType):  # nanos-as-long vintage
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # native micros arrive as TIMESTAMP_NTZ; normalize to TIMESTAMP
    # (session tz is UTC, so the instant is unchanged) — downstream
    # ops (unix_micros, windows) and the oracle expect TIMESTAMP
    return events.withColumn("ts", F.col("ts").cast("timestamp"))
