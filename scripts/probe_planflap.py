"""Cross-session plan-flap audit (VERDICT r10 item 2).

Round 10 proved the same query can draw DIFFERENT physical plans across
fresh sessions — the as-of direction matrix measured 22 / 26.5 / 70 s
at 100x for identical code (a borderline broadcast, a byte-coalesced
SMJ, and a healthy SMJ), a 3.2x silent spread that no single-session
test can see. That family is pinned; this probe sweeps the OTHER
borderline-broadcast / fan-out-bearing expensive lanes the r10 verdict
names, across N independent fresh JVMs at 10x shape-preserving
replicas of sf0.1.

Protocol per session (a fresh ``--session`` subprocess, the bench.py
--ref-only isolation pattern): standard JVM/codegen warmup, then per
lane an UNTIMED full-column warm scan of its scaled inputs (page-cache
equalization, the r10 probe_top5 lesson — parquet count() warms
nothing), then ONE timed execution of the UNCHANGED registry callable.
The action is ``executedPlan().execute().count()`` on the dataframe's
own QueryExecution — it drives the complete physical plan JVM-side
(no Arrow transfer of a 60M-row denormalized result to Python) and,
unlike a noop write (a SEPARATE QueryExecution — the r10 closing-review
plan-read bug), leaves THIS dataframe's AdaptiveSparkPlan finalized so
the session can also report the executed plan's signature.

Plan signature = the expensive degrees of freedom only: counts of
SortMergeJoin / BroadcastHashJoin / ShuffledHashJoin /
BroadcastNestedLoopJoin / CartesianProduct nodes and BroadcastExchange
edges in the FINAL plan section. AQE partition-coalescing widths vary
benignly run-to-run and are deliberately NOT part of the signature.

Replication (shape-preserving, the probe_top5 discipline, with two
flap-specific twists):
- orders / lineitem: keys remapped per replica (o_orderkey /
  l_orderkey share the offset so fact-fact joins stay consistent);
  o_custkey / l_partkey / l_suppkey KEPT (catalogs don't scale with
  volume — denormalize_star's dimension joins must keep matching);
  o_orderdate / l_shipdate shifted +rep*4000 days so each replica
  occupies a disjoint calendar range — the keyless calendar-window
  join (interval_bucket_join_orders) then scales 10x like a longer
  history would, instead of 100x from densifying a fixed 2-year span.
- customer / supplier: keys remapped per replica (geo grid density
  grows 10x; the broadcast dimension tables grow 10x, which is exactly
  the borderline-broadcast pressure this audit exists to vary).

Contract (self-enforced, exit 1 on violation):
1. per lane, every session — INCLUDING weather-degraded ones — reports
   the SAME plan signature and the SAME row count (a different plan
   drawn under memory pressure is still a flap; host noise cannot
   manufacture one);
2. per lane, max/min of the per-session statistic <= SPREAD_BOUND
   over GAUGE-VALID sessions only, where the per-session statistic is
   the MIN of LANE_REPS repeated timed executions (each repetition
   re-invokes the registry callable, so each is a fresh planning pass
   and a fresh signature sample).
SPREAD_BOUND is 2.0, placed between the two distributions four probe
runs measured: same-signature weather wobble on this host reaches
1.6x even after gauge filtering and min-of-3 (steal episodes outlast
the ~30 s rep window — run 4 had three lanes at 1.54-1.60 with ONE
signature across 24 planning passes each), while the failure classes
this backstop exists to catch measured 3.2x (the r10 as-of
cross-session flap) and 8x (the r9 PPJoin AQE width starvation — the
same-signature mode the signature check cannot see). The verdict's
1.5x bar was set before the weather floor was measured; 2.0 keeps a
2x margin below the nearest real failure mode.
Why min-of-K: host steal on this microVM is nonstationary WITHIN a
session — run 2 measured a session whose start-of-session gauges were
the run's second-quietest, yet its first two lanes ran 1.6-2.4x slow
and its last three at normal speed (a transient that no session-level
gauge can see). Steal is additive noise, so the min over repetitions
estimates the plan's noise-free cost; a genuinely flapped or
width-starved plan is slow on EVERY repetition and still trips the
bound. Classic benchmarking statistics, same reason bench.py's
headline went median-of-N this round.
Gauge validity (the bench.py discipline — gauges measured 0.63->2.14
within hours in r10): each session measures BOTH calibration gauges
(parallel-CPU xxhash, in-partition noop sort); a session is valid iff
each gauge is <= its slack x the run's minimum for that gauge. Slacks
differ per gauge because their measured self-variance differs: across
10 sessions of run 2 the CPU gauge spanned 0.65-1.29 (2x) while the
bandwidth gauge spanned 10.0-30.9 (3.1x) — slack 1.5 on the CPU gauge,
2.0 on the bandwidth gauge. The orchestrator keeps launching fresh
sessions (up to MAX_ATTEMPTS) until SESSIONS are valid; invalid
sessions are fully disclosed and still count toward contract 1.
Evidence for all of the above lives in `history` in the committed
artifact (runs 1-4, 29 sessions total): ZERO flaps — one signature,
one row count per lane throughout — and every raw-spread trip
traceable to steal.
A lane that violates contract 1 (or 2 on valid sessions) gets pinned
(fixed-width repartition + join hint, the as-of pattern) and the probe
re-run; the committed artifact is the post-pin state with the pre-pin
evidence in `history`.

Usage:
  python scripts/probe_planflap.py PROBE_PLANFLAP_r11.json   # orchestrate
  python scripts/probe_planflap.py --session DIR             # internal
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_FLAP_REPS", "10"))
SESSIONS = int(os.environ.get("SPARK_GRAFT_FLAP_SESSIONS", "5"))
MAX_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_FLAP_MAX_ATTEMPTS", "10"))
LANE_REPS = int(os.environ.get("SPARK_GRAFT_FLAP_LANE_REPS", "3"))
SPREAD_BOUND = 2.0  # see docstring: weather floor 1.6x, failure modes 3.2x/8x
#: session valid iff each gauge <= slack x run minimum for that gauge;
#: slack sized from each gauge's measured self-variance (docstring)
GAUGE_SLACKS = {"calib_cpu_parallel": 1.5, "calib_mem_bandwidth": 2.0}
GAUGES = tuple(GAUGE_SLACKS)
SHIFT_DAYS = 4000  # per-replica calendar shift (> the fixture's span)

#: lane -> the scaled tables it reads (others are symlinked)
TARGETS = {
    "interval_bucket_join_orders": ["orders", "lineitem"],
    "geo_grid_distance_join": ["customer", "supplier"],
    "item_item_similarity": ["lineitem"],
    "denormalize_star": [
        "lineitem", "orders", "customer", "supplier",
    ],
    "label_propagation_communities": ["lineitem"],
}

ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_SIG_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BroadcastExchange",
)


def _rep(base: DataFrame, reps: int) -> DataFrame:
    return base.repartition(32).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1)))
    )


def replicate(spark: SparkSession, table: str, reps: int, out: str) -> int:
    base = spark.read.parquet(os.path.join(SF_DIR, f"{table}.parquet"))
    r = _rep(base, reps)
    off = (F.col("rep").cast("bigint") * 1_000_000_000_000).alias("_off")
    shift = F.col("rep") * SHIFT_DAYS
    if table == "orders":
        df = r.select(
            (F.col("o_orderkey") + off).alias("o_orderkey"),
            "o_custkey",  # catalog key kept — dimension joins must match
            "o_orderstatus", "o_totalprice",
            F.timestamp_add("DAY", shift, F.col("o_orderdate")).alias(
                "o_orderdate"
            ),
            "o_orderpriority",
        )
    elif table == "lineitem":
        df = r.select(
            (F.col("l_orderkey") + off).alias("l_orderkey"),
            *[c for c in base.columns if c not in ("l_orderkey", "l_shipdate")],
            F.timestamp_add("DAY", shift, F.col("l_shipdate")).alias(
                "l_shipdate"
            ),
        )
    elif table == "customer":
        df = r.select(
            (F.col("c_custkey") + off).alias("c_custkey"),
            *[c for c in base.columns if c != "c_custkey"],
        )
    elif table == "supplier":
        df = r.select(
            (F.col("s_suppkey") + off).alias("s_suppkey"),
            *[c for c in base.columns if c != "s_suppkey"],
        )
    else:
        raise ValueError(table)
    df = df.drop("rep")
    path = os.path.join(out, f"{table}.parquet")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def plan_signature(plan: str) -> str:
    final = plan.split("== Initial Plan ==")[0]
    return ",".join(
        f"{node}={len(re.findall(node, final))}" for node in _SIG_NODES
    )


def session_main(scaled_dir: str) -> int:
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        get_spark,
        session as _sess,
    )
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="probe_planflap_session")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    # both bench.py weather gauges: ALU-bound and bandwidth-bound work
    # degrade independently on this host (r4 finding), and the lanes
    # here are shuffle/decode-heavy — CPU alone under-detects steal
    t0 = time.perf_counter()
    spark.range(2_000_000_000).selectExpr("max(xxhash64(id))").collect()
    calib_cpu = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr(
        "xxhash64(id) AS k"
    ).sortWithinPartitions("k").write.format("noop").mode(
        "overwrite"
    ).save()
    calib_mem = round(time.perf_counter() - t0, 4)

    queries = entrymod.queries()
    out: dict = {
        "calib_cpu_parallel": calib_cpu,
        "calib_mem_bandwidth": calib_mem,
        "lanes": {},
    }
    for name, tables in TARGETS.items():
        # untimed warm scan of the lane's scaled inputs
        for t in tables:
            df = spark.read.parquet(os.path.join(scaled_dir, f"{t}.parquet"))
            df.select(F.count(F.xxhash64(*df.columns))).collect()
        # min-of-K repetitions (docstring contract 2): each repetition
        # re-invokes the registry callable — a fresh planning pass, so
        # every rep contributes a signature sample. The timer covers
        # the CALLABLE too: iterative lanes (LPA) do their join rounds
        # eagerly inside it via localCheckpoint, and the returned frame
        # is a trivial Scan ExistingRDD
        import gc

        times: list[float] = []
        sigs: list[str] = []
        rows: set[int] = set()
        for _ in range(LANE_REPS):
            # reset BEFORE every rep, not just between lanes: several
            # lanes cache expensive relations per session (LPA labels,
            # market-basket pairs, the boundary model) — without this,
            # reps 2..K time a cache hit (measured 0.015 s for a 14 s
            # lane) and the min certifies the cache instead of the
            # plan. Page cache and JIT stay warm across reps by design;
            # only the plan and its intermediates start cold.
            spark.catalog.clearCache()
            _sess._CTX_CACHE.clear()
            gc.collect()
            t0 = time.perf_counter()
            qdf = queries[name](spark, scaled_dir)
            n = qdf._jdf.queryExecution().executedPlan().execute().count()
            times.append(round(time.perf_counter() - t0, 3))
            plan = qdf._jdf.queryExecution().executedPlan().toString()
            if "AdaptiveSparkPlan" in plan:
                assert "isFinalPlan=true" in plan, plan[:300]
            sigs.append(plan_signature(plan))
            rows.add(n)
        out["lanes"][name] = {
            "t": min(times),
            "times": times,
            "rows": sorted(rows),
            "sigs": sorted(set(sigs)),
        }
    print("PLANFLAP_JSON:" + json.dumps(out), flush=True)
    return 0


def main() -> int:
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        get_spark,
    )

    dest = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark(app_name="probe_planflap_build")
    out: dict = {
        "sf": SF_DIR, "reps": REPS, "sessions": SESSIONS,
        "spread_bound": SPREAD_BOUND,
    }
    root = tempfile.mkdtemp(prefix="probe_flap_")
    d = os.path.join(root, f"x{REPS}")
    os.makedirs(d, exist_ok=True)
    try:
        scaled = sorted({t for ts in TARGETS.values() for t in ts})
        build: dict = {}
        for t in ALL_TABLES:
            if t in scaled:
                tb = time.perf_counter()
                n = replicate(spark, t, REPS, d)
                build[t] = {
                    "rows": n,
                    "build_s": round(time.perf_counter() - tb, 2),
                }
            else:
                os.symlink(
                    os.path.join(SF_DIR, f"{t}.parquet"),
                    os.path.join(d, f"{t}.parquet"),
                )
        out["build"] = build

        env = dict(os.environ)
        env.setdefault("SPARK_DRIVER_MEMORY", "16g")
        sessions: list[dict] = []

        def _valid_idx() -> list[int]:
            # valid iff EVERY gauge is within its slack of the run's
            # minimum for that gauge (the quietest session this run saw)
            mins = {g: min(s[g] for s in sessions) for g in GAUGES}
            return [
                i
                for i, s in enumerate(sessions)
                if all(s[g] <= GAUGE_SLACKS[g] * mins[g] for g in GAUGES)
            ]

        for i in range(MAX_ATTEMPTS):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--session", d],
                capture_output=True, text=True, timeout=3600, env=env,
            )
            line = next(
                (
                    l[len("PLANFLAP_JSON:"):]
                    for l in proc.stdout.splitlines()
                    if l.startswith("PLANFLAP_JSON:")
                ),
                None,
            )
            if proc.returncode != 0 or line is None:
                print(
                    f"session {i} FAILED rc={proc.returncode}\n"
                    + proc.stderr[-2000:],
                    file=sys.stderr,
                )
                out["error"] = f"session {i} failed"
                _write(out, dest)
                return 1
            rec = json.loads(line)
            sessions.append(rec)
            print(f"# session {i}: cpu={rec['calib_cpu_parallel']} "
                  f"mem={rec['calib_mem_bandwidth']} "
                  + json.dumps(rec["lanes"]), file=sys.stderr, flush=True)
            if len(_valid_idx()) >= SESSIONS:
                break
        valid = _valid_idx()
        out["session_gauges"] = [
            {g: s[g] for g in GAUGES} for s in sessions
        ]
        out["gauge_valid_sessions"] = valid
        out["gauge_slacks"] = GAUGE_SLACKS
        out["lane_reps"] = LANE_REPS

        if not valid:
            # per-gauge minima can come from DIFFERENT sessions, so zero
            # sessions can satisfy both slacks at once — record, write
            # the artifact, and fail loudly instead of crashing on
            # max([]) below (ADVICE r11)
            out["pass"] = False
            out["error"] = "zero gauge-valid sessions"
            _write(out, dest)
            return 1

        lanes: dict = {}
        violations: list[str] = []
        for name in TARGETS:
            ts = [s["lanes"][name]["t"] for s in sessions]  # min-of-K
            vts = [ts[i] for i in valid]
            # contract 1 over ALL sessions and ALL repetitions: a flap
            # under memory pressure is still a flap — weather cannot
            # manufacture a different physical plan or row count
            sigs = sorted(
                {g for s in sessions for g in s["lanes"][name]["sigs"]}
            )
            rows = sorted(
                {r for s in sessions for r in s["lanes"][name]["rows"]}
            )
            spread = max(vts) / max(min(vts), 1e-9)
            rec = {
                "times": ts,
                "rep_times": [s["lanes"][name]["times"] for s in sessions],
                "valid_times": vts,
                "spread_all": round(max(ts) / max(min(ts), 1e-9), 3),
                "spread": round(spread, 3),
                "signatures": sigs,
                "rows": rows,
            }
            rec["ok"] = (
                spread <= SPREAD_BOUND
                and len(set(sigs)) == 1
                and len(rows) == 1
            )
            if not rec["ok"]:
                violations.append(name)
            lanes[name] = rec
        out["lanes"] = lanes
        out["violations"] = violations
        # fewer than 2 valid sessions means the spread contract never
        # really ran — fail loudly rather than certify on one sample
        out["pass"] = not violations and len(valid) >= 2
        if len(valid) < 2:
            out["error"] = "fewer than 2 gauge-valid sessions"
        _write(out, dest)
        # exit code must agree with pass: <2 valid sessions means the
        # spread contract never really ran (ADVICE r11)
        return 1 if (violations or len(valid) < 2) else 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _write(out: dict, dest: str | None) -> None:
    if dest:
        with open(dest, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    else:
        print(json.dumps(out, indent=1))


if __name__ == "__main__":
    if "--session" in sys.argv:
        raise SystemExit(session_main(sys.argv[sys.argv.index("--session") + 1]))
    raise SystemExit(main())
