"""Benchmark of the auto-tabular ETL engine, timed from outside.

    python3 perfbench/run.py --workload auto_tokenize_serve --seed 1 --seconds 6 --trace 0

Runs one workload (see ``workloads``) on ``local[<cores>]`` in this process:
set-up (session start, inputs made from ``--seed`` several times, the
workload's one-off preparation, one warm-up op), then ops for ``--seconds``
(and at least the workload's ``min_ops``), then the correctness checks.
Each op runs under its own Spark job group, and Spark's event log is on, so
the jobs and tasks of every op are counted. Prints one JSON line as the
last line of standard output:

- ``--trace 0``: the end-to-end metrics, measured with tracing off;
- ``--trace 1``: the per-layer metrics, from the spans of the preparation
  and of every other op (the rest run untraced, which gives the tracing
  overhead), plus the ops' wall-clock throughput and latency.

Everything it writes goes under ``.perfbench_work/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import sparkenv

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    event_dir = sparkenv.configure(work)
    try:
        result = run(args, work, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(result))
    return 0


def run(args, work: str, event_dir: str) -> dict:
    from perfbench import eventlog, sparkenv
    from perfbench.spans import Tracer
    from perfbench.workloads import EXPECTED_SPANS, LAYER_NAMES, LAYERS, WORKLOADS

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import session

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name=f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0))
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    jvm = sparkenv.jvm_pid()

    tracer = Tracer(spark.sparkContext)
    for owner, attr, name, capture in LAYERS:
        tracer.wrap(owner, attr, name, capture)
    wl = WORKLOADS[args.workload](spark, tracer, work)

    try:
        rep_s, digests = [], set()
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            digests.add(wl.setup(args.seed))
            rep_s.append(time.perf_counter() - t)
        print(f"perfbench: input digest {sorted(digests)}", file=sys.stderr)
        t = time.perf_counter()
        tracer.enabled = bool(args.trace)
        try:
            prepared = wl.prepare()
        except Exception:  # reported as every op failing, like a wrong model
            traceback.print_exc()
            prepared = False
        tracer.enabled = False
        ops = Ops(wl, spark, jvm)
        ops.run_one()  # warm-up: class loading, codegen, JIT, Python workers
        setup_s = start_s + statistics.median(rep_s) + time.perf_counter() - t

        # traced runs trace every other op: ops still get faster as the
        # JVM warms, and alternating spreads that drift over both halves
        ops.run_for(args.seconds, wl.min_ops, tracer if args.trace else None)
        print(
            "perfbench: op seconds (wall/cpu) "
            + " ".join(
                f"{ops.latency[i]:.2f}/{ops.cpu[i]:.2f}{'t' * (i in ops.traced)}"
                for i in ops.done
            ),
            file=sys.stderr,
        )
        failed = ops.check()
        rss = peak_rss_mb([os.getpid(), jvm])
    finally:
        tracer.unwrap_all()
        sparkenv.stop(spark)

    if not prepared:  # the served model is wrong, so is every op
        failed = ops.done
    by_group = eventlog.rollup(eventlog.read_lines(event_dir))
    out = {
        "correct": not failed and len(digests) == 1,
        "attempted": len(ops.done),
        "failed": len(failed),
    }
    timed = ops.timed
    if not args.trace:
        out["metrics"] = metric_block(
            {
                "setup_s": (setup_s, "s"),
                "op_cpu_s": (statistics.median(ops.cpu[i] for i in timed), "s"),
                "jobs_per_op": (ops.count(by_group, timed, "jobs"), "count"),
                "tasks_per_op": (ops.count(by_group, timed, "tasks"), "count"),
                "success_ratio": (1 - len(failed) / len(ops.done), "ratio"),
                "out_bytes_per_in_byte": (wl.out_bytes_per_in_byte(ops.done), "ratio"),
                "peak_rss_mb": (rss, "MB"),
            }
        )
        return out

    totals = eventlog.inclusive(tracer.spans, by_group)
    fired = {s.name for s in tracer.spans}
    missing = [n for n in EXPECTED_SPANS[args.workload] if n not in fired]
    if missing:
        print(f"perfbench: spans never fired: {missing}", file=sys.stderr)
        out["correct"] = False
    metrics = {"session.get_spark.s": (start_s, "s")}
    for name in LAYER_NAMES:
        spans = [s for s in tracer.spans if s.name == name]
        metrics[f"{name}.calls"] = (len(spans), "count")
        metrics[f"{name}.s"] = (
            statistics.median(s.end - s.start for s in spans) if spans else 0.0,
            "s",
        )
        for m, unit in eventlog.MEASURES.items():
            vals = [totals[s.group][m] for s in spans]
            metrics[f"{name}.{m}"] = (statistics.median(vals) if vals else 0, unit)
    base = statistics.median(ops.latency[i] for i in timed)
    metrics["trace.overhead_pct"] = (
        100 * (statistics.median(ops.latency[i] for i in ops.traced) - base) / base,
        "%",
    )
    metrics["hygiene.persisted_rdds"] = (
        statistics.median(ops.persisted[i] for i in ops.done),
        "count",
    )
    metrics["wall.rows_per_s"] = (
        statistics.median(ops.rows[i] / ops.latency[i] for i in timed),
        "rows/s",
    )
    metrics["wall.batch_p50_ms"] = (1e3 * base, "ms")
    out["metrics"] = metric_block(metrics)
    return out


class Ops:
    """Runs a workload's ops one after another, each under its own job
    group, recording per op its wall time, the CPU time of the driver and
    the JVM, its input rows and the RDDs it left persisted (which are then
    released, so ops do not drift)."""

    def __init__(self, wl, spark, jvm: int):
        self.wl, self.spark, self.jvm = wl, spark, jvm
        self.done: list[int] = []
        self.timed: list[int] = []  # untraced
        self.traced: list[int] = []
        self.errors: list[int] = []
        self.latency: dict[int, float] = {}
        self.cpu: dict[int, float] = {}
        self.rows: dict[int, int] = {}
        self.persisted: dict[int, int] = {}

    def run_one(self) -> int:
        from perfbench.spans import set_job_group

        i = len(self.done)
        self.done.append(i)
        sc = self.spark.sparkContext
        set_job_group(sc, op_group(i))
        t, c = time.perf_counter(), cpu_seconds([os.getpid(), self.jvm])
        try:
            self.rows[i] = self.wl.op(i)
        except Exception:  # an op that raises is a failed op, not a crash
            traceback.print_exc()
            self.errors.append(i)
            self.rows[i] = 0
        self.latency[i] = time.perf_counter() - t
        self.cpu[i] = cpu_seconds([os.getpid(), self.jvm]) - c
        set_job_group(sc, None)
        self.persisted[i] = release_persisted(self.spark)
        return i

    def run_for(self, seconds: float, min_ops: int, tracer=None) -> None:
        end = time.perf_counter() + seconds
        n = 0
        while n < min_ops or time.perf_counter() < end:
            if tracer is not None:
                tracer.enabled = n % 2 == 1
            (self.traced if n % 2 and tracer else self.timed).append(self.run_one())
            n += 1
        if tracer is not None:
            tracer.enabled = False

    def check(self) -> list[int]:
        ok_ops = [i for i in self.done if i not in self.errors]
        try:
            bad = self.wl.check(ok_ops)
        except Exception:
            traceback.print_exc()
            bad = ok_ops
        return sorted(set(bad) | set(self.errors))

    @staticmethod
    def count(by_group: dict, ops: list[int], measure: str) -> float:
        """Median over ``ops`` of an event-log count of the op's group."""
        return statistics.median(
            (by_group.get(op_group(i)) or {}).get(measure, 0) for i in ops
        )


def op_group(i: int) -> str:
    return f"perfbench-op-{i}"


def release_persisted(spark) -> int:
    """Count the RDDs still persisted, then unpersist them all."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    n = rdds.size()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return n


def cpu_seconds(pids) -> float:
    """User plus system CPU time of the given processes, from /proc."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def metric_block(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


if __name__ == "__main__":
    sys.exit(main())
