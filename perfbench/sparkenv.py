"""Session set-up for the benchmark: every file Spark, the JVM or the Python
workers write goes under one work directory inside the checkout, and the
session is started through the engine's own ``session.get_spark``."""

from __future__ import annotations

import os
import shlex

#: driver heap. ``get_spark`` pre-touches the whole heap at JVM start, so
#: this is also the JVM's resident floor; the workloads need far less.
DRIVER_MEMORY = "2g"


def configure(work: str) -> str:
    """Set the environment the session inherits. Must run before pyspark
    starts its JVM. Returns the event-log directory: the log is on in every
    run, because the per-op job and task counts come from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # native libraries (snappy, zstd) unpack into java.io.tmpdir; the JVM's
    # perf-data file would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    confs.update(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        }
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    return event_dir


def jvm_pid() -> int:
    """The driver JVM, started by pyspark as a child of this process."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
