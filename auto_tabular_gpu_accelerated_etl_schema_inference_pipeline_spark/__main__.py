"""CLI for the engine: list, run, or explain any registry query.

The reference ships as a run-me script (etl_benchmark.py); this is the
equivalent operational surface for the Spark engine, against the same
fixture layout::

    python -m auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark list
    python -m auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark run tpch_q1 --sf-dir /root/testdata/sf0.01
    python -m auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark run dedup_exact --limit 5
    python -m auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark explain tpch_q6
    # round-5 report lanes, same surface:
    python -m auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark run dedup_detector_agreement
    python -m auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark explain span_corruption_plan

`run` prints rows via DataFrame.show (ASCII table, truncation off with
--full); `explain` prints the formatted physical plan — the same
artifact PLANS.md records. Exit code 2 on unknown query names, with a
did-you-mean suggestion.
"""

from __future__ import annotations

import argparse
import difflib
import os
import sys


def main(argv: list[str] | None = None) -> int:
    from . import queries_registry

    p = argparse.ArgumentParser(
        prog="auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark"
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registry queries (* = oracle-backed)")
    for cmd in ("run", "explain"):
        sp = sub.add_parser(cmd)
        sp.add_argument("name")
        sp.add_argument(
            "--sf-dir",
            default=os.environ.get(
                "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
            ),
        )
        sp.add_argument(
            "--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8")
        )
        if cmd == "run":
            sp.add_argument("--limit", type=int, default=20)
            sp.add_argument(
                "--full", action="store_true", help="no column truncation"
            )
    args = p.parse_args(argv)

    queries = queries_registry.queries()
    oracles = queries_registry.oracle_sql()

    if args.cmd == "list":
        for name in queries:
            mark = "*" if name in oracles else " "
            print(f"{mark} {name}")
        print(
            f"\n{len(queries)} queries, "
            f"{sum(1 for n in queries if n in oracles)} oracle-backed (*)"
        )
        return 0

    if args.name not in queries:
        hint = difflib.get_close_matches(args.name, list(queries), n=3)
        print(f"unknown query {args.name!r}", file=sys.stderr)
        if hint:
            print(f"did you mean: {', '.join(hint)}?", file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark(
        app_name="auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark-cli",
        cpus=args.cpus,
    )
    df = queries[args.name](spark, args.sf_dir)
    if args.cmd == "explain":
        print(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        )
    else:
        df.show(args.limit, truncate=not args.full)
        print(f"({df.count()} rows total)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
