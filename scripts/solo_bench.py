"""Solo adjudication timer — the established x3-on-a-quiet-host protocol
for bench-tail regressions: time named registry queries in a fresh
bench-style session, 3 runs each. bench.py's ``layers`` counts tell a
code change from host load; this timer re-measures the seconds of the
lanes that moved.

Usage: python scripts/solo_bench.py auto_tokenize_lineitem rare_level_collapse
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_SOLO_RUNS", "3"))


def main(names: list[str]) -> None:
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        get_spark,
        load_table,
    )
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="solo_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    load_table(spark, SF_DIR, "lineitem").limit(1000).count()

    out: dict = {"sf": SF_DIR}
    queries = entrymod.queries()
    for name in names:
        runs = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = runs
        print(f"{name}: {runs}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
