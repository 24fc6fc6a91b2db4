"""Hostile-session oracle sweep — the local mirror of the driver gate.

Runs registry queries on a deliberately untuned SparkSession (local[8],
non-UTC timezone, ANSI on — the confs the round driver might use, not
ours) and compares each against its DuckDB oracle at sf0.01 using the
same normalize-and-compare the test suite uses.

Usage:
    python scripts/sweep.py                 # the 50-slot priority prefix
    python scripts/sweep.py --all           # every oracle-backed query,
                                            # then smoke the rows-only
                                            # tail (execute + count)
    python scripts/sweep.py name1 name2 ... # specific queries (rows-only
                                            # ones are smoked)

Each lane also gets a drift report: a ``DRIFT <lane>: ...`` line for
every runtime conf, temp view or temporary function the lane left
changed on the session it was handed (the timezone excepted — the registry sets it), and a count
at the end. Drift is reported, not gated.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_harness import compare, duckdb_conn  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
# the registry sets this before every lane, so it is not drift
_REGISTRY_TZ = "spark.sql.session.timeZone"


def _session_state(spark: SparkSession) -> dict[str, str]:
    """The caller-visible session state a lane can leave behind: its
    runtime confs, as ``view:<name>`` keys its temp views, and as
    ``function:<name>`` keys its user functions (temporary ones
    included; built-ins are not listed)."""
    state = {k: v for k, v in spark.conf.getAll.items() if k != _REGISTRY_TZ}
    for t in spark.catalog.listTables():
        if t.isTemporary:
            state[f"view:{t.name}"] = "temp view"
    for (fn,) in spark.sql("SHOW USER FUNCTIONS").collect():
        state[f"function:{fn}"] = "user function"
    return state


def _drift(name: str, before: dict[str, str], after: dict[str, str]) -> int:
    """Print one DRIFT line per key the lane changed; return the count."""
    changed = sorted(k for k in before.keys() | after.keys()
                     if before.get(k) != after.get(k))
    for k in changed:
        print(f"DRIFT {name}: {k} {before.get(k)!r} -> {after.get(k)!r}",
              flush=True)
    return len(changed)


def main(argv: list[str]) -> int:
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    smoke: list[str] = []
    if argv and argv[0] == "--all":
        names = [n for n in queries if n in oracles]
        # rows-only queries (approx sketches, list columns the compare
        # can't canonicalize) have no oracle to diff against, but they
        # must still RUN under the hostile session — smoke them
        # (execute + row count) so --all covers the whole registry
        smoke = [n for n in queries if n not in oracles]
    elif argv:
        # named rows-only queries are smoked, like --all's tail
        names = [n for n in argv if n in oracles]
        smoke = [n for n in argv if n not in oracles]
    else:
        # filter THEN slice: the default must mirror the driver's
        # 50-oracle-query gate even if a non-oracle entry ever lands in
        # the registry's first 50 slots
        names = [n for n in queries if n in oracles][:50]

    # session hostility is parameterized so the same sweep can run under
    # SEVERAL adversarial variants (half-hour-offset timezones, ANSI
    # off) — a query whose greenness depends on one particular hostile
    # conf is still a bug
    tz = os.environ.get("SWEEP_TZ", "America/New_York")
    ansi = os.environ.get("SWEEP_ANSI", "true")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.ansi.enabled", ansi)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    print(f"session: tz={tz} ansi={ansi} sf={SF}", flush=True)
    failed = []
    drifted = 0
    t0 = time.time()
    for i, name in enumerate(names, 1):
        con = duckdb_conn(SF)
        t1 = time.time()
        before = _session_state(spark)
        try:
            df = queries[name](spark, SF)
            compare(df, con, oracles[name], name)
            print(f"[{i}/{len(names)}] PASS {name} ({time.time()-t1:.1f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"[{i}/{len(names)}] FAIL {name}: {exc}", flush=True)
            traceback.print_exc()
        finally:
            con.close()
        drifted += _drift(name, before, _session_state(spark))
    oracle_green = len(names) - len(failed)
    for i, name in enumerate(smoke, 1):
        t1 = time.time()
        before = _session_state(spark)
        try:
            n_rows = queries[name](spark, SF).count()
            print(
                f"[smoke {i}/{len(smoke)}] PASS {name} "
                f"({n_rows} rows, {time.time()-t1:.1f}s)",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"[smoke {i}/{len(smoke)}] FAIL {name}: {exc}", flush=True)
            traceback.print_exc()
        drifted += _drift(name, before, _session_state(spark))
    # Summary AFTER the smoke loop (ADVICE r8): printing it before let a
    # smoke-tail failure appear below a line that already claimed green.
    smoke_green = len(names) + len(smoke) - len(failed) - oracle_green
    print(
        f"\n{oracle_green}/{len(names)} oracle green, "
        f"{smoke_green}/{len(smoke)} smoke green in {time.time()-t0:.0f}s, "
        f"{drifted} session drift line(s)"
    )
    if failed:
        print("FAILED:", failed)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
