"""As-of join via per-group ``applyInPandas`` + ``pd.merge_asof`` — the
alternative formulation to timeseries.q_asof_join_events_orders's
join+window (pyspark guide "Common OLAP patterns"). Same semantics,
different physical strategy:

- join+window: one equi-join shuffle + per-probe-row ranking — best when
  build rows per key are few;
- applyInPandas/merge_asof: one shuffle per side on the key, then a
  per-key sorted merge in Arrow batches — best when both sides are large
  per key (merge is O(n+m) per key instead of O(n*m) join fan-out).

Parity-tested against the window formulation (tests/test_asof.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_events, load_table

OUT_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, "
    "last_orderkey bigint, last_orderdate timestamp, last_totalprice double"
)


def asof_join_pandas(events: DataFrame, orders: DataFrame) -> DataFrame:
    """For each event, the latest order of the same customer with
    o_orderdate <= ts (ties on o_orderdate broken by highest o_orderkey,
    matching the window formulation)."""

    ev = events.select("event_id", "user_id", "ts").withColumn(
        "_k", F.col("user_id")
    )
    od = orders.select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    ).withColumn("_k", F.col("user_id"))

    def merge(ev_pdf: pd.DataFrame, od_pdf: pd.DataFrame) -> pd.DataFrame:
        ev_pdf = ev_pdf.sort_values("ts", kind="mergesort")
        # sort orders so that within equal o_orderdate the HIGHEST key is
        # last — merge_asof takes the last row <= ts
        od_pdf = od_pdf.sort_values(
            ["o_orderdate", "o_orderkey"], kind="mergesort"
        )
        if ev_pdf.empty:
            return pd.DataFrame(columns=[
                "event_id", "user_id", "ts",
                "last_orderkey", "last_orderdate", "last_totalprice",
            ])
        merged = pd.merge_asof(
            ev_pdf,
            od_pdf.rename(
                columns={
                    "o_orderkey": "last_orderkey",
                    "o_orderdate": "last_orderdate",
                    "o_totalprice": "last_totalprice",
                }
            )[["last_orderdate", "last_orderkey", "last_totalprice"]],
            left_on="ts",
            right_on="last_orderdate",
            direction="backward",
        )
        merged = merged.dropna(subset=["last_orderkey"])
        merged["last_orderkey"] = merged["last_orderkey"].astype("int64")
        return merged[[
            "event_id", "user_id", "ts",
            "last_orderkey", "last_orderdate", "last_totalprice",
        ]]

    return ev.groupBy("_k").cogroup(od.groupBy("_k")).applyInPandas(
        merge, schema=OUT_SCHEMA
    )


def q_asof_join_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry twin of asof_join_events_orders with the same oracle."""
    ev = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    return asof_join_pandas(ev, orders)


QUERIES = {"asof_join_pandas": q_asof_join_pandas}

# identical semantics to the window formulation -> reuse its oracle SQL
from .timeseries import ORACLES as _TS_ORACLES  # noqa: E402

ORACLES = {"asof_join_pandas": _TS_ORACLES["asof_join_events_orders"]}
