"""Spatial operators: grid-bucketed distance join and multi-resolution
cell rollup (heatmap) — the geospatial lane of the engine.

Absent from the reference (batch tokenizer only — SURVEY.md §2.2 north
star scope: "operations a large-scale pipeline needs"). The fixtures
carry no coordinates, so both queries derive deterministic INTEGER
coordinates from entity keys with pure modular arithmetic (identical in
Spark and DuckDB — no hash function whose implementation could differ
across engines). All distance math stays in exact integers (squared
Euclidean), so results are value-verifiable bit-for-bit.

Scale design (the point of the lane):
- The naive spatial join is a cross product with a distance predicate —
  O(n·m) and unrunnable at 100 TB. The Spark side instead buckets both
  sides into R-sized grid cells and joins each customer cell against the
  3x3 neighborhood of supplier cells; any pair within radius R is
  guaranteed to land in adjacent cells, so the join is an EQUI-join on
  (cell_x, cell_y) that Catalyst can hash/broadcast — candidate pairs
  per row are bounded by local density, not table size. The 9x cell
  replication is applied to the SMALLER side (suppliers), the standard
  grid/PBSM spatial-join layout. The oracle runs the naive predicate
  cross join — proving the bucketed plan computes the identical result.
- The rollup aggregates cells at three nested precisions in ONE pass
  with GROUPING SETS (one shuffle), the geohash-prefix-drilldown shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Deterministic coordinate derivation: Lehmer-style multipliers, 10k grid.
GRID = 10_000
AX, AY = 48271, 16807
#: join radius; cell edge = R so matches never span beyond adjacent cells
RADIUS = 300
R2 = RADIUS * RADIUS


def _coords(df: DataFrame, key: str) -> DataFrame:
    return df.select(
        F.col(key),
        (F.col(key) * AX % GRID).cast("bigint").alias("x"),
        (F.col(key) * AY % GRID).cast("bigint").alias("y"),
    )


def q_geo_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: how many suppliers lie within RADIUS, and the
    nearest one (squared-distance, then key, as the total tie order).
    Customers with no supplier in range keep a 0/NULL row — the LEFT
    spatial join. Plan: suppliers (small side) are replicated into
    their 3x3 neighbor cells via a 9-row literal explode and the join
    runs as an equi-join on the cell id; the distance predicate only
    filters candidates inside a cell pair, never scans the cross
    product."""
    from ..session import load_table

    cust = _coords(load_table(spark, sf_dir, "customer"), "c_custkey")
    supp = _coords(load_table(spark, sf_dir, "supplier"), "s_suppkey")

    cells = ", ".join(
        f"struct({ox} AS ox, {oy} AS oy)"
        for ox in (-1, 0, 1)
        for oy in (-1, 0, 1)
    )
    offsets = F.expr(f"explode(array({cells}))")
    supp9 = supp.select(
        "s_suppkey", F.col("x").alias("sx"), F.col("y").alias("sy"),
        offsets.alias("o"),
    ).select(
        "s_suppkey", "sx", "sy",
        (F.floor(F.col("sx") / RADIUS) + F.col("o.ox")).alias("cx"),
        (F.floor(F.col("sy") / RADIUS) + F.col("o.oy")).alias("cy"),
    )
    ccell = cust.select(
        "c_custkey", "x", "y",
        F.floor(F.col("x") / RADIUS).alias("cx"),
        F.floor(F.col("y") / RADIUS).alias("cy"),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    pairs = ccell.join(F.broadcast(supp9), ["cx", "cy"]).select(
        "c_custkey", "s_suppkey", d2.alias("d2")
    ).filter(F.col("d2") <= R2)
    agg = pairs.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.min(F.struct("d2", "s_suppkey")).alias("near"),
    )
    return (
        cust.select("c_custkey")
        .join(agg, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce("n_within", F.lit(0)).cast("bigint").alias("n_within"),
            F.col("near.s_suppkey").alias("nearest_suppkey"),
            F.col("near.d2").cast("bigint").alias("nearest_d2"),
        )
    )


def q_geo_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial heatmap at three nested precisions (cell edge 1000 / 500 /
    250 — each level a 4-way split of the parent, the geohash-prefix
    shape) in ONE scan + ONE shuffle via GROUPING SETS: per (level,
    cell_x, cell_y), customer count and exact account-balance cents."""
    from ..session import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * AX % GRID).cast("bigint").alias("x"),
        (F.col("c_custkey") * AY % GRID).cast("bigint").alias("y"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    levels = cust.select(
        "cents",
        F.floor(F.col("x") / 1000).alias("l1x"),
        F.floor(F.col("y") / 1000).alias("l1y"),
        F.floor(F.col("x") / 500).alias("l2x"),
        F.floor(F.col("y") / 500).alias("l2y"),
        F.floor(F.col("x") / 250).alias("l3x"),
        F.floor(F.col("y") / 250).alias("l3y"),
    )
    return spark.sql(
        """
        SELECT
          CASE WHEN l1x IS NOT NULL THEN 1
               WHEN l2x IS NOT NULL THEN 2 ELSE 3 END AS level,
          coalesce(l1x, l2x, l3x) AS cell_x,
          coalesce(l1y, l2y, l3y) AS cell_y,
          count(*) AS n_customers,
          CAST(sum(cents) AS BIGINT) AS balance_cents
        FROM {levels}
        GROUP BY GROUPING SETS ((l1x, l1y), (l2x, l2y), (l3x, l3y))
        """,
        levels=levels,
    )


#: zone rectangles (zone_id, x0, x1, y0, y1) — half-open [x0, x1) ×
#: [y0, y1): the four quadrants (a partition of the grid) plus an
#: overlapping center zone, so multi-assignment semantics are exercised
ZONES = (
    (1, 0, 5000, 0, 5000),
    (2, 5000, 10000, 0, 5000),
    (3, 0, 5000, 5000, 10000),
    (4, 5000, 10000, 5000, 10000),
    (5, 2500, 7500, 2500, 7500),
)


def q_geo_zone_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-rectangle zone assignment (the bounding-box stage every
    point-in-polygon pipeline runs first): customers against the 5-zone
    table, per-zone count and exact balance cents. A point inside the
    overlapping center zone counts in BOTH its quadrant and zone 5 —
    multi-assignment is the stated semantics (geofence alerting), not
    double-count bug. Plan: the zone table broadcasts (5 rows) and the
    containment predicate runs as a BroadcastNestedLoopJoin — correct
    HERE because the build side is O(zones); thousands of zones
    re-use the grid-cell equi-join of q_geo_grid_distance_join."""
    from pyspark.sql import Row

    from ..session import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * AX % GRID).cast("bigint").alias("x"),
        (F.col("c_custkey") * AY % GRID).cast("bigint").alias("y"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    zones = spark.createDataFrame(
        [Row(zone_id=z, x0=a, x1=b, y0=c, y1=d) for z, a, b, c, d in ZONES]
    )
    hit = cust.join(
        F.broadcast(zones),
        (F.col("x") >= F.col("x0"))
        & (F.col("x") < F.col("x1"))
        & (F.col("y") >= F.col("y0"))
        & (F.col("y") < F.col("y1")),
    )
    return hit.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("balance_cents"),
    )


_ZONES_SQL = " UNION ALL ".join(
    f"SELECT {z} AS zone_id, {a} AS x0, {b} AS x1, {c} AS y0, {d} AS y1"
    for z, a, b, c, d in ZONES
)


HILBERT_BITS = 8  # 8-bit coords -> 16-bit curve index (256x256 grid)


def _hilbert_sql(customer: str = "customer") -> str:
    """ONE SQL text (runs verbatim on Spark and DuckDB) computing the
    Hilbert d-index of each customer's 8-bit grid cell by unrolling the
    standard xy2d loop into one CTE per bit level. The quadrant term
    (3·rx) XOR ry is written as a CASE over rx·2+ry (engine-portable —
    DuckDB spells xor as a function, Spark as an operator) and the
    level rotation/flip as CASEs over (rx, ry). Only `&`, `-`,
    arithmetic, and CASE appear, which the two parsers treat
    identically."""
    steps = []
    prev = "c0"
    for i, s in enumerate(
        1 << b for b in reversed(range(HILBERT_BITS))
    ):
        cur = f"c{i + 1}"
        steps.append(
            f"""{cur} AS (
  SELECT c_custkey,
    CASE WHEN ry = 0 AND rx = 1 THEN {s} - 1 - y
         WHEN ry = 0 THEN y ELSE x END AS x,
    CASE WHEN ry = 0 AND rx = 1 THEN {s} - 1 - x
         WHEN ry = 0 THEN x ELSE y END AS y,
    d + {s * s} * (CASE rx * 2 + ry WHEN 0 THEN 0 WHEN 1 THEN 1
                   WHEN 2 THEN 3 ELSE 2 END) AS d
  FROM (
    SELECT c_custkey, x, y, d,
      CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
      CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
    FROM {prev}
  )
)"""
        )
        prev = cur
    body = ",\n".join(steps)
    # integer division written as (v - v % k) / k: exact-integral on
    # both engines (Spark / truncates on cast, DuckDB ROUNDS — an
    # integral double casts identically either way)
    xv = f"((c_custkey * {AX}) % {GRID})"
    yv = f"((c_custkey * {AY}) % {GRID})"
    return f"""
WITH c0 AS (
  SELECT c_custkey,
    CAST(({xv} - {xv} % 40) / 40 AS BIGINT) AS x,
    CAST(({yv} - {yv} % 40) / 40 AS BIGINT) AS y,
    0 AS d
  FROM {customer}
),
{body}
SELECT c_custkey,
  CAST(({xv} - {xv} % 40) / 40 AS BIGINT) AS cell_x,
  CAST(({yv} - {yv} % 40) / 40 AS BIGINT) AS cell_y,
  CAST(d AS BIGINT) AS hilbert_d,
  CAST((d - d % 256) / 256 AS BIGINT) AS hilbert_bucket
FROM {prev}
"""


def q_geo_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key — the space-filling-curve layout
    alternative to the Morton z-order (relational.q_zorder_layout):
    Hilbert has strictly better locality (no diagonal jumps between
    quadrants), which is why lakehouse OPTIMIZE implementations offer
    it for multi-dimensional clustering. The xy2d walk is unrolled into
    8 chained CTEs of pure integer CASE arithmetic — one SQL text on
    both engines (see _hilbert_sql), map-only, shuffle-free;
    hilbert_bucket (top bits) is the target file id a layout job would
    range-partition by."""
    from ..session import load_table

    # a DataFrame argument, not a temp view: a caller's own ``customer``
    # view stays as it was
    return spark.sql(
        _hilbert_sql("{customer}"), customer=load_table(spark, sf_dir, "customer")
    )


QUERIES = {
    "geo_grid_distance_join": q_geo_grid_distance_join,
    "geo_cell_rollup": q_geo_cell_rollup,
    "geo_zone_stats": q_geo_zone_stats,
    "geo_hilbert_layout": q_geo_hilbert_layout,
}

ORACLES = {
    # naive predicate cross join == the bucketed equi-join's result
    "geo_grid_distance_join": f"""
WITH c AS (
  SELECT c_custkey, (c_custkey * {AX}) % {GRID} AS x,
         (c_custkey * {AY}) % {GRID} AS y
  FROM customer
), s AS (
  SELECT s_suppkey, (s_suppkey * {AX}) % {GRID} AS x,
         (s_suppkey * {AY}) % {GRID} AS y
  FROM supplier
), pairs AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
  FROM c, s
  WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= {R2}
), agg AS (
  SELECT c_custkey, count(*) AS n_within, min(d2) AS min_d2
  FROM pairs GROUP BY 1
), near AS (
  SELECT p.c_custkey, min(p.s_suppkey) AS nearest_suppkey
  FROM pairs p JOIN agg a
    ON p.c_custkey = a.c_custkey AND p.d2 = a.min_d2
  GROUP BY 1
)
SELECT cu.c_custkey,
       CAST(coalesce(a.n_within, 0) AS BIGINT) AS n_within,
       near.nearest_suppkey,
       CAST(a.min_d2 AS BIGINT) AS nearest_d2
FROM c cu
LEFT JOIN agg a ON cu.c_custkey = a.c_custkey
LEFT JOIN near ON cu.c_custkey = near.c_custkey
""",
    "geo_zone_stats": f"""
WITH c AS (
  SELECT c_custkey, (c_custkey * {AX}) % {GRID} AS x,
         (c_custkey * {AY}) % {GRID} AS y,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), z AS ({_ZONES_SQL})
SELECT z.zone_id, count(*) AS n_customers,
       CAST(sum(c.cents) AS BIGINT) AS balance_cents
FROM c JOIN z
  ON c.x >= z.x0 AND c.x < z.x1 AND c.y >= z.y0 AND c.y < z.y1
GROUP BY z.zone_id
""",
    "geo_hilbert_layout": _hilbert_sql(),
    "geo_cell_rollup": f"""
WITH c AS (
  SELECT (c_custkey * {AX}) % {GRID} AS x,
         (c_custkey * {AY}) % {GRID} AS y,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
)
SELECT 1 AS level, x // 1000 AS cell_x, y // 1000 AS cell_y,
       count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS balance_cents
FROM c GROUP BY 2, 3
UNION ALL
SELECT 2, x // 500, y // 500, count(*), CAST(sum(cents) AS BIGINT)
FROM c GROUP BY 2, 3
UNION ALL
SELECT 3, x // 250, y // 250, count(*), CAST(sum(cents) AS BIGINT)
FROM c GROUP BY 2, 3
""",
}
