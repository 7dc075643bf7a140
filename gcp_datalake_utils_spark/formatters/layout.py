"""Diagram layout algorithms (SURVEY.md §2.8 G3-G5).

Layouts position diagram nodes — by definition diagram-scale (the
reference caps runs at 1000 tables, ``models.py:112``), so the physics
loop runs on collected rows; the LAYOUT SELECTION and the level/grid
derivations stay DataFrame-side.

``choose_layout`` mirrors the reference's AUTO rule
(``erd_generator.py:74-81``): ≤5 tables -> grid; relationships > 2×
tables -> force-directed; else hierarchical. The force loop reproduces
``_force_directed_layout`` (:167-252): deterministic circle init,
10 iterations of inverse-square repulsion (k=1000) + linear attraction
(k=0.1) along edges, 0.1 step — but unlike the reference (which throws
the positions away, SURVEY.md §7.5) the positions are RETURNED.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.catalog import fixtures as fx
from gcp_datalake_utils_spark.operators.detection import detect_all
from gcp_datalake_utils_spark.operators.graph import bfs_levels
from gcp_datalake_utils_spark.sources import local_frame

FORCE_ITERATIONS = 10
REPULSION = 1000.0
ATTRACTION = 0.1
STEP = 0.1
INIT_RADIUS = 200.0


def choose_layout(n_tables: int, n_relationships: int) -> str:
    if n_tables <= 5:
        return "grid"
    if n_relationships > 2 * n_tables:
        return "force"
    return "hierarchical"


def grid_positions(spark: SparkSession,
                   grid_cols: int = 4,
                   cell_w: int = 260, cell_h: int = 300) -> DataFrame:
    """G5: deterministic grid by table_ord (the reference's grid/
    horizontal/vertical layouts reduce to index arithmetic)."""
    t = fx.meta_tables_df(spark)
    idx = F.col("table_ord") - 1
    return t.select(
        "table_id",
        ((idx % grid_cols) * cell_w).cast("double").alias("x"),
        (F.floor(idx / grid_cols) * cell_h).cast("double").alias("y"))


def hierarchical_positions(spark: SparkSession,
                           rels: DataFrame | None = None,
                           level_h: int = 200,
                           cell_w: int = 260) -> DataFrame:
    """G3+G5: BFS level = row, position within level by table_id."""
    from pyspark.sql import Window
    levels = bfs_levels(spark, rels)
    w = Window.partitionBy("level").orderBy("table_id")
    return levels.select(
        "table_id",
        ((F.row_number().over(w) - 1) * cell_w).cast("double").alias("x"),
        (F.col("level") * level_h).cast("double").alias("y"))


def force_positions(spark: SparkSession,
                    rels: DataFrame | None = None,
                    iterations: int = FORCE_ITERATIONS) -> dict:
    """G4: the reference's force simulation, deterministic (circle init
    in table_ord order). Returns {table_id: (x, y)}."""
    tables = [r["table_id"] for r in
              fx.meta_tables_df(spark).orderBy("table_ord")
              .select("table_id").collect()]
    rels = rels if rels is not None else detect_all(spark)
    edges = [(r["source_table"], r["target_table"])
             for r in rels.select("source_table", "target_table")
             .collect()]
    n = len(tables)
    pos = {}
    for i, t in enumerate(tables):
        angle = 2 * math.pi * i / n
        pos[t] = (INIT_RADIUS * math.cos(angle),
                  INIT_RADIUS * math.sin(angle))
    for _ in range(iterations):
        forces = {t: (0.0, 0.0) for t in tables}
        for i, t1 in enumerate(tables):
            for t2 in tables[i + 1:]:
                x1, y1 = pos[t1]
                x2, y2 = pos[t2]
                dx, dy = x2 - x1, y2 - y1
                dist = math.sqrt(dx * dx + dy * dy)
                if dist > 0:
                    f = REPULSION / (dist * dist)
                    fx_, fy_ = -f * dx / dist, -f * dy / dist
                    forces[t1] = (forces[t1][0] + fx_,
                                  forces[t1][1] + fy_)
                    forces[t2] = (forces[t2][0] - fx_,
                                  forces[t2][1] - fy_)
        for src, dst in edges:
            if src in pos and dst in pos:
                x1, y1 = pos[src]
                x2, y2 = pos[dst]
                dx, dy = x2 - x1, y2 - y1
                dist = math.sqrt(dx * dx + dy * dy)
                if dist > 0:
                    f = dist * ATTRACTION
                    fx_, fy_ = f * dx / dist, f * dy / dist
                    forces[src] = (forces[src][0] + fx_,
                                   forces[src][1] + fy_)
                    forces[dst] = (forces[dst][0] - fx_,
                                   forces[dst][1] - fy_)
        for t in tables:
            fx_, fy_ = forces[t]
            x, y = pos[t]
            pos[t] = (x + fx_ * STEP, y + fy_ * STEP)
    return pos


# ---------------------------------------------------------------------------
# G4 as a driver-checkable [Q] row (r6 verdict ask #9): the force
# simulation is deterministic, so its coordinate table is oracle-able.
# The Spark side runs the physics loop above (diagram-scale by design —
# the reference caps at 1000 tables) and returns a DataFrame; the
# DuckDB oracle re-derives the SAME coordinates independently from the
# fixtures by unrolling the 10 iterations as chained CTEs (pairwise
# self-join for inverse-square repulsion, edge join for linear
# attraction — the identical expression structure, so float drift stays
# ~1e-12 and the 3-decimal rounding is stable).  Edges come from the
# full detection pipeline in BOTH engines (detect_all vs the
# detection_oracle preamble's ``validated`` CTE).
# ---------------------------------------------------------------------------


def force_layout_coords(spark: SparkSession) -> DataFrame:
    """[Q] G4: deterministic force-directed coordinates, one row per
    table (table_id, x, y) rounded to 3 decimals."""
    pos = force_positions(spark)
    rows = [(t, round(x, 3), round(y, 3))
            for t, (x, y) in sorted(pos.items())]
    return local_frame(spark, rows, "table_id string, x double, y double")


def _force_layout_oracle() -> str:
    from gcp_datalake_utils_spark.operators import detection_oracle as do

    # one physics step: s{k} -> s{k+1}; expression structure mirrors
    # force_positions exactly (dist = sqrt(dx*dx + dy*dy); repulsion
    # f = 1000/(dist*dist), component -f*dx/dist; attraction
    # f = dist*0.1, component f*dx/dist; then pos += force*0.1)
    def step(k: int) -> str:
        return f"""
s{k + 1} AS MATERIALIZED (
  SELECT p.table_id, p.ord,
         p.x + {STEP} * (coalesce(r.fx, 0) + coalesce(a.fx, 0)) AS x,
         p.y + {STEP} * (coalesce(r.fy, 0) + coalesce(a.fy, 0)) AS y
  FROM s{k} p
  LEFT JOIN (
    SELECT a.table_id,
           sum(CASE WHEN sqrt((b.x - a.x) * (b.x - a.x)
                             + (b.y - a.y) * (b.y - a.y)) > 0 THEN
             -({REPULSION} / (sqrt((b.x - a.x) * (b.x - a.x)
                                   + (b.y - a.y) * (b.y - a.y))
                              * sqrt((b.x - a.x) * (b.x - a.x)
                                     + (b.y - a.y) * (b.y - a.y))))
             * (b.x - a.x)
             / sqrt((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))
           ELSE 0 END) AS fx,
           sum(CASE WHEN sqrt((b.x - a.x) * (b.x - a.x)
                             + (b.y - a.y) * (b.y - a.y)) > 0 THEN
             -({REPULSION} / (sqrt((b.x - a.x) * (b.x - a.x)
                                   + (b.y - a.y) * (b.y - a.y))
                              * sqrt((b.x - a.x) * (b.x - a.x)
                                     + (b.y - a.y) * (b.y - a.y))))
             * (b.y - a.y)
             / sqrt((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))
           ELSE 0 END) AS fy
    FROM s{k} a JOIN s{k} b ON a.table_id <> b.table_id
    GROUP BY a.table_id) r USING (table_id)
  LEFT JOIN (
    SELECT t AS table_id, sum(fx) AS fx, sum(fy) AS fy FROM (
      SELECT e.source_table AS t,
             CASE WHEN dist > 0
               THEN dist * {ATTRACTION} * (d.x - s.x) / dist ELSE 0 END
               AS fx,
             CASE WHEN dist > 0
               THEN dist * {ATTRACTION} * (d.y - s.y) / dist ELSE 0 END
               AS fy
      FROM edges e
      JOIN s{k} s ON s.table_id = e.source_table
      JOIN s{k} d ON d.table_id = e.target_table
      CROSS JOIN LATERAL (SELECT sqrt((d.x - s.x) * (d.x - s.x)
                                      + (d.y - s.y) * (d.y - s.y))
                            AS dist) _l
      UNION ALL
      SELECT e.target_table AS t,
             CASE WHEN dist > 0
               THEN -(dist * {ATTRACTION} * (d.x - s.x) / dist) ELSE 0 END,
             CASE WHEN dist > 0
               THEN -(dist * {ATTRACTION} * (d.y - s.y) / dist) ELSE 0 END
      FROM edges e
      JOIN s{k} s ON s.table_id = e.source_table
      JOIN s{k} d ON d.table_id = e.target_table
      CROSS JOIN LATERAL (SELECT sqrt((d.x - s.x) * (d.x - s.x)
                                      + (d.y - s.y) * (d.y - s.y))
                            AS dist) _l
    ) GROUP BY t) a USING (table_id)
)"""

    steps = ",".join(step(k) for k in range(FORCE_ITERATIONS))
    return do._preamble() + f"""
, edges AS MATERIALIZED (SELECT source_table, target_table FROM validated),
nodes AS (
  SELECT t.table_id,
         CAST(row_number() OVER (ORDER BY table_ord) - 1 AS DOUBLE)
           AS ord,
         CAST(count(*) OVER () AS DOUBLE) AS n
  FROM tabs t),
s0 AS (
  SELECT table_id, ord,
         {INIT_RADIUS} * cos(2 * pi() * ord / n) AS x,
         {INIT_RADIUS} * sin(2 * pi() * ord / n) AS y
  FROM nodes),{steps}
SELECT table_id, round(x, 3) AS x, round(y, 3) AS y
FROM s{FORCE_ITERATIONS}
"""


FORCE_LAYOUT_COORDS_ORACLE = _force_layout_oracle()


# ---------------------------------------------------------------------------
# G5 direct oracle (r7 verdict ask #9): grid/row/column coordinates as
# their own truth table. Until round 8 the grid arithmetic was only
# verified INSIDE the drawio sink oracle; this exposes all three
# index-arithmetic layouts (the reference's grid / horizontal /
# vertical modes, erd_generator.py layout selection) as one [Q] row so
# every §2 operator has a direct oracle.
# ---------------------------------------------------------------------------

GRID_COLS = 4
CELL_W = 260
CELL_H = 300


def grid_layout_coords(spark: SparkSession) -> DataFrame:
    """[Q] G5: (layout, table_id, x, y) for the three index-arithmetic
    layouts over the metadata catalog — grid (GRID_COLS per row), row
    (one horizontal band), column (one vertical band). Deterministic
    in table_ord; diagram-scale by definition (reference caps at 1000
    tables) but kept declarative: one fixture scan, one explode, no
    collect."""
    t = fx.meta_tables_df(spark)
    idx = F.col("table_ord") - 1
    layouts = F.array(
        F.struct(F.lit("grid").alias("layout"),
                 ((idx % GRID_COLS) * CELL_W).cast("double").alias("x"),
                 (F.floor(idx / GRID_COLS) * CELL_H).cast("double")
                 .alias("y")),
        F.struct(F.lit("row").alias("layout"),
                 (idx * CELL_W).cast("double").alias("x"),
                 F.lit(0.0).alias("y")),
        F.struct(F.lit("column").alias("layout"),
                 F.lit(0.0).alias("x"),
                 (idx * CELL_H).cast("double").alias("y")))
    return (t.select("table_id", F.explode(layouts).alias("l"))
            .select(F.col("l.layout").alias("layout"), "table_id",
                    F.col("l.x").alias("x"), F.col("l.y").alias("y")))


def _grid_layout_oracle() -> str:
    return f"""
WITH tabs AS (SELECT * FROM {fx.meta_tables_values()})
SELECT 'grid' AS layout, table_id,
       CAST(((table_ord - 1) % {GRID_COLS}) * {CELL_W} AS DOUBLE) AS x,
       CAST(floor((table_ord - 1) / {GRID_COLS}) * {CELL_H} AS DOUBLE)
         AS y
FROM tabs
UNION ALL
SELECT 'row', table_id,
       CAST((table_ord - 1) * {CELL_W} AS DOUBLE), 0.0
FROM tabs
UNION ALL
SELECT 'column', table_id,
       0.0, CAST((table_ord - 1) * {CELL_H} AS DOUBLE)
FROM tabs
"""


GRID_LAYOUT_COORDS_ORACLE = _grid_layout_oracle()
