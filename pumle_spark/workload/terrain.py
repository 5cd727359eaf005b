"""Spill-point trap analysis workload queries (the reference's MRST
trapAnalysis delegation, computed natively — SURVEY §7.3's scoped-out
"novel operator", now implemented in operators/terrain.py).

The top surface is derived deterministically from the `part` table
(p_partkey → 50-wide areal grid, md5-noise integer depths) with the SAME
expression in Spark and DuckDB, so the watershed assignment and the
spill/volume aggregation are fully oracle-checked: Spark resolves pointer
chains by pointer jumping, the oracle by a recursive CTE — same fixpoint,
different engine idiom.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pumle_spark.tables import table
from pumle_spark.workload import register

_GRID_W = 50

# identical surface on both engines: i, j from the part key; z = md5-noise
# integer depth in [0, 1000) (md5-derived values are engine-portable ints —
# same trick as the LSH hyperplanes)
_SQL_SURFACE = f"""
    surface AS (
      SELECT CAST((p_partkey - 1) % {_GRID_W} AS BIGINT) AS i,
             CAST((p_partkey - 1) // {_GRID_W} AS BIGINT) AS j,
             CAST(('0x' || substr(md5('cell' || CAST((p_partkey - 1) % {_GRID_W} AS VARCHAR)
                                   || '_' || CAST((p_partkey - 1) // {_GRID_W} AS VARCHAR)), 1, 8))::UBIGINT
                  % 1000 AS DOUBLE) AS z
      FROM part
    )
"""

_SQL_WATERSHED = f"""
    {_SQL_SURFACE},
    nbrs AS (
      SELECT c.i, c.j, n.i AS ni, n.j AS nj, n.z AS nz
      FROM surface c
      JOIN surface n
        ON n.i BETWEEN c.i - 1 AND c.i + 1
       AND n.j BETWEEN c.j - 1 AND c.j + 1
       AND NOT (n.i = c.i AND n.j = c.j)
    ),
    best AS (
      SELECT i, j, ni, nj, nz FROM (
        SELECT i, j, ni, nj, nz,
               ROW_NUMBER() OVER (PARTITION BY i, j ORDER BY nz, ni, nj) AS rn
        FROM nbrs) WHERE rn = 1
    ),
    ptr AS (
      SELECT s.i, s.j, s.z,
             CASE WHEN b.i IS NULL OR (s.z, s.i, s.j) <= (b.nz, b.ni, b.nj)
                  THEN s.i ELSE b.ni END AS pi,
             CASE WHEN b.i IS NULL OR (s.z, s.i, s.j) <= (b.nz, b.ni, b.nj)
                  THEN s.j ELSE b.nj END AS pj
      FROM surface s LEFT JOIN best b ON b.i = s.i AND b.j = s.j
    ),
    walk AS (
      SELECT i, j, z, pi, pj FROM ptr
      UNION
      SELECT w.i, w.j, w.z, p.pi, p.pj
      FROM walk w JOIN ptr p ON p.i = w.pi AND p.j = w.pj
    ),
    labels AS (
      SELECT w.i, w.j, w.z, w.pi AS trap_i, w.pj AS trap_j
      FROM walk w
      JOIN ptr r ON r.i = w.pi AND r.j = w.pj AND r.pi = r.i AND r.pj = r.j
    )
"""


def _surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    i = ((F.col("p_partkey") - 1) % _GRID_W).cast("bigint")
    j = F.expr(f"(p_partkey - 1) div {_GRID_W}").cast("bigint")
    noise = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cell"), i.cast("string"), F.lit("_"), j.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    ).cast("double")
    return p.select(i.alias("i"), j.alias("j"), noise.alias("z"))


@register(
    "trap_watershed_assignment",
    sql=f"""
    WITH RECURSIVE {_SQL_WATERSHED}
    SELECT i, j, z, trap_i, trap_j FROM labels
    """,
    tags=("terrain", "watershed", "iterative"),
)
def trap_watershed_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watershed/catchment decomposition of the top surface: every areal
    cell labeled with the structural high its CO₂ migrates toward
    (steepest-ascent pointers + pointer-jumping fixpoint,
    operators/terrain.py). The oracle chases the same pointers with a
    recursive CTE — identical tie-breaks, identical labels."""
    from pumle_spark.operators.terrain import trap_assignment

    return trap_assignment(_surface(spark, sf_dir))


@register(
    "trap_spill_volumes",
    sql=f"""
    WITH RECURSIVE {_SQL_WATERSHED},
    saddles AS (
      SELECT a.trap_i, a.trap_j, MIN(GREATEST(a.z, b.z)) AS spill_z
      FROM labels a
      JOIN labels b
        ON b.i BETWEEN a.i - 1 AND a.i + 1
       AND b.j BETWEEN a.j - 1 AND a.j + 1
       AND NOT (b.i = a.i AND b.j = a.j)
       AND NOT (b.trap_i = a.trap_i AND b.trap_j = a.trap_j)
      GROUP BY a.trap_i, a.trap_j
    ),
    per_trap AS (
      SELECT trap_i, trap_j, MIN(z) AS top_z, MAX(z) AS deepest_z,
             COUNT(*) AS n_cells
      FROM labels GROUP BY trap_i, trap_j
    ),
    fill AS (
      SELECT p.trap_i, p.trap_j, p.top_z, p.n_cells, s.spill_z,
             COALESCE(s.spill_z, p.deepest_z) AS fill_z
      FROM per_trap p
      LEFT JOIN saddles s ON s.trap_i = p.trap_i AND s.trap_j = p.trap_j
    )
    SELECT f.trap_i, f.trap_j, f.top_z, f.spill_z, f.n_cells,
           ROUND(SUM(GREATEST(f.fill_z - l.z, 0)), 2) AS trapped_volume
    FROM fill f
    JOIN labels l ON l.trap_i = f.trap_i AND l.trap_j = f.trap_j
    GROUP BY 1, 2, 3, 4, 5
    """,
    tags=("terrain", "spill-point", "agg"),
)
def trap_spill_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trap spill point (lowest boundary saddle) and structural CO₂
    capacity (Σ max(spill_z − z, 0) over the catchment) — the aggregate
    MRST's trapAnalysis feeds into the reference's trap-volume step (A4),
    now computed end-to-end in the engine."""
    from pumle_spark.operators.terrain import trap_assignment
    from pumle_spark.operators.terrain import trap_spill_volumes as volumes

    # pin: the volume operator reads the labels three times (PERF.md "Pins")
    labels = trap_assignment(_surface(spark, sf_dir)).localCheckpoint(eager=True)
    out = volumes(labels)
    return out.select(
        "trap_i",
        "trap_j",
        "top_z",
        "spill_z",
        "n_cells",
        F.round("trapped_volume", 2).alias("trapped_volume"),
    )
