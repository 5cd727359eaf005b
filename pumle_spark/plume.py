"""Plume analytics over the golden long table (the notebook's analysis
surface made first-class: visualize_golden_data.ipynb cells 3-5.5, plus the
trap aggregation A4 and the §2.12 time-delta windows).

Every function takes the golden DataFrame (sim_hash, t, cell_id, i, j, k,
pressure, sw, sg) and composes builtin operators — partition pruning on
sim_hash and row-group skipping on t come from the golden layout for free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import broadcast


def plume_predicate(threshold: float = 0.05) -> F.Column:
    """The single source of truth for "cell is in the plume": sg strictly
    above threshold, NaN/NULL-aware. Shared by the batch plume queries and
    (through plume_size_over_time) the streaming monitor, so the two paths
    cannot drift at the boundary."""
    return F.col("sg").isNotNull() & ~F.isnan("sg") & (F.col("sg") > threshold)


def plume_cells(golden: DataFrame, threshold: float = 0.05) -> DataFrame:
    """P9: cells in the CO₂ plume — sg above threshold, NaN/NULL-aware
    (notebook cell 5.5: sg > th & ~isnan)."""
    return golden.filter(plume_predicate(threshold))


def plume_size_over_time(golden: DataFrame, threshold: float = 0.05) -> DataFrame:
    """The minimum end-to-end query (SURVEY §7.2): plume cell count per
    (sim, t)."""
    return (
        plume_cells(golden, threshold)
        .groupBy("sim_hash", "t")
        .agg(F.count(F.lit(1)).alias("n_plume_cells"))
    )


def plume_centroid(golden: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Mass-weighted plume centroid per (sim, t) — one agg pass."""
    p = plume_cells(golden, threshold)
    total = F.sum("sg")
    return p.groupBy("sim_hash", "t").agg(
        F.round(F.sum(F.col("i") * F.col("sg")) / total, 6).alias("cx"),
        F.round(F.sum(F.col("j") * F.col("sg")) / total, 6).alias("cy"),
        F.round(F.sum(F.col("k") * F.col("sg")) / total, 6).alias("cz"),
        F.round(total, 6).alias("total_sg"),
    )


def saturation_deltas(golden: DataFrame) -> DataFrame:
    """§2.12 window analytics: per-cell saturation change over time —
    lag(sg) over Window.partitionBy(sim, cell).orderBy(t). One shuffle on
    (sim_hash, cell_id), reusable by every downstream delta metric."""
    w = Window.partitionBy("sim_hash", "cell_id").orderBy("t")
    return golden.select(
        "sim_hash",
        "t",
        "cell_id",
        "sg",
        (F.col("sg") - F.lag("sg").over(w)).alias("d_sg"),
        (F.col("pressure") - F.lag("pressure").over(w)).alias("d_pressure"),
    )


def trap_volumes(golden_t: DataFrame, traps: DataFrame, cell_volumes: DataFrame) -> DataFrame:
    """A4 trap volume aggregation (co2lab3DPUMLE.m:141-144): per-trap summed
    CO₂ volume. Trap ids are INGESTED input (the spill-point analysis runs
    in MRST upstream — SURVEY §7.3 item 5), so this is
    filter(trap>0) ⋈ volumes → groupBy(trap_id) — with both dims broadcast.

    golden_t: one timestep slice; traps: (cell_id, trap_id); cell_volumes:
    (cell_id, vol).
    """
    return (
        golden_t.join(broadcast(traps.filter(F.col("trap_id") > 0)), "cell_id")
        .join(broadcast(cell_volumes), "cell_id")
        .groupBy("trap_id")
        .agg(
            F.sum(F.col("sg") * F.col("vol")).alias("co2_volume"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )


def boundary_vertical_faces(faces: DataFrame) -> DataFrame:
    """P8 boundary-face predicate (co2lab3DPUMLE.m:439-442): vertical faces
    (zero z-normal) on the domain boundary (one missing neighbor ⇒ product
    of neighbor ids is 0 with the MRST 0-for-exterior convention)."""
    return faces.filter(
        (F.col("nz") == 0) & (F.col("nbr_l") * F.col("nbr_r") == 0)
    )
