"""Distributed spill-point trap analysis over a top-surface grid.

The reference delegates trap detection to MRST's trapAnalysis
(co2lab3DPUMLE.m:141-144) and the engine aggregates GIVEN trap ids
(plume.py A4). This module computes the assignment itself, Spark-first:

- CO₂ under a caprock surface z(i, j) (depth, positive down) migrates to
  the SHALLOWEST reachable neighbor. Every cell gets a steepest-ascent
  pointer to the min-z cell of its 8-neighborhood (itself if it is the
  local structural high) — a pure equi-join over 8 exploded offsets, no
  range join, no Python.
- Following pointers to their fixpoint labels each cell with the
  structural high ("trap top") its CO₂ migrates toward — the watershed /
  catchment decomposition. Implemented with POINTER JUMPING
  (ptr ← ptr∘ptr), so convergence takes O(log L) self-joins for the
  longest migration path L, not O(L) — at 100 TB the plan depth, not the
  data, is what kills iterative jobs.
- Spill points: a trap's spill depth is the lowest saddle on its
  boundary — min over boundary-crossing neighbor pairs of
  max(z_cell, z_neighbor) (one more equi-join + groupBy). The trapped
  volume per trap is Σ max(spill_z - z_cell, 0)·cell_area over its cells
  — the structural capacity integral.

Determinism: all comparisons tie-break lexicographically on (z, i, j),
so plateaus resolve identically everywhere (and identically in the
DuckDB oracle of the workload query).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_OFFSETS = [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]


def steepest_ascent_pointers(surface: DataFrame) -> DataFrame:
    """surface(i, j, z) → (i, j, z, pi, pj): pointer to the min-(z, i, j)
    cell among the 8-neighborhood INCLUDING self; cells that are their own
    pointer are local structural highs (trap tops).

    Join shape: explode 8 constant offsets per cell → equi-join on the
    shifted coordinates. Equi-joins shuffle-partition cleanly at any grid
    size; the per-cell fan-out is a constant 8."""
    nbr_targets = surface.select(
        "i",
        "j",
        F.explode(
            F.array(*[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj")) for di, dj in _OFFSETS])
        ).alias("o"),
    ).select("i", "j", (F.col("i") + F.col("o.di")).alias("ni"), (F.col("j") + F.col("o.dj")).alias("nj"))
    n = surface.select(
        F.col("i").alias("ni"), F.col("j").alias("nj"), F.col("z").alias("nz")
    )
    # per cell: min (nz, ni, nj) over existing neighbors
    best_nbr = (
        nbr_targets.join(n, ["ni", "nj"])
        .groupBy("i", "j")
        .agg(F.min(F.struct(F.col("nz"), F.col("ni"), F.col("nj"))).alias("b"))
    )
    return (
        surface.join(best_nbr, ["i", "j"], "left")
        .select(
            "i",
            "j",
            "z",
            # self competes too: pointer = lexicographic min of (z,i,j) vs best neighbor
            F.when(
                F.col("b").isNull()
                | (F.struct(F.col("z"), F.col("i"), F.col("j")) <= F.col("b")),
                F.struct(F.col("i").alias("pi"), F.col("j").alias("pj")),
            )
            .otherwise(F.struct(F.col("b.ni").alias("pi"), F.col("b.nj").alias("pj")))
            .alias("p"),
        )
        .select("i", "j", "z", F.col("p.pi").alias("pi"), F.col("p.pj").alias("pj"))
    )


def watershed_labels(pointers: DataFrame, max_iter: int = 20) -> DataFrame:
    """(i, j, z, pi, pj) → (i, j, z, trap_i, trap_j): resolve every pointer
    chain to its fixpoint via pointer jumping — each round substitutes
    ptr ← ptr(ptr), doubling the resolved path length, so a migration path
    of length L needs ⌈log₂ L⌉ rounds (each one equi-join + localCheckpoint
    to keep lineage flat). Early-exits when a round changes nothing."""
    # pin: every round reads the labels twice (PERF.md "Pins")
    labels = pointers.localCheckpoint(eager=True)
    for _ in range(max_iter):
        parent = labels.select(
            F.col("i").alias("pi"),
            F.col("j").alias("pj"),
            F.col("pi").alias("ppi"),
            F.col("pj").alias("ppj"),
        )
        jumped = (
            labels.join(parent, ["pi", "pj"])
            .select(
                "i",
                "j",
                "z",
                F.col("ppi").alias("pi"),
                F.col("ppj").alias("pj"),
            )
            # pin: round k+1 and the moved-count both read round k (PERF.md "Pins")
            .localCheckpoint(eager=True)
        )
        n_moved = (
            jumped.alias("a")
            .join(labels.alias("b"), ["i", "j"])
            .filter((F.col("a.pi") != F.col("b.pi")) | (F.col("a.pj") != F.col("b.pj")))
            .count()
        )
        labels = jumped
        if n_moved == 0:
            break
    else:
        # pointer chains still moving at max_iter: labels are not a fixpoint
        # (pointer jumping needs ⌈log₂ L⌉ rounds — hitting this means a
        # pathologically long migration path or a pointer cycle). Warn rather
        # than silently returning partial watersheds.
        import warnings

        warnings.warn(
            f"watershed_labels: {n_moved} pointers still moving after "
            f"max_iter={max_iter} pointer-jumping rounds — returned labels "
            "are unconverged",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("i", "j", "z", F.col("pi").alias("trap_i"), F.col("pj").alias("trap_j"))


def trap_assignment(surface: DataFrame, max_iter: int = 20) -> DataFrame:
    """surface(i, j, z) → (i, j, z, trap_i, trap_j): full watershed pass."""
    return watershed_labels(steepest_ascent_pointers(surface), max_iter)


def trap_spill_volumes(labels: DataFrame, cell_area: float = 1.0) -> DataFrame:
    """(i, j, z, trap_i, trap_j) → per-trap spill point and structural
    capacity: (trap_i, trap_j, top_z, spill_z, n_cells, trapped_volume).

    spill_z = min over boundary-crossing neighbor pairs of
    max(z_cell, z_neighbor) — the lowest saddle out of the catchment.
    Traps with no boundary (single-trap surface) spill at +inf ≡ NULL and
    report volume over their whole catchment above the deepest cell."""
    nbr_targets = labels.select(
        "i",
        "j",
        "z",
        "trap_i",
        "trap_j",
        F.explode(
            F.array(*[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj")) for di, dj in _OFFSETS])
        ).alias("o"),
    ).select(
        "i",
        "j",
        "z",
        "trap_i",
        "trap_j",
        (F.col("i") + F.col("o.di")).alias("ni"),
        (F.col("j") + F.col("o.dj")).alias("nj"),
    )
    other = labels.select(
        F.col("i").alias("ni"),
        F.col("j").alias("nj"),
        F.col("z").alias("nz"),
        F.col("trap_i").alias("nti"),
        F.col("trap_j").alias("ntj"),
    )
    saddles = (
        nbr_targets.join(other, ["ni", "nj"])
        .filter((F.col("trap_i") != F.col("nti")) | (F.col("trap_j") != F.col("ntj")))
        .groupBy("trap_i", "trap_j")
        .agg(F.min(F.greatest(F.col("z"), F.col("nz"))).alias("spill_z"))
    )
    per_trap = labels.groupBy("trap_i", "trap_j").agg(
        F.min("z").alias("top_z"),
        F.max("z").alias("deepest_z"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    fill = per_trap.join(saddles, ["trap_i", "trap_j"], "left").select(
        "trap_i",
        "trap_j",
        "top_z",
        "n_cells",
        "spill_z",
        # no saddle (single catchment) → fill to the deepest cell
        F.coalesce(F.col("spill_z"), F.col("deepest_z")).alias("_fill_z"),
    )
    vols = (
        labels.join(fill.select("trap_i", "trap_j", "_fill_z"), ["trap_i", "trap_j"])
        .groupBy("trap_i", "trap_j")
        .agg(
            F.sum(
                F.greatest(F.col("_fill_z") - F.col("z"), F.lit(0.0)) * F.lit(cell_area)
            ).alias("trapped_volume")
        )
    )
    return fill.drop("_fill_z").join(vols, ["trap_i", "trap_j"])
