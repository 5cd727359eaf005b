"""Bronze → golden ingest (SURVEY §3.2 — the heart of the engine).

Reference pipeline (eager, per-sim Python loop; sim_results_parser.py:260-328
+ arrays.py:56-147): read JSON states → project pressure/s → bounds-filter →
gather at active-cell indices → scatter into dense (i,j,k,t) NumPy tensors
with NaN for inactive cells.

Spark redesign (ONE lazy plan for the whole fleet, one row per sim until
the scatter):

    actnum (1 row/sim) ─ P2 cell layout: sorted [(cell_id, row_idx|NULL)]
                                    │ broadcast
    states (1 row/(sim, t)) ──── LEFT JOIN on sim_hash
                                    │
                                    └─ J1/J2/P3 scatter: inline(transform(
                                       cells, x -> try_element_at(array,
                                       x.row_idx + 1))) → F12 (i,j,k) →
                                       golden long Parquet by sim_hash

The canonical store is the LONG format (sim_hash, t, cell_id, i, j, k,
pressure, sw, sg); NULL = inactive cell (the reference's NaN). Dense
tensors exist only in export sinks (exports.py). Partitioning by sim_hash
makes per-sim queries partition-pruned scans; within a partition rows are
sorted by (t, cell_id) for row-group skipping on timestep predicates.
The golden stream (streaming/pipeline.py) runs ingest_golden and
write_golden on the sims each micro-batch completes, so streamed and batch
golden are one store.

Scale: no driver-side loops, no collect, no shuffle. Every input is already
grouped by sim (one states file, one ACTNUM file), so the scatter is the
reference's per-sim reshape run as an array expression: each sim's golden
rows come from its own input rows, in the task that read its states file,
and the writer needs no repartition. The only exchange is the broadcast of
the cell layouts: 32 bytes per cell in Spark's row format, ~3 MB per
UNISIM-sized sim (94k cells). The broadcast grows with sims × ncells, so a
fleet whose layouts outgrow driver memory needs a shuffle join on sim_hash
in its place.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pumle_spark.functions.grid import ijk_exprs
from pumle_spark.sources.bronze import read_actnum, read_grid_dims, read_states

# The golden store's columns in read order (sim_hash is the partition
# column, so it comes last). Declared, not inferred: inference costs a
# Spark job per read, and partition inference would type an all-digit
# sim_hash such as "00123456" as an integer.
GOLDEN_SCHEMA = (
    "t int, cell_id bigint, i int, j int, k int, "
    "pressure double, sw double, sg double, sim_hash string"
)


def _layout(cell_id: str, row_idx: str) -> str:
    return f"named_struct('cell_id', {cell_id}, 'row_idx', {row_idx})"


def cell_layout(actnum: DataFrame, ncells: int) -> DataFrame:
    """P2: (sim_hash, cells), one row per sim. ``cells`` lists every cell id
    in 0..ncells-1 in order, each with its row_idx: the cell's position
    among the sim's active cells — np.where(actnum)[0]
    (sim_results_parser.py:216), the order the simulator emits state arrays
    in — or NULL when inactive.

    ACTNUM entries past ncells are ignored and missing ones are inactive.
    The two ordered id lists are merged by one sort per sim; a map lookup
    would be a linear scan per cell, quadratic at UNISIM size.
    """
    cell_ids = f"sequence(0, {ncells} - 1)"
    active = f"filter({cell_ids}, c -> get(actnum, c) != 0)"
    inactive = f"filter({cell_ids}, c -> NOT coalesce(get(actnum, c) != 0, false))"
    cells = (
        f"sort_array(concat("
        f"transform({active}, (c, r) -> {_layout('c', 'r')}), "
        f"transform({inactive}, c -> {_layout('c', 'CAST(NULL AS INT)')})))"
    )
    return actnum.select("sim_hash", F.expr(cells).alias("cells"))


def ingest_golden(
    spark: SparkSession,
    states_glob: str | list[str],
    actnum_glob: str | list[str],
    dims_path: str,
) -> DataFrame:
    """Full bronze→golden plan: golden long rows (sim_hash, t, cell_id, i,
    j, k, pressure, sw, sg) of the states files against each sim's
    broadcast cell_layout — dense over cells × timesteps per sim,
    NULL-valued at inactive cells (arrays.py:90-92 NaN). Each glob may also
    be a list of paths, as the streams in streaming/pipeline.py pass.

    A timestep is emitted when both arrays are present and not both empty.
    A sim with no ACTNUM row gets every grid cell all-inactive.
    """
    ni, nj, nk = read_grid_dims(spark, dims_path)
    ncells = ni * nj * nk
    states = read_states(spark, states_glob).filter(
        F.col("pressure").isNotNull()
        & F.col("s").isNotNull()
        & (F.greatest(F.size("pressure"), F.size("s")) > 0)
    )
    all_inactive = f"transform(sequence(0, {ncells} - 1), c -> {_layout('c', 'CAST(NULL AS INT)')})"
    # J1 scatter + P3 bounds rule (arrays.py:106-110,
    # sim_results_parser.py:295-300): each active cell reads its state row
    # with try_element_at, so rows past n_active are never read and active
    # cells past the array's end come out NULL, as do inactive cells.
    value = "try_element_at({}, x.row_idx + 1)"
    rows = (
        f"inline(transform(coalesce(cells, {all_inactive}), x -> named_struct("
        "'cell_id', CAST(x.cell_id AS BIGINT), "
        f"'pressure', {value.format('pressure')}, "
        f"'sw', {value.format('s')}[0], "
        f"'sg', {value.format('s')}[1])))"
    )
    layouts = F.broadcast(cell_layout(read_actnum(spark, actnum_glob), ncells))
    i, j, k = ijk_exprs(F.col("cell_id"), ni, nj)
    return (
        states.join(layouts, "sim_hash", "left")
        .select("sim_hash", "t", F.expr(rows))
        .select("sim_hash", "t", "cell_id", i, j, k, "pressure", "sw", "sg")
    )


def write_golden(golden: DataFrame, path: str) -> None:
    """Persist golden as Parquet partitioned by sim_hash, sorted by
    (t, cell_id) within each sim → partition pruning on sim_hash, row-group
    skipping on t. The sort is task-local: ingest_golden emits each sim's
    rows from one task, so every sim gets one file without a shuffle.

    The overwrite is dynamic: a write replaces the sims it carries and
    keeps every other sim in the store, so landings accumulate and a
    replayed write (a restarted stream's batch) is idempotent."""
    (
        golden.sortWithinPartitions("sim_hash", "t", "cell_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("sim_hash")
        .parquet(path)
    )


def read_golden(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(GOLDEN_SCHEMA).parquet(path)
