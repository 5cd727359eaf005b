"""Seeded bronze fleet for the ``pumle_etl`` workload, plus the NumPy
invariants its pipeline outputs are checked against.

The files follow ``pumle_spark.sources.bronze``: ``g_{case}.json`` holds the
grid dims, ``grdecl_{case}_{hash}.json`` a flat 0/1 ACTNUM array in F-order
cell order, and ``states/states_{case}_{hash}.json`` one ``{"pressure", "s",
"flux"}`` record per timestep with one entry per active cell. The states
files sit in their own directory so it can serve as a streaming landing
directory too. As in ``pumle_spark.fixtures``, some sims carry state arrays
longer than their active-cell count, which the ingest bounds filter must
drop.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

CASE = "BENCH"
PLUME_THRESHOLD = 0.05


@dataclass
class Sim:
    actnum: np.ndarray  # bool, one entry per cell
    sg: np.ndarray  # (n_t, n_state) gas saturation as written
    n_state: int  # state entries per timestep; > n_active for oversized sims

    @property
    def n_active(self) -> int:
        return int(self.actnum.sum())


@dataclass
class Fleet:
    dims: tuple[int, int, int]
    n_t: int
    sims: dict[str, Sim] = field(default_factory=dict)
    bronze_bytes: int = 0

    @property
    def n_cells(self) -> int:
        return self.dims[0] * self.dims[1] * self.dims[2]

    def golden_rows(self) -> int:
        """Dense golden store: every cell of every timestep of every sim."""
        return len(self.sims) * self.n_t * self.n_cells

    def non_null_rows(self) -> int:
        """Golden rows that carry values: the active cells of each timestep."""
        return sum(s.n_active for s in self.sims.values()) * self.n_t

    def plume_counts(self) -> dict[tuple[str, int], int]:
        """(sim_hash, t) -> plume cells; state entries past the active count
        never reach a cell, so they are cut before counting."""
        out = {}
        for h, s in self.sims.items():
            for t in range(self.n_t):
                n = int((s.sg[t, : s.n_active] > PLUME_THRESHOLD).sum())
                if n:
                    out[(h, t)] = n
        return out

    def tensor_nans(self, sim_hash: str) -> int:
        """NaN entries of a sim's dense (i, j, k, t) tensor: inactive cells."""
        return (self.n_cells - self.sims[sim_hash].n_active) * self.n_t


def make_fleet(
    root: str,
    seed: int,
    n_sims: int,
    n_t: int,
    dims: tuple[int, int, int],
    active_share: float = 0.6,
    n_oversized: int = 2,
) -> Fleet:
    """Write one bronze fleet under ``root`` and return its description.

    The same seed writes byte-identical files. The first ``n_oversized``
    sims get two state entries per timestep beyond their active count.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(root, "states"), exist_ok=True)
    fleet = Fleet(dims=dims, n_t=n_t)

    def write(name: str, obj) -> None:
        text = json.dumps(obj)
        with open(os.path.join(root, name), "w") as fh:
            fh.write(text)
        fleet.bronze_bytes += len(text)

    write(f"g_{CASE}.json", list(dims))
    n_cells = fleet.n_cells
    while len(fleet.sims) < n_sims:
        h = f"{int(rng.integers(16**8)):08x}"
        if h in fleet.sims:
            continue
        actnum = rng.random(n_cells) < active_share
        actnum[0] = True
        n_state = int(actnum.sum()) + (2 if len(fleet.sims) < n_oversized else 0)
        # saturation grows with time; pressure drifts upward
        growth = (np.arange(n_t)[:, None] + 1) / n_t
        sg = np.round(rng.random((n_t, n_state)) * 0.2 * growth, 6)
        pressure = np.round(1.0e7 + 1.0e4 * np.arange(n_t)[:, None] + rng.normal(0, 1e3, (n_t, n_state)), 3)
        states = [
            {
                "pressure": pressure[t].tolist(),
                "s": np.stack([np.round(1.0 - sg[t], 6), sg[t]], axis=1).tolist(),
                "flux": [0.0] * n_state,  # emitted by the simulator, never read
            }
            for t in range(n_t)
        ]
        write(f"grdecl_{CASE}_{h}.json", actnum.astype(int).tolist())
        write(os.path.join("states", f"states_{CASE}_{h}.json"), states)
        fleet.sims[h] = Sim(actnum=actnum, sg=sg, n_state=n_state)
    return fleet
