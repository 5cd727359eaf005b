"""Test-side fixture helpers: the bronze generator lives in the package
(pumle_spark.fixtures — the flagship pipeline query needs it too); the
NumPy reference oracle stays test-only."""

from __future__ import annotations

import numpy as np

from pumle_spark.fixtures import CASE, DIMS, make_bronze  # noqa: F401  (re-export)


def numpy_golden_oracle(sims: dict, n_t: int):
    """Reference consolidation (arrays.py:56-147): per sim, dense
    (ncells, T) arrays with NaN placeholder; scatter state rows at active
    indices with bounds filtering; returns {h: {"pressure": arr, ...}}."""
    ncells = DIMS[0] * DIMS[1] * DIMS[2]
    out = {}
    for h, sim in sims.items():
        idx = np.where(sim["actnum"])[0]
        arrs = {k: np.full((ncells, n_t), np.nan) for k in ("pressure", "sw", "sg")}
        for t, st in enumerate(sim["states"]):
            p = np.asarray(st["pressure"], dtype=float)
            s = np.asarray(st["s"], dtype=float).reshape(-1, 2)  # [] → no pairs
            n = min(len(idx), len(p))  # bounds filter both directions
            arrs["pressure"][idx[:n], t] = p[:n]
            arrs["sw"][idx[:n], t] = s[:n, 0]
            arrs["sg"][idx[:n], t] = s[:n, 1]
        out[h] = arrs
    return out
