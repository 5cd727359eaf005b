"""K1: MATLAB .mat staging write, gated on scipy (the optional `interop` extra).

The reference writes one .mat per INI section into each staging folder
(mat_files.py:136-159). The engine treats .mat strictly as an interop
format at the external-process boundary: a driver-side scipy call when
scipy exists, a clear gate when not — params.json
(interop.write_staging) is the engine-native staging format either way.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

_SCIPY_HINT = (
    "scipy is not installed in this environment; .mat interop is gated. "
    "Use interop.write_staging (params.json) or install scipy for MatFiles parity."
)


def _require_scipy():
    try:
        import scipy.io as sio  # noqa: F401

        return sio
    except ImportError as exc:
        raise NotImplementedError(_SCIPY_HINT) from exc


def _safe_section_name(name: str) -> str:
    """mat_files.py:107-116: strip hyphens and spaces from section names."""
    return re.sub(r"[- ]", "", name)


def write_section_mats(configs: DataFrame, staging_root: str, sections: dict[str, list[str]]) -> None:
    """K1: one {Section}_{hash}.mat per section per sim (mat_files.py:136-159).
    Driver-side loop — staging is interop, not a data path; the catalog is
    dim-sized."""
    sio = _require_scipy()
    rows = configs.collect()
    for r in rows:
        d = os.path.join(staging_root, f"staging_{r.sim_hash}")
        os.makedirs(d, exist_ok=True)
        for section, params in sections.items():
            content = {p: getattr(r, p) for p in params if hasattr(r, p)}
            safe = _safe_section_name(section)
            sio.savemat(os.path.join(d, f"{safe}_{r.sim_hash}.mat"), content)

