"""Parameter-sweep generator (M2 / SURVEY §2.6 G1-G4).

Reference (parameters_variation.py:125-200): per-parameter
np.linspace(min, max, points) with points = clamp(int(1/delta), 2, 100),
np.meshgrid cartesian product, deepcopy-override of the base param dict,
sim_id = enumerate order. Bounds come from base*(1∓delta) clipped to
physical limits (parameters.py:36-45, 99-115).

The sweep is built on the driver, as the reference's meshgrid is: its
pointsⁿ rows are driver-sized, and every consumer reads them all anyway
(dispatch collects the pending hashes, write_staging the configs, register
the fresh rows). itertools.product over the grid indices gives the
meshgrid enumeration order (property-tested in tests/), and the rows reach
Spark as one local relation (sources/local.py), so building and reading
the sweep starts no Spark job.

Each row's fluid_params is the canonical JSON of its FLUID params and its
sim_hash the md5 prefix of those bytes — functions/hashing.py, the
reference algorithm itself (pumle.py:202-209, utils.py:52-81).
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from pumle_spark.functions.hashing import canonical_json_hash, canonical_params_json
from pumle_spark.sources.local import local_frame

# PHYSICAL_LIMITS (parameters.py:36-45): param → (min, max). Keys are
# lowercase as in the reference ('xnacl'); lookups normalize case so the
# INI schema's 'XNaCl' spelling resolves to the same limits.
PHYSICAL_LIMITS: dict[str, tuple[float, float]] = {
    "pres_ref": (1.0, 100.0),
    "temp_ref": (0.0, 200.0),
    "cp_rock": (1e-6, 1e-3),
    "srw": (0.0, 0.3),
    "src": (0.0, 0.3),
    "pe": (0.1, 10.0),
    "xnacl": (0.0, 0.2),
    "rho_h2o": (900.0, 1200.0),
}


# VariationConfig.min_delta/max_delta (parameters_variation.py:30-40): the
# reference REFUSES deltas outside this range; mirroring it here keeps the
# engine from generating sweeps the reference would reject.
DELTA_MIN, DELTA_MAX = 0.01, 1.0


def _validate_delta(delta: float) -> float:
    if not (DELTA_MIN <= delta <= DELTA_MAX):
        raise ValueError(
            f"variation delta must be in [{DELTA_MIN}, {DELTA_MAX}], got {delta!r} "
            "(reference ParametersVariation rejects it too)"
        )
    return delta


def n_points(delta: float, lo: int = 2, hi: int = 100) -> int:
    """points = clamp(int(1/delta), 2, 100) (parameters_variation.py:77-84).
    delta <= 0 is an explicit error, not a ZeroDivisionError."""
    if delta <= 0:
        raise ValueError(f"delta must be > 0, got {delta!r}")
    return max(lo, min(hi, int(1 / delta)))


@dataclass
class VariedParam:
    name: str
    base: float
    delta: float | None = None  # None → generate_variations' delta_default

    def __post_init__(self) -> None:
        if self.delta is not None:
            _validate_delta(self.delta)

    @property
    def bounds(self) -> tuple[float, float]:
        """G4 derived bounds: base*(1∓delta) clipped to physical limits
        (parameters.py:99-115). Requires a resolved (non-None) delta."""
        if self.delta is None:
            raise ValueError(f"{self.name}: delta unresolved; pass one or use generate_variations")
        lo = self.base * (1 - self.delta)
        hi = self.base * (1 + self.delta)
        limits = PHYSICAL_LIMITS.get(self.name.lower())
        if limits is not None:
            plo, phi = limits
            lo, hi = max(lo, plo), min(hi, phi)
        return lo, hi


def _resolve(varied: list[VariedParam], delta_default: float) -> list[VariedParam]:
    """The varied params with delta=None (and only None — 0 was rejected at
    construction) set to delta_default; anything outside [0.01, 1] raises."""
    if not varied:
        raise ValueError("need at least one varied parameter")
    _validate_delta(delta_default)
    return [
        vp if vp.delta is not None else VariedParam(vp.name, vp.base, delta_default)
        for vp in varied
    ]


def generate_variations(
    spark: SparkSession,
    base_params: dict[str, float],
    varied: list[VariedParam],
    delta_default: float = 0.2,
) -> DataFrame:
    """G1-G3: linspace grids per varied parameter, their cartesian product
    over the base params, deterministic sim_id and bit-exact sim_hash.

    Returns one row per combination: sim_hash, sim_id (1-based, meshgrid
    order), fluid_params (canonical JSON, the exact bytes sim_hash is the
    md5 of), then every param (base, overridden where varied) in sorted
    order.
    """
    grids = []
    for vp in _resolve(varied, delta_default):
        lo, hi = vp.bounds
        points = n_points(vp.delta)
        grids.append([lo + i * (hi - lo) / (points - 1) for i in range(points)])

    # G3 sim_id: enumerate order of np.array(np.meshgrid(*lists)).T
    # .reshape(-1, n) (parameters_variation.py:134). Verified numerically:
    # param2 varies fastest, then param1, then params 3..n progressively
    # slower — i.e. slowest→fastest is (n, …, 3, 1, 2). For n≤2 this
    # degenerates to plain declaration order.
    n = len(varied)
    order = list(range(n)) if n <= 2 else [*range(n - 1, 1, -1), 0, 1]
    order_names = [varied[k].name for k in order]

    names = sorted(set(base_params) | {vp.name for vp in varied})
    params = {name: float(value) for name, value in base_params.items()}
    rows = []
    for sim_id, combo in enumerate(itertools.product(*(grids[k] for k in order)), start=1):
        params.update(zip(order_names, combo))
        fluid = canonical_params_json(params)
        rows.append((canonical_json_hash(fluid), sim_id, fluid, *map(params.get, names)))

    schema = StructType(
        [
            StructField("sim_hash", StringType()),
            StructField("sim_id", IntegerType(), False),
            StructField("fluid_params", StringType()),
            *(StructField(name, DoubleType()) for name in names),
        ]
    )
    return local_frame(spark, rows, schema)


def variation_summary(
    varied: list[VariedParam],
    delta_default: float = 0.2,
    class_of_parameters: str = "Fluid",
) -> dict:
    """Parity of the reference's get_variation_summary
    (parameters_variation.py:202-213): the sweep's shape as a small dict —
    class, parameter names, effective deltas, points per parameter, total
    combinations (the product of the points, without building the grid)."""
    eff = _resolve(varied, delta_default)
    points = {vp.name: n_points(vp.delta) for vp in eff}

    return {
        "class": class_of_parameters,
        "parameters": [vp.name for vp in eff],
        "delta": {vp.name: vp.delta for vp in eff},
        "points_per_parameter": points,
        "total_combinations": math.prod(points.values()),
    }
