"""Parameter-sweep generator (M2 / SURVEY §2.6 G1-G4).

Reference (parameters_variation.py:125-200): per-parameter
np.linspace(min, max, points) with points = clamp(int(1/delta), 2, 100),
np.meshgrid cartesian product, deepcopy-override of the base param dict,
sim_id = enumerate order. Bounds come from base*(1∓delta) clipped to
physical limits (parameters.py:36-45, 99-115).

Spark form: a lazy crossJoin of per-parameter linspace DataFrames over a
single base-parameters row. The combo count is pointsⁿ — it never
materializes on the driver; sim_id is assigned by row_number over the
varied-parameter order, which equals the meshgrid enumeration order of the
reference (first parameter slowest), property-tested in tests/.

sim_hash for each combo is md5 over the canonical JSON of the FLUID
section — the same dict the reference hashes (pumle.py:202-209). The driver
renders each distinct value once with json.dumps (Python's float repr,
which no Spark cast reproduces); Spark only concatenates those renderings
in json.dumps(sort_keys=True)'s layout and takes md5, so no Python worker
runs (functions/hashing.py).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from pumle_spark.functions.hashing import HASH_LEN
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


def linspace_df(spark: SparkSession, name: str, lo: float, hi: float, points: int) -> DataFrame:
    """G1: np.linspace as a constant table of (index, value, rendering).
    Endpoint-inclusive with exactly `points` values, like np.linspace. Each
    value is computed once on the driver, and its canonical-JSON rendering
    (``_j_<name>``) comes from that same Python float."""
    if points < 2:
        raise ValueError("points must be >= 2 (parameters_variation.py:77-84)")
    values = [lo + i * (hi - lo) / (points - 1) for i in range(points)]
    return local_frame(
        spark,
        [(i, v, json.dumps(v)) for i, v in enumerate(values)],
        f"`_i_{name}` bigint, `{name}` double, `_j_{name}` string",
    )


def _canonical_json(rendered: dict[str, Column | str]) -> Column:
    """json.dumps(sort_keys=True)'s layout ``{"k": v, "k2": v2}`` over
    pre-rendered values: a str value is literal JSON text, a Column holds it
    per row. Literal runs are joined on the driver into one lit each."""
    parts: list[Column] = []
    text = "{"
    for i, key in enumerate(sorted(rendered)):
        text += (", " if i else "") + json.dumps(key) + ": "
        value = rendered[key]
        if isinstance(value, str):
            text += value
        else:
            parts += [F.lit(text), value]
            text = ""
    return F.concat(*parts, F.lit(text + "}"))


def generate_variations(
    spark: SparkSession,
    base_params: dict[str, float],
    varied: list[VariedParam],
    delta_default: float = 0.2,
) -> DataFrame:
    """G2+G3: cartesian product of linspace grids over the base row, with
    deterministic sim_id and bit-exact sim_hash.

    Returns one row per combination: all base params (overridden where
    varied), sim_id (1-based, meshgrid order), fluid_params (canonical
    JSON, the exact bytes sim_hash is the md5 of), sim_hash.
    """
    if not varied:
        raise ValueError("need at least one varied parameter")
    _validate_delta(delta_default)

    grid: DataFrame | None = None
    for vp in varied:
        # delta=None (and only None — 0 was rejected at construction) falls
        # back to delta_default; anything outside [0.01, 1] already raised.
        eff = vp if vp.delta is not None else VariedParam(vp.name, vp.base, delta_default)
        lo, hi = eff.bounds
        g = linspace_df(spark, vp.name, lo, hi, n_points(eff.delta))
        grid = g if grid is None else grid.crossJoin(g)

    # G3 sim_id: enumerate order of np.array(np.meshgrid(*lists)).T
    # .reshape(-1, n) (parameters_variation.py:134). Verified numerically:
    # param2 varies fastest, then param1, then params 3..n progressively
    # slower — i.e. sort keys slowest→fastest are (i_n, …, i_3, i_1, i_2).
    # (For n≤2 this degenerates to plain declaration order.)
    idx = [F.col(f"_i_{vp.name}") for vp in varied]
    if len(idx) <= 2:
        order_cols = idx
    else:
        order_cols = list(reversed(idx[2:])) + [idx[0], idx[1]]
    grid = grid.withColumn("sim_id", F.row_number().over(Window.orderBy(*order_cols)).cast("int"))

    # base params as literal columns, overridden by the varied grid
    varied_names = {vp.name for vp in varied}
    for name, value in base_params.items():
        if name not in varied_names:
            grid = grid.withColumn(name, F.lit(float(value)))

    # canonical JSON over ALL params (sorted keys) → bit-exact sim_hash:
    # base values render on the driver here, varied ones come rendered
    # from linspace_df, so the md5 input is the reference's exact bytes.
    all_names = sorted(set(base_params) | varied_names)
    rendered = {
        n: F.col(f"_j_{n}") if n in varied_names else json.dumps(float(base_params[n]))
        for n in all_names
    }
    grid = grid.withColumn("fluid_params", _canonical_json(rendered))
    grid = grid.withColumn("sim_hash", F.substring(F.md5("fluid_params"), 1, HASH_LEN))

    return grid.select("sim_hash", "sim_id", "fluid_params", *all_names)


def variation_summary(
    spark: SparkSession,
    varied: list[VariedParam],
    delta_default: float = 0.2,
    class_of_parameters: str = "Fluid",
) -> dict:
    """Parity of the reference's get_variation_summary
    (parameters_variation.py:202-213): the sweep's shape as a small dict —
    class, parameter names, effective deltas, points per parameter, total
    combinations.

    The reference counts an already-materialized combination list; here
    total_combinations comes from a real Spark agg over the lazy index-only
    crossJoin grid (no hashing, no param columns), so the summary stays
    cheap even for sweeps whose pointsⁿ grid would never fit on the
    driver."""
    if not varied:
        raise ValueError("need at least one varied parameter")
    _validate_delta(delta_default)
    eff = [
        vp if vp.delta is not None else VariedParam(vp.name, vp.base, delta_default)
        for vp in varied
    ]
    points = {vp.name: n_points(vp.delta) for vp in eff}

    grid: DataFrame | None = None
    for vp in eff:
        g = spark.range(points[vp.name])
        grid = g if grid is None else grid.crossJoin(g)
    total = grid.count()

    return {
        "class": class_of_parameters,
        "parameters": [vp.name for vp in eff],
        "delta": {vp.name: vp.delta for vp in eff},
        "points_per_parameter": points,
        "total_combinations": total,
    }
