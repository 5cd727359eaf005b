"""Physical property functions (F7-F11, F14) as pure column expressions.

Everything here is arithmetic on columns — log/exp/pow stay inside
whole-stage codegen; no UDFs. Formulas and constants are transcribed from
the published correlations the reference cites (Driesner 2007 brine
density; Mao & Duan 2009 brine viscosity) as used at
co2lab3DPUMLE.m:334-394.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# F14 unit conversion constants (co2lab3DPUMLE.m:368-374, 426, 451-453)
MEGA = 1e6
BAR = 1e5  # Pa
YEAR_S = 365.2425 * 86400.0
GRAVITY = 9.80665  # m/s²


def mpa_to_pa(p_mpa: Column) -> Column:
    return p_mpa * MEGA


def years_to_seconds(t_years: Column) -> Column:
    return t_years * YEAR_S


# --------------------------------------------------------------------------
# F7 — brine density, Driesner (2007) parameterization
# (co2lab3DPUMLE.m:334-343)
# --------------------------------------------------------------------------


def brine_density(temp_c: Column, press_mpa: Column, x_nacl: Column, rho_h2o: Column) -> Column:
    """Exact transcription of co2lab3DPUMLE.m:334-342:

        rho_NaCl_0 = m0 / (m1 + m2·T + m3·T²)          (T in °C)
        c_NaCl     = m4 + m5·T
        P_b        = 10 · P_MPa                          (MPa → bar)
        rho_NaCl   = rho_NaCl_0 / (1 − 0.1·ln(1 + 10·P_b·c_NaCl))
        rho        = rho_H2O·(1−X) + rho_NaCl·X

    Returns kg/m³.
    """
    m0, m1, m2, m3 = 58443.0, 23.772, 0.018639, -1.9687e-6
    m4, m5 = -1.5259e-5, 5.5058e-8
    rho_nacl_0 = F.lit(m0) / (F.lit(m1) + F.lit(m2) * temp_c + F.lit(m3) * temp_c * temp_c)
    c_nacl = F.lit(m4) + F.lit(m5) * temp_c
    p_b = 10.0 * press_mpa
    rho_nacl = rho_nacl_0 / (1 - 0.1 * F.log(1 + 10 * p_b * c_nacl))
    return rho_h2o * (1 - x_nacl) + rho_nacl * x_nacl


# --------------------------------------------------------------------------
# F8 — brine viscosity, Mao & Duan (2009) (co2lab3DPUMLE.m:345-374)
# --------------------------------------------------------------------------

_MAO_DUAN_D = (
    0.28853170e7,
    -0.11072577e5,
    -0.90834095e1,
    0.30925651e-1,
    -0.27407100e-4,
    -0.19283851e7,
    0.56216046e4,
    0.13827250e2,
    -0.47609523e-1,
    0.35545041e-4,
)


def water_viscosity(temp_k: Column, rho_w: Column) -> Column:
    """ln(mu_H2O) = Σ_{i=1..5} d_i T^(i-3) + Σ_{i=6..10} d_i ρ T^(i-8);
    T in K, ρ in g/cm³ → Pa·s."""
    d = _MAO_DUAN_D
    term = F.lit(0.0)
    for i in range(1, 6):  # T^(i-3)
        term = term + F.lit(d[i - 1]) * F.pow(temp_k, F.lit(float(i - 3)))
    for i in range(6, 11):  # rho * T^(i-8)
        term = term + rho_w * F.lit(d[i - 1]) * F.pow(temp_k, F.lit(float(i - 8)))
    return F.exp(term)


def brine_viscosity(temp_k: Column, rho_w_gcc: Column, molality: Column) -> Column:
    """Relative-viscosity polynomial in NaCl molality (Mao & Duan 2009):
    ln(mu_rel) = A*m + B*m² + C*m³ with T-dependent A, B, C."""
    t = temp_k
    a = F.lit(-0.21319213) + F.lit(0.13651589e-2) * t + F.lit(-0.12191756e-5) * t * t
    b = F.lit(0.69161945e-1) + F.lit(-0.27292263e-3) * t + F.lit(0.20852448e-6) * t * t
    c = F.lit(-0.25988855e-2) + F.lit(0.77989227e-5) * t
    m = molality
    ln_rel = a * m + b * m * m + c * m * m * m
    return water_viscosity(t, rho_w_gcc) * F.exp(ln_rel)


def nacl_molality(x_nacl: Column) -> Column:
    """mass fraction → mol/kg water; NaCl_mm = 58.44/1000
    (co2lab3DPUMLE.m:346-347)."""
    return x_nacl / (F.lit(58.44e-3) * (1 - x_nacl))


# --------------------------------------------------------------------------
# F10 — rel-perm / capillary pressure scaling (co2lab3DPUMLE.m:387-394)
# --------------------------------------------------------------------------


def krw_scaled(s: Column, srw: Column) -> Column:
    """krW(s) = krW(max((s - srw)/(1 - srw), 0)) — normalized saturation,
    floored at 0."""
    return F.greatest((s - srw) / (1 - srw), F.lit(0.0))


def capillary_pressure(sw_scaled: Column, pe_pa: Column, eps: float = 1e-6) -> Column:
    """pcWG = pe · s^(-1/2) over the SCALED water saturation with the
    reference's eps_sat = 1e-6 stability floor (co2lab3DPUMLE.m:391-394:
    pcWG(max((1-sg-srw)/(1-srw), eps_sat)))."""
    return pe_pa * F.pow(F.greatest(sw_scaled, F.lit(eps)), F.lit(-0.5))


# --------------------------------------------------------------------------
# F9 — tabulated property interpolation (CO2props(), co2lab3DPUMLE.m:367-374)
# --------------------------------------------------------------------------


def interpolate_bilinear(
    df,
    prop_table,
    x_col: str,
    y_col: str,
    grid: tuple[float, float, float, float],
    n_x: int,
    n_y: int,
    value_name: str = "prop",
):
    """F9: bilinear interpolation of a tabulated property ρ(p,T)/μ(p,T)
    against a broadcast regular-grid table.

    prop_table: (ix INT, iy INT, value DOUBLE) on an (n_x × n_y) regular
    grid described by grid = (x0, dx, y0, dy). MRST's CO2props() tables are
    exactly this shape; the table is dim-sized → broadcast 4-corner join,
    the fact side never shuffles. Indices clamp to [0, n-2] so points on
    the max edge and out-of-grid points get the edge-clamped value (tx/ty
    saturate past 1 / below 0 accordingly, extrapolating the edge cell like
    MRST's interp2 with clamped queries).
    """
    from pyspark.sql.functions import broadcast as _bc

    x0, dx, y0, dy = grid
    fx = (F.col(x_col) - x0) / dx
    fy = (F.col(y_col) - y0) / dy
    # clamp the BASE index to [0, n-2]: all four corner rows then exist,
    # and the fractional weight carries the remainder (=1 on the max edge)
    ix = F.least(F.greatest(F.floor(fx).cast("int"), F.lit(0)), F.lit(n_x - 2))
    iy = F.least(F.greatest(F.floor(fy).cast("int"), F.lit(0)), F.lit(n_y - 2))
    base = df.withColumn("_ix", ix).withColumn("_iy", iy).withColumn(
        "_tx", fx - F.col("_ix")
    ).withColumn("_ty", fy - F.col("_iy"))

    out = base
    for cx, cy, name in ((0, 0, "_v00"), (1, 0, "_v10"), (0, 1, "_v01"), (1, 1, "_v11")):
        corner = prop_table.select(
            (F.col("ix") - cx).alias("_ix"),
            (F.col("iy") - cy).alias("_iy"),
            F.col("value").alias(name),
        )
        out = out.join(_bc(corner), ["_ix", "_iy"], "left")
    tx, ty = F.col("_tx"), F.col("_ty")
    blended = (
        F.col("_v00") * (1 - tx) * (1 - ty)
        + F.col("_v10") * tx * (1 - ty)
        + F.col("_v01") * (1 - tx) * ty
        + F.col("_v11") * tx * ty
    )
    return out.withColumn(value_name, blended).drop(
        "_ix", "_iy", "_tx", "_ty", "_v00", "_v10", "_v01", "_v11"
    )


# --------------------------------------------------------------------------
# F11 — hydrostatic initialization (co2lab3DPUMLE.m:398-402)
# --------------------------------------------------------------------------


def hydrostatic_pressure(z_centroid: Column, rho_w: Column) -> Column:
    """p0 = rho_w * g * z."""
    return rho_w * F.lit(GRAVITY) * z_centroid
