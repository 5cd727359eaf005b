"""M2 sweep generator vs NumPy meshgrid/linspace oracle (SURVEY §5.2 item 1)."""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pytest

from pumle_spark.functions.hashing import sim_hash
from pumle_spark.sweep import VariedParam, generate_variations, n_points

BASE = {
    "pres_ref": 35.0,
    "temp_ref": 95.15,
    "cp_rock": 4e-05,
    "srw": 0.11,
    "src": 0.21,
    "pe": 5.0,
    "XNaCl": 0.1,
    "rho_h2o": 1000.0,
}


def test_n_points_clamp():
    # clamp(int(1/delta), 2, 100) — parameters_variation.py:77-84
    assert n_points(0.2) == 5
    assert n_points(0.9) == 2
    assert n_points(0.001) == 100


def test_linspace_matches_numpy(spark):
    # G1: a one-parameter sweep is np.linspace over the derived bounds
    # (pres_ref 35 ± 20% → 28..42), endpoints included, in sim_id order
    rows = generate_variations(spark, BASE, [VariedParam("pres_ref", 35.0, 0.2)]).collect()
    assert [r.sim_id for r in rows] == [1, 2, 3, 4, 5]
    want = np.linspace(28.0, 42.0, 5)
    assert [r.pres_ref for r in rows] == pytest.approx(want.tolist(), abs=0)


def test_sweep_starts_no_spark_job(spark):
    """The sweep is built on the driver: building it and collecting its
    rows runs no Spark job. The one-job control action after it, in the
    same group, shows the tracker has seen the group's jobs so far."""
    sc = spark.sparkContext
    group = "sweep_no_jobs"
    varied = [VariedParam("pres_ref", 35.0, 0.25), VariedParam("srw", 0.11, 0.5)]
    sc.setJobGroup(group, "generate_variations + collect")
    try:
        rows = generate_variations(spark, BASE, varied).collect()
        spark.range(1).collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 4 * 2
    assert len(jobs) == 1


def test_variations_match_meshgrid_order_and_values(spark):
    varied = [VariedParam("pres_ref", 35.0, 0.2), VariedParam("srw", 0.11, 0.2)]
    df = generate_variations(spark, BASE, varied).orderBy("sim_id")
    rows = df.collect()

    p_grid = np.linspace(*varied[0].bounds, 5)
    s_grid = np.linspace(*varied[1].bounds, 5)
    combos = np.array(np.meshgrid(p_grid, s_grid, indexing="ij")).reshape(2, -1).T
    assert len(rows) == 25
    for idx, r in enumerate(rows):
        assert r.sim_id == idx + 1  # enumerate+1, parameters_variation.py:192
        assert r.pres_ref == pytest.approx(combos[idx, 0], abs=0)
        assert r.srw == pytest.approx(combos[idx, 1], abs=0)


def test_three_param_sweep_matches_meshgrid_T_order(spark):
    """np.array(np.meshgrid(*lists)).T.reshape(-1, n) order for n=3:
    param2 fastest, then param1, then param3 slowest
    (parameters_variation.py:134) — NOT plain declaration order."""
    varied = [
        VariedParam("pres_ref", 35.0, 0.2),
        VariedParam("srw", 0.11, 0.2),
        VariedParam("pe", 5.0, 0.2),
    ]
    rows = generate_variations(spark, BASE, varied).orderBy("sim_id").collect()
    grids = [np.linspace(*vp.bounds, 5) for vp in varied]
    combos = np.array(np.meshgrid(*grids)).T.reshape(-1, 3)
    assert len(rows) == 125
    for idx, r in enumerate(rows):
        assert (r.pres_ref, r.srw, r.pe) == pytest.approx(tuple(combos[idx]), abs=0), idx


def test_xnacl_limits_clip_despite_ini_casing(spark):
    # PHYSICAL_LIMITS key is 'xnacl' (parameters.py:42); the INI schema
    # spells it 'XNaCl' — limits must still clip (cap 0.2)
    vp = VariedParam("XNaCl", 0.15, 0.5)
    lo, hi = vp.bounds
    assert hi == 0.2 and lo == pytest.approx(0.075)


def test_variation_hashes_are_reference_bit_exact(spark):
    varied = [VariedParam("pres_ref", 35.0, 0.2)]
    rows = generate_variations(spark, BASE, varied).collect()
    for r in rows:
        d = dict(BASE)
        d["pres_ref"] = r.pres_ref
        assert r.sim_hash == sim_hash(d)


def test_four_param_sweep_hashes_the_exact_canonical_bytes(spark):
    """cp_rock's grid renders in scientific notation (4.8e-05), where Java's
    and Python's float strings disagree: every row's fluid_params must be
    the reference's json.dumps bytes, and sim_hash their md5."""
    varied = [
        VariedParam("cp_rock", 4e-05, 0.2),
        VariedParam("pres_ref", 35.0, 0.25),
        VariedParam("XNaCl", 0.1, 0.5),
        VariedParam("srw", 0.11, 0.34),
    ]
    rows = generate_variations(spark, BASE, varied).collect()
    assert len(rows) == 5 * 4 * 2 * 2
    assert any("e-05" in r.fluid_params for r in rows)
    for r in rows:
        params = {k: r[k] for k in BASE}
        assert r.sim_hash == sim_hash(params)
        assert hashlib.md5(r.fluid_params.encode()).hexdigest()[:8] == r.sim_hash
        assert json.loads(r.fluid_params) == params


def test_sweep_plan_runs_no_python(spark):
    plan = generate_variations(
        spark, BASE, [VariedParam("cp_rock", 4e-05, 0.2), VariedParam("pe", 5.0, 0.2)]
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "ExistingRDD" not in plan


def test_physical_limit_clipping():
    # srw base 0.28, delta 0.2 → raw hi 0.336 clipped to limit 0.3
    vp = VariedParam("srw", 0.28, 0.2)
    lo, hi = vp.bounds
    assert hi == 0.3
    assert lo == pytest.approx(0.28 * 0.8)


def test_duplicate_param_sets_same_hash(spark):
    varied = [VariedParam("pe", 5.0, 0.2)]
    a = {r.sim_hash for r in generate_variations(spark, BASE, varied).collect()}
    b = {r.sim_hash for r in generate_variations(spark, BASE, varied).collect()}
    assert a == b  # identical sweeps → identical hashes → catalog dedupes


def test_delta_validation_mirrors_reference(spark):
    """ADVICE fix: deltas outside the reference's VariationConfig range
    [0.01, 1.0] are rejected at construction AND at generate_variations;
    delta<=0 in n_points is an explicit error, not ZeroDivisionError."""
    import pytest

    from pumle_spark.sweep import DELTA_MAX, DELTA_MIN, n_points

    assert (DELTA_MIN, DELTA_MAX) == (0.01, 1.0)
    for bad in (0.0, 0.001, 1.5, -0.2):
        with pytest.raises(ValueError, match="delta"):
            VariedParam("pres_ref", 35.0, bad)
    with pytest.raises(ValueError, match="delta"):
        n_points(0.0)
    with pytest.raises(ValueError, match="delta"):
        n_points(-1.0)
    # delta=None resolves to delta_default (which is itself validated)
    out = generate_variations(spark, {"pres_ref": 35.0}, [VariedParam("pres_ref", 35.0)])
    assert out.count() == n_points(0.2)
    with pytest.raises(ValueError, match="delta"):
        generate_variations(
            spark, {"pres_ref": 35.0}, [VariedParam("pres_ref", 35.0)], delta_default=0.001
        )


def test_variation_summary_matches_reference_shape(spark):
    """get_variation_summary parity (parameters_variation.py:202-213):
    names, per-param deltas/points, and a total that equals the actual
    generated-grid row count; delta=None resolves to the default."""
    from pumle_spark.sweep import variation_summary

    varied = [
        VariedParam("pres_ref", 35.0, 0.2),   # 5 points
        VariedParam("srw", 0.11, 0.5),        # 2 points
        VariedParam("temp_ref", 60.0),        # None → default 0.25 → 4 points
    ]
    s = variation_summary(varied, delta_default=0.25)
    assert s["class"] == "Fluid"
    assert s["parameters"] == ["pres_ref", "srw", "temp_ref"]
    assert s["delta"] == {"pres_ref": 0.2, "srw": 0.5, "temp_ref": 0.25}
    assert s["points_per_parameter"] == {"pres_ref": 5, "srw": 2, "temp_ref": 4}
    assert s["total_combinations"] == 5 * 2 * 4
    base = {"pres_ref": 35.0, "srw": 0.11, "temp_ref": 60.0}
    assert (
        generate_variations(spark, base, varied, delta_default=0.25).count()
        == s["total_combinations"]
    )
