"""S1-S4 source scans."""

from __future__ import annotations

import json

import pytest

from pumle_spark.sources.bronze import read_actnum, read_grid_dims, read_states
from pumle_spark.sources.ini import ini_to_df, read_ini
from tests.fixtures import CASE, make_bronze

INI_SAMPLE = """[Pre-Processing]
case_name = GCS01

[Fluid]
pres_ref = 35
temp_ref = 95.15
cp_rock = 4e-5

[Schedule]
injection_timesteps = 100

[Grid]
repair_flag = true
"""


def test_read_ini_casts(tmp_path):
    p = tmp_path / "setup.ini"
    p.write_text(INI_SAMPLE)
    cfg = read_ini(str(p))
    fluid = cfg.section("Fluid")
    assert fluid == {"pres_ref": 35.0, "temp_ref": 95.15, "cp_rock": 4e-05}
    assert cfg.section("Schedule")["injection_timesteps"] == 100
    assert cfg.section("Grid")["repair_flag"] is True
    assert cfg.section("Pre-Processing")["case_name"] == "GCS01"


def test_ini_to_df_flattening(spark, tmp_path):
    p = tmp_path / "setup.ini"
    p.write_text(INI_SAMPLE)
    df = ini_to_df(spark, read_ini(str(p)))
    assert df.count() == 1
    assert "fluid__pres_ref" in df.columns
    assert "pre_processing__case_name" in df.columns


def test_missing_ini_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        read_ini(str(tmp_path / "nope.ini"))


def test_bronze_scans(spark, tmp_path):
    sims = make_bronze(tmp_path, n_sims=2, n_t=2, seed=3)
    dims = read_grid_dims(spark, str(tmp_path / f"g_{CASE}.json"))
    assert dims == (4, 3, 2)
    assert read_grid_dims(spark, (tmp_path / f"g_{CASE}.json").as_uri()) == dims

    act = read_actnum(spark, str(tmp_path / f"grdecl_{CASE}_*.json"))
    per_sim = {r.sim_hash: r.actnum for r in act.collect()}  # one row per sim
    assert per_sim == {h: sim["actnum"].tolist() for h, sim in sims.items()}

    states = read_states(spark, str(tmp_path / f"states_{CASE}_*.json"))
    assert set(states.columns) == {"sim_hash", "t", "pressure", "s"}
    ts = {r.t for r in states.select("t").distinct().collect()}
    assert ts == {0, 1}
    # flux is pruned by schema omission
    assert "flux" not in states.columns


def test_grid_dims_validation(spark, tmp_path):
    bad = tmp_path / "g_bad.json"
    bad.write_text(json.dumps([4, -3, 2]))
    with pytest.raises(ValueError, match="invalid grid dims"):
        read_grid_dims(spark, str(bad))
