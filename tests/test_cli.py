"""The command-line interface (python -m pumle_spark) end to end: on a bronze
fixture set, ingest, then CSV and npy exports, checked against the NumPy
reference consolidation; on an INI file, sweep → dispatch → catalog."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pumle_spark.__main__ import main
from pumle_spark.catalog import SimulationCatalog
from tests.fixtures import CASE, DIMS, make_bronze, numpy_golden_oracle

N_T = 3


def test_cli_ingest_and_exports_match_numpy_oracle(spark, tmp_path, capsys):
    bronze, golden = tmp_path / "bronze", str(tmp_path / "golden")
    sims = make_bronze(bronze, n_sims=2, n_t=N_T, seed=5)
    oracle = numpy_golden_oracle(sims, N_T)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main(["ingest", "--bronze", str(bronze), "--case", CASE, "--golden", golden]) == 0
        n_rows = len(sims) * DIMS[0] * DIMS[1] * DIMS[2] * N_T
        assert f"golden: {n_rows} rows" in capsys.readouterr().out

        csv_dir = tmp_path / "csv"
        assert main(["export", "--golden", golden, "--out", str(csv_dir), "--fmt", "csv"]) == 0
        npy_dir = str(tmp_path / "npy")
        dims = [str(d) for d in DIMS]
        argv = ["export", "--golden", golden, "--attr", "pressure", "--out", npy_dir]
        assert main([*argv, "--fmt", "npy", "--dims", *dims]) == 0
        manifest = re.findall(r"^  (\S+) \(T=(\d+)\)$", capsys.readouterr().out, re.M)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)  # get_spark reset it

    # CSV: the nonzero, non-NaN sg cells with their F-order coordinates
    csv = pd.concat(
        pd.read_csv(f, dtype={"simulation": str}) for f in sorted(csv_dir.glob("part-*.csv"))
    )
    got = {
        (r.simulation, r.timestamp, r.x, r.y, r.z, round(r.values, 9))
        for r in csv.itertuples(index=False)
    }
    want = set()
    ni, nj, _ = DIMS
    for h, arrs in oracle.items():
        sg = arrs["sg"]
        for cell_id, t in np.argwhere(~np.isnan(sg) & (sg != 0)):
            i, j, k = cell_id % ni, (cell_id // ni) % nj, cell_id // (ni * nj)
            want.add((h, t, i, j, k, round(float(sg[cell_id, t]), 9)))
    assert len(csv) == len(want) and got == want

    # npy: one F-order (i, j, k, t) pressure tensor per sim, NaN where inactive
    assert sorted(path.rsplit("_", 1)[1] for path, _ in manifest) == sorted(
        f"{h}.npy" for h in sims
    )
    for path, n_t in manifest:
        h = path.rsplit("_", 1)[1].removesuffix(".npy")
        want_t = oracle[h]["pressure"].reshape((*DIMS, N_T), order="F")
        assert int(n_t) == N_T
        assert np.array_equal(np.load(path), want_t, equal_nan=True)


def test_cli_sweep_dispatch_and_catalog(spark, tmp_path, capsys):
    ini = tmp_path / "setup.ini"
    ini.write_text("[Fluid]\npres_ref = 10.0\ntemp_ref = 40.0\nsrw = 0.1\n")
    catalog, staging = str(tmp_path / "catalog"), str(tmp_path / "staging")
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        argv = ["sweep", "--ini", str(ini), "--vary", "pres_ref:0.5", "srw:0.5", "--catalog", catalog]
        assert main(argv) == 0
        assert "sweep: 4 combinations, 4 newly registered, catalog total 4" in capsys.readouterr().out

        ids = {r.sim_id: r.sim_hash for r in SimulationCatalog(spark, catalog).load().collect()}
        assert sorted(ids) == [1, 2, 3, 4]
        bad = ids[2]  # the fake simulator fails this one sim
        argv = ["dispatch", "--catalog", catalog, "--staging", staging, "--parallelism", "2"]
        assert main([*argv, "--cmd", f"test {{sim_hash}} != {bad}"]) == 0
        tags = dict(re.findall(r"^  (\S+)  (\S+)$", capsys.readouterr().out, re.M))
        assert tags == {h: "FAIL(1)" if h == bad else "OK" for h in ids.values()}

        assert main(["catalog", "--catalog", catalog, "--status", "FAILED"]) == 0
        out = capsys.readouterr().out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)  # get_spark reset it

    assert re.findall(r"^(\w{8}) +(\d+) +(\w+) ", out, re.M) == [(bad, "2", "FAILED")]
    assert out.rstrip().endswith("(1 simulations)")
    statuses = {r.sim_hash: r.status for r in SimulationCatalog(spark, catalog).load().collect()}
    assert statuses == {h: "FAILED" if h == bad else "COMPLETED" for h in ids.values()}
