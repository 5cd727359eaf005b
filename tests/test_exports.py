"""M3 export sinks: tensor F-order/NaN parity, tabular row-set, metadata
flatten (SURVEY §5.2 item 2)."""

from __future__ import annotations

import json
import re
import zlib
from pathlib import Path

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from pumle_spark.exports import MANIFEST_SCHEMA, export_tensors, flatten_metadata, tabular
from pumle_spark.ingest import ingest_golden, read_golden, write_golden
from pumle_spark.plans.inspect import physical_plan
from tests.fixtures import CASE, DIMS, make_bronze, numpy_golden_oracle

N_T = 3


@pytest.fixture(scope="module")
def golden(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bronze_exp")
    sims = make_bronze(root, n_sims=2, n_t=N_T, seed=11)
    df = ingest_golden(
        spark,
        states_glob=str(root / f"states_{CASE}_*.json"),
        actnum_glob=str(root / f"grdecl_{CASE}_*.json"),
        dims_path=str(root / f"g_{CASE}.json"),
    ).cache()
    return df, sims


def test_tensor_export_bitwise_matches_reference_consolidation(spark, golden, tmp_path):
    df, sims = golden
    out = str(tmp_path / "tensors")
    manifest = export_tensors(df, DIMS, "pressure", out, fmt="npy").collect()
    oracle = numpy_golden_oracle(sims, N_T)
    assert len(manifest) == len(sims)
    for m in manifest:
        got = np.load(m.path)
        want = oracle[m.sim_hash]["pressure"].reshape((*DIMS, N_T), order="F")
        assert got.shape == want.shape
        # NaN-equal elementwise comparison (np.allclose with equal_nan)
        assert np.allclose(got, want, rtol=0, atol=0, equal_nan=True)


def _read_zarr(store) -> np.ndarray:
    """A zarr-v2 store of write_zarr_v2 (C-order zlib chunks along t)."""
    meta = json.loads((store / ".zarray").read_text())
    chunks = [
        np.frombuffer(zlib.decompress((store / f"0.0.0.{ct}").read_bytes()), meta["dtype"])
        .reshape(meta["chunks"])
        for ct in range(meta["shape"][3])
    ]
    return np.concatenate(chunks, axis=3)


def _bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a).view(np.uint64)


@pytest.mark.parametrize("fmt", ["npy", "zarr"])
def test_tensor_export_of_sims_split_over_partitions(spark, golden, tmp_path, fmt):
    """Each sim's rows reach the driver in several unordered Arrow batches;
    every tensor still equals the NumPy oracle bit for bit."""
    df, sims = golden
    spread = df.repartition(3)
    per_sim = (
        spread.withColumn("part", F.spark_partition_id())
        .groupBy("sim_hash")
        .agg(F.countDistinct("part").alias("parts"))
    )
    assert per_sim.filter("parts < 2").count() == 0
    manifest = export_tensors(spread, DIMS, "sg", str(tmp_path), fmt=fmt).collect()
    oracle = numpy_golden_oracle(sims, N_T)
    assert sorted(m.sim_hash for m in manifest) == sorted(sims)
    for m in manifest:
        got = np.load(m.path) if fmt == "npy" else _read_zarr(Path(m.path))
        want = oracle[m.sim_hash]["sg"].reshape((*DIMS, N_T), order="F")
        assert got.shape == want.shape and m.n_t == N_T
        assert np.array_equal(_bits(got), _bits(want))


def test_tensor_export_of_empty_golden(spark, golden, tmp_path):
    df, _ = golden
    out = tmp_path / "tensors"
    manifest = export_tensors(df.filter(F.lit(False)), DIMS, "sg", str(out))
    assert manifest.schema == StructType.fromDDL(MANIFEST_SCHEMA)
    assert manifest.collect() == []
    assert not out.exists()


def test_tensor_export_is_one_job_with_no_exchange_or_python(spark, golden, tmp_path):
    """The export of a stored golden is one Spark job (the Arrow collect);
    the manifest it returns plans with no Exchange and no Python node."""
    df, sims = golden
    write_golden(df, str(tmp_path / "golden"))
    stored = read_golden(spark, str(tmp_path / "golden"))
    sc = spark.sparkContext
    group = "export_tensors"
    sc.setJobGroup(group, group)
    try:
        manifest = export_tensors(stored, DIMS, "pressure", str(tmp_path / "tensors"))
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1
    plan = physical_plan(manifest)
    assert "Exchange" not in plan
    assert not re.search(r"Python|InPandas|InArrow", plan)
    assert manifest.count() == len(sims)


def test_tabular_matches_reference_rowset(golden):
    df, sims = golden
    tab = tabular(df, "sg").collect()
    oracle = numpy_golden_oracle(sims, N_T)
    want = set()
    ni, nj, _ = DIMS
    for h, arrs in oracle.items():
        sg = arrs["sg"]
        nz = np.argwhere(~np.isnan(sg) & (sg != 0))
        for cell_id, t in nz:
            i = cell_id % ni
            j = (cell_id // ni) % nj
            k = cell_id // (ni * nj)
            want.add((h, int(t), int(i), int(j), int(k), round(float(sg[cell_id, t]), 9)))
    got = {(r.simulation, r.timestamp, r.x, r.y, r.z, round(r["values"], 9)) for r in tab}
    assert got == want


def test_metadata_flatten_naming_and_constants(spark):
    configs = spark.createDataFrame(
        [("h1", 1, 35.0, 0.11)], "sim_hash string, sim_id int, pres_ref double, srw double"
    )
    md = flatten_metadata(
        configs,
        {"Fluid": ["pres_ref", "srw"]},
        dims=DIMS,
        timestamps=N_T,
    )
    assert md.columns == [
        "sim_hash",
        "sim_id",
        "fluid__pres_ref",
        "fluid__srw",
        "dimension_x",
        "dimension_y",
        "dimension_z",
        "timestamps",
    ]
    row = md.collect()[0]
    assert (row.dimension_x, row.dimension_y, row.dimension_z) == DIMS
    assert row.sim_id == "1"  # stringified for the regex check (metadata.py:32)


def test_tabular_excludes_nulls_and_zeros(spark):
    g = spark.createDataFrame(
        [("h", 0, 0, 0, 0, 0, None), ("h", 0, 1, 1, 0, 0, 0.0), ("h", 0, 2, 2, 0, 0, 0.5)],
        "sim_hash string, t int, cell_id long, i int, j int, k int, sg double",
    )
    rows = tabular(g, "sg").collect()
    assert len(rows) == 1 and rows[0]["values"] == 0.5
