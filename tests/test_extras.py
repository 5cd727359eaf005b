"""Schedule generators, tensor scans, plume analytics, bilinear
interpolation, external-simulator interop."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from pumle_spark.catalog import SimulationCatalog
from pumle_spark.exports import export_tensors
from pumle_spark.functions.physics import interpolate_bilinear
from pumle_spark.functions.schedule import full_schedule, rampup_timesteps
from pumle_spark.ingest import ingest_golden
from pumle_spark.interop import dispatch, write_staging
from pumle_spark.plume import (
    boundary_vertical_faces,
    plume_size_over_time,
    saturation_deltas,
    trap_volumes,
)
from pumle_spark.sources.matfiles import write_section_mats
from pumle_spark.sources.tensors import read_npy_tensors, read_zarr_tensors
from tests.fixtures import CASE, DIMS, make_bronze

# --------------------------------------------------------------------------
# G5/G6 schedule
# --------------------------------------------------------------------------


def test_rampup_matches_mrst_semantics(spark):
    # time=100, dt=4, n=8: warm-up 4/256..4/2, 24 constant 4s, remainder
    rows = rampup_timesteps(spark, 100.0, 4.0, 8).orderBy("step_idx").collect()
    dts = [r.dt_step for r in rows]
    assert dts[:8] == [4.0 / 2**k for k in range(8, 0, -1)]
    assert dts[8:32] == [4.0] * 24
    assert dts[32] == pytest.approx(100.0 - sum(dts[:32]), abs=1e-12)
    assert sum(dts) == pytest.approx(100.0)


def test_rampup_short_horizon_truncates_like_mrst(spark):
    """MRST drops warm-up entries whose cumsum exceeds `time`
    (dt_init = dt_init(cs_time < time)) instead of failing."""
    rows = rampup_timesteps(spark, 2.0, 4.0, 8).orderBy("step_idx").collect()
    dts = [r.dt_step for r in rows]
    # cumsum of dt/2^8.. reaches 1.984375 after 7 entries; the 8th (2.0)
    # would hit 3.984 > 2.0 → truncated; remainder fills to the horizon
    assert dts[:7] == [4.0 / 2**k for k in range(8, 1, -1)]
    assert dts[7] == pytest.approx(2.0 - sum(dts[:7]))
    assert sum(dts) == pytest.approx(2.0)


def test_full_schedule_controls(spark):
    rows = full_schedule(spark, 100.0, 20.0, 4.0, 10).orderBy("step_idx").collect()
    controls = [r.control for r in rows]
    assert controls == [1] * 33 + [2] * 10
    assert [r.dt_step for r in rows[33:]] == [2.0] * 10
    assert [r.step_idx for r in rows] == list(range(43))


# --------------------------------------------------------------------------
# S5 npy scan round trip
# --------------------------------------------------------------------------


def test_npy_scan_roundtrips_export(spark, tmp_path):
    sims = make_bronze(tmp_path / "bronze", n_sims=2, n_t=2, seed=31)
    golden = ingest_golden(
        spark,
        str(tmp_path / f"bronze/states_{CASE}_*.json"),
        str(tmp_path / f"bronze/grdecl_{CASE}_*.json"),
        str(tmp_path / f"bronze/g_{CASE}.json"),
    ).cache()
    out = str(tmp_path / "tensors")
    export_tensors(golden, DIMS, "pressure", out).collect()

    back = read_npy_tensors(spark, f"{out}/pressure_*.npy")
    orig = golden.select("sim_hash", "t", "cell_id", F.col("pressure").alias("value"))
    # exact round trip including NULLs at inactive cells
    assert back.count() == orig.count()
    diff = (
        back.join(orig, ["sim_hash", "t", "cell_id"], "full_outer")
        .filter(
            ~(
                (back["value"].isNull() & orig["value"].isNull())
                | (back["value"] == orig["value"])
            )
        )
        .count()
    )
    assert diff == 0


def test_zarr_scan_missing_store_raises(spark):
    with pytest.raises(FileNotFoundError, match="zarr"):
        read_zarr_tensors(spark, "/nonexistent/*.zarr")


def test_zarr_scan_roundtrips_export(spark, tmp_path):
    """K3 → S6 round trip through the pure-Python zarr-v2 store: export
    writes .zarray + per-timestep zlib chunks, the scan fans chunk files out
    via binaryFile and rebuilds the exact long rows (NULLs included)."""
    import json

    sims = make_bronze(tmp_path / "bronze", n_sims=2, n_t=3, seed=32)
    golden = ingest_golden(
        spark,
        str(tmp_path / f"bronze/states_{CASE}_*.json"),
        str(tmp_path / f"bronze/grdecl_{CASE}_*.json"),
        str(tmp_path / f"bronze/g_{CASE}.json"),
    ).cache()
    out = str(tmp_path / "ztensors")
    export_tensors(golden, DIMS, "pressure", out, fmt="zarr").collect()

    stores = sorted((tmp_path / "ztensors").glob("pressure_*.zarr"))
    assert len(stores) == 2
    meta = json.loads((stores[0] / ".zarray").read_text())
    assert meta["zarr_format"] == 2 and meta["chunks"][3] == 1
    # one chunk file per timestep (chunked along t for scan parallelism)
    assert sorted(p.name for p in stores[0].iterdir() if p.name != ".zarray") == [
        "0.0.0.0",
        "0.0.0.1",
        "0.0.0.2",
    ]

    back = read_zarr_tensors(spark, f"{out}/pressure_*.zarr")
    orig = golden.select("sim_hash", "t", "cell_id", F.col("pressure").alias("value"))
    assert back.count() == orig.count()
    diff = (
        back.join(orig, ["sim_hash", "t", "cell_id"], "full_outer")
        .filter(
            ~(
                (back["value"].isNull() & orig["value"].isNull())
                | (back["value"] == orig["value"])
            )
        )
        .count()
    )
    assert diff == 0


def test_zarr_edge_chunk_padding_roundtrip(spark, tmp_path):
    """chunk_t=2 over n_t=5 → the last chunk is padded on write and must be
    truncated on read (the v2 edge-chunk rule)."""
    import numpy as np

    from pumle_spark.exports import write_zarr_v2

    rng = np.random.default_rng(7)
    tensor = rng.normal(size=(3, 2, 2, 5))
    tensor[0, 0, 0, 0] = np.nan
    store = str(tmp_path / "edge_ab12cd34.zarr")
    write_zarr_v2(store, tensor, chunk_t=2)

    back = read_zarr_tensors(spark, f"{tmp_path}/edge_*.zarr").collect()
    assert len(back) == 3 * 2 * 2 * 5  # no padded rows leaked
    by_key = {(r.t, r.cell_id): r.value for r in back}
    assert by_key[(0, 0)] is None  # NaN → NULL
    # spot-check F-order cell addressing: cell_id = i + ni*j + ni*nj*k
    assert by_key[(4, 1 + 3 * 1 + 6 * 1)] == tensor[1, 1, 1, 4]


# --------------------------------------------------------------------------
# plume analytics
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_golden(spark):
    rows = []
    for t in range(3):
        for cid in range(6):
            sg = 0.2 if (cid < 2 + t) else 0.0
            rows.append(("h1", t, cid, cid % 3, (cid // 3) % 2, 0, 1.0e7, 0.8, sg))
    return spark.createDataFrame(
        rows,
        "sim_hash string, t int, cell_id long, i int, j int, k int, pressure double, sw double, sg double",
    )


def test_plume_size_grows(small_golden):
    got = {r.t: r.n_plume_cells for r in plume_size_over_time(small_golden, 0.05).collect()}
    assert got == {0: 2, 1: 3, 2: 4}


def test_saturation_deltas_lag(small_golden):
    d = saturation_deltas(small_golden)
    r = d.filter((F.col("cell_id") == 2) & (F.col("t") == 1)).collect()[0]
    assert r.d_sg == pytest.approx(0.2)  # cell 2 enters the plume at t=1
    assert d.filter(F.col("t") == 0).filter(F.col("d_sg").isNotNull()).count() == 0


def test_trap_volumes(spark, small_golden):
    traps = spark.createDataFrame(
        [(0, 1), (1, 1), (2, 2), (3, 0), (4, 2), (5, 0)], "cell_id long, trap_id int"
    )
    vols = spark.createDataFrame([(c, 10.0) for c in range(6)], "cell_id long, vol double")
    t2 = small_golden.filter(F.col("t") == 2)
    got = {r.trap_id: (r.co2_volume, r.n_cells) for r in trap_volumes(t2, traps, vols).collect()}
    # t=2: plume cells 0..3 (sg=0.2); traps: {1: cells 0,1}, {2: cells 2,4}
    assert got[1] == (pytest.approx(4.0), 2)
    assert got[2] == (pytest.approx(2.0), 2)  # cell 4 sg=0 contributes 0


def test_boundary_faces_predicate(spark):
    faces = spark.createDataFrame(
        [(1, 0.0, 0, 5), (2, 0.0, 3, 4), (3, 1.0, 0, 7), (4, 0.0, 6, 0)],
        "face_id int, nz double, nbr_l int, nbr_r int",
    )
    got = {r.face_id for r in boundary_vertical_faces(faces).collect()}
    assert got == {1, 4}  # vertical AND one exterior neighbor


# --------------------------------------------------------------------------
# F9 bilinear interpolation
# --------------------------------------------------------------------------


def test_bilinear_interpolation_matches_numpy(spark):
    # property value = 2x + 3y on a grid → bilinear is exact
    grid = [(ix, iy, 2.0 * (1.0 + ix * 0.5) + 3.0 * (10.0 + iy * 2.0)) for ix in range(5) for iy in range(5)]
    table = spark.createDataFrame(grid, "ix int, iy int, value double")
    pts = spark.createDataFrame(
        [(1.25, 12.5), (2.0, 10.0), (2.9, 17.9)], "p double, temp double"
    )
    out = interpolate_bilinear(
        pts, table, "p", "temp", grid=(1.0, 0.5, 10.0, 2.0), n_x=5, n_y=5, value_name="rho"
    )
    for r in out.collect():
        assert r.rho == pytest.approx(2 * r.p + 3 * r.temp, rel=1e-12)


def test_bilinear_interpolation_edge_and_out_of_grid_clamp(spark):
    """Points ON the grid max and beyond it must yield the edge value, not
    NULL (base index clamps to n-2, the weight saturates)."""
    grid = [(ix, iy, 2.0 * (1.0 + ix * 0.5) + 3.0 * (10.0 + iy * 2.0)) for ix in range(5) for iy in range(5)]
    table = spark.createDataFrame(grid, "ix int, iy int, value double")
    pts = spark.createDataFrame(
        [(3.0, 18.0), (99.0, 999.0), (-5.0, 0.0)], "p double, temp double"
    )
    out = {
        (r.p, r.temp): r.rho
        for r in interpolate_bilinear(
            pts, table, "p", "temp", grid=(1.0, 0.5, 10.0, 2.0), n_x=5, n_y=5, value_name="rho"
        ).collect()
    }
    assert out[(3.0, 18.0)] == pytest.approx(2 * 3.0 + 3 * 18.0, rel=1e-12)  # exact max corner
    assert all(v is not None for v in out.values())  # clamped, never NULL
    # out-of-grid points linearly extrapolate the edge cell (value = 2x+3y
    # is globally linear, so extrapolation is exact here)
    assert out[(99.0, 999.0)] == pytest.approx(2 * 99.0 + 3 * 999.0, rel=1e-12)


# --------------------------------------------------------------------------
# X1/X2/X5/X7 interop
# --------------------------------------------------------------------------


def test_dispatch_runs_skips_and_records_status(spark, tmp_path):
    staging = str(tmp_path / "staging")
    configs = spark.createDataFrame(
        [("aaaa0001", 1, '{"pe": 5.0}'), ("bbbb0002", 2, '{"pe": 6.0}'), ("cccc0003", 3, '{"pe": 7.0}')],
        "sim_hash string, sim_id int, fluid_params string",
    )
    cat = SimulationCatalog(spark, str(tmp_path / "cat"))
    cat.register(configs)
    write_staging(configs, staging)
    assert os.path.exists(os.path.join(staging, "staging_aaaa0001", "params.json"))

    # fake simulator: succeeds unless the staging dir is cccc0003's
    cmd = "test {sim_hash} != cccc0003 && echo done > {staging_dir}/out.json"
    res = dispatch(configs, cat, staging, cmd, parallelism=2)
    by_hash = {r.sim_hash: r for r in res.collect()}
    assert by_hash["aaaa0001"].returncode == 0 and not by_hash["aaaa0001"].skipped
    assert by_hash["cccc0003"].returncode != 0
    st = {r.sim_hash: r.status for r in cat.load().collect()}
    # per-sim statuses, NOT the reference's blanket COMPLETED (pumle.py:260-262)
    assert st == {"aaaa0001": "COMPLETED", "bbbb0002": "COMPLETED", "cccc0003": "FAILED"}

    # second dispatch: completed sims are anti-joined away entirely; the
    # failed one re-runs (no flag was written for it)
    res2 = dispatch(configs, cat, staging, cmd, parallelism=2)
    hashes2 = {r.sim_hash for r in res2.collect()}
    assert hashes2 == {"cccc0003"}


def test_matfiles_gated_without_scipy(spark):
    configs = spark.createDataFrame([("h1", 35.0)], "sim_hash string, pres_ref double")
    try:
        import scipy  # noqa: F401

        pytest.skip("scipy present; gate not applicable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="scipy"):
        write_section_mats(configs, "/tmp/x", {"Fluid": ["pres_ref"]})


def test_rampup_matches_mrst_oracle_many_horizons(spark):
    """Property check against a stock-Python transcription of MRST
    rampupTimesteps across mixed horizons (incl. truncating ones)."""

    def mrst_oracle(time, dt, n):
        from itertools import accumulate

        warm = [dt / 2.0 ** (n - k) for k in range(n)]
        cums = list(accumulate(warm))
        if any(c > time for c in cums):
            warm = [w for w, c in zip(warm, cums) if c < time]
        left = time - sum(warm)
        m = int(left // dt) if left > 0 else 0
        rem = left - m * dt
        return warm + [dt] * m + ([rem] if rem > 1e-12 else [])

    for time, dt, n in [(100.0, 4.0, 8), (2.0, 4.0, 8), (1.0, 1.0, 4), (36.5, 5.0, 6), (0.05, 4.0, 8)]:
        got = [r.dt_step for r in rampup_timesteps(spark, time, dt, n).orderBy("step_idx").collect()]
        want = mrst_oracle(time, dt, n)
        assert got == pytest.approx(want), (time, dt, n)
        assert sum(got) == pytest.approx(time)


def test_shingle_array_in_place_consumption(spark):
    """operators.dedup.shingle_array's supported pattern: single in-place
    consumer (sizing / hashing), never exploded."""
    from pumle_spark.operators.dedup import normalize_text, shingle_array

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y"), (3, "")], "doc_id long, text string"
    ).select("doc_id", normalize_text("text").alias("ws"))
    out = {r.doc_id: r.n for r in df.select("doc_id", F.size(shingle_array("ws", 3)).alias("n")).collect()}
    assert out == {1: 2, 2: 0, 3: 0}  # 'a b c','b c d'; too short; empty


def test_funnel_is_strictly_ordered(spark, tmp_path):
    """A purchase BEFORE the user's first view (or with no click between)
    must not count — the funnel is ordered, not a mere event-type filter."""
    import datetime

    import pyspark.sql.functions as F

    from pumle_spark.workload.events import events_funnel_conversion

    t0 = datetime.datetime(2024, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        # user 1: full ordered funnel
        (1, ts(0), "view", 1), (2, ts(1), "click", 1), (3, ts(2), "purchase", 1),
        # user 2: purchase BEFORE view → reaches view only
        (4, ts(0), "purchase", 2), (5, ts(1), "view", 2),
        # user 3: view then purchase with NO click → reaches view only
        (6, ts(0), "view", 3), (7, ts(1), "purchase", 3),
        # user 4: click before view, click after view → click counts from 2nd
        (8, ts(0), "click", 4), (9, ts(1), "view", 4), (10, ts(2), "click", 4),
    ]
    df = spark.createDataFrame(
        [(e, t, u, ty, 0.0) for (e, t, ty, u) in rows],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.parquet(f"{sf}/events.parquet")
    got = {r.stage: (r.n_users, r.conv_from_view) for r in
           events_funnel_conversion(spark, sf).collect()}
    assert got["view"] == (4, 1.0)
    assert got["click"] == (2, 0.5)     # users 1 and 4
    assert got["purchase"] == (1, 0.25)  # only user 1


def test_recursive_walk_guard_refuses_dense_component(spark):
    """The recursive-CTE closure enumerates walks (~c*(c-1)^L per clique),
    so a dense verified-pair component must fail fast at the degree
    pre-check instead of hanging the job. A 20-clique exceeds the budget; a
    sparse chain passes."""
    import pytest

    from pumle_spark.workload.dedup import _assert_walk_bounded

    clique = spark.createDataFrame(
        [(a, b) for a in range(20) for b in range(a + 1, 20)],
        "doc_a long, doc_b long",
    )
    with pytest.raises(RuntimeError, match="walk refused"):
        _assert_walk_bounded(clique)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    _assert_walk_bounded(chain)  # sparse: must not raise


def test_zarr_int_dtype_edge_chunk_roundtrip(spark, tmp_path):
    """Integer tensors with a ragged final chunk: the edge-chunk pad must
    use 0 (np.full with np.nan raises ValueError on int dtypes) and the
    fill_value metadata must be 0, not "NaN". Round-trips through the scan
    with chunk_t=2 over n_t=5 so the last chunk is genuinely padded."""
    import json

    import numpy as np

    from pumle_spark.exports import write_zarr_v2

    rng = np.random.default_rng(7)
    tensor = rng.integers(-50, 50, size=(3, 2, 2, 5)).astype(np.int32)
    store = str(tmp_path / "ints_cafebabe.zarr")
    write_zarr_v2(store, tensor, chunk_t=2)

    meta = json.loads((tmp_path / "ints_cafebabe.zarr" / ".zarray").read_text())
    assert meta["fill_value"] == 0 and meta["dtype"] == "<i4"
    assert sorted(p.name for p in (tmp_path / "ints_cafebabe.zarr").iterdir()) == [
        ".zarray", "0.0.0.0", "0.0.0.1", "0.0.0.2",  # ceil(5/2) chunks
    ]

    back = read_zarr_tensors(spark, f"{tmp_path}/ints_*.zarr")
    rows = back.collect()
    ni, nj, nk, n_t = tensor.shape
    assert len(rows) == ni * nj * nk * n_t  # padding never leaks rows
    for r in rows:
        i = r.cell_id % ni
        j = (r.cell_id // ni) % nj
        k = r.cell_id // (ni * nj)
        assert r.value == float(tensor[i, j, k, r.t])
