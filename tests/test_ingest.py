"""M1 bronze→golden end-to-end vs the NumPy reference oracle
(arrays.py:56-147 semantics, SURVEY §5.2 items 1-2)."""

from __future__ import annotations

import json
import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from pumle_spark.ingest import GOLDEN_SCHEMA, ingest_golden, read_golden, write_golden
from pumle_spark.plans.inspect import physical_plan
from tests.fixtures import CASE, DIMS, make_bronze, numpy_golden_oracle

N_T = 3


@pytest.fixture(scope="module")
def bronze(tmp_path_factory):
    root = tmp_path_factory.mktemp("bronze")
    sims = make_bronze(root, n_sims=2, n_t=N_T)
    return root, sims


def _ingest(spark, root):
    return ingest_golden(
        spark,
        states_glob=str(root / f"states_{CASE}_*.json"),
        actnum_glob=str(root / f"grdecl_{CASE}_*.json"),
        dims_path=str(root / f"g_{CASE}.json"),
    )


@pytest.fixture(scope="module")
def golden(spark, bronze):
    root, sims = bronze
    return _ingest(spark, root).cache(), sims


def _assert_matches_oracle(rows, oracle, ts):
    """rows of one sim are dense over ``ts`` × all cells and equal the
    oracle, NaN ↔ NULL."""
    ncells = DIMS[0] * DIMS[1] * DIMS[2]
    assert sorted((r.t, r.cell_id) for r in rows) == [(t, c) for t in ts for c in range(ncells)]
    for r in rows:
        for attr in ("pressure", "sw", "sg"):
            want = oracle[attr][r.cell_id, r.t]
            got = getattr(r, attr)
            assert (got is None) if np.isnan(want) else got == want, (
                f"{attr}@cell{r.cell_id},t{r.t}: want {want} got {got}"
            )


def test_golden_is_dense_per_sim(golden):
    df, sims = golden
    ncells = DIMS[0] * DIMS[1] * DIMS[2]
    counts = {r.sim_hash: r.n for r in df.groupBy("sim_hash").agg(F.count("*").alias("n")).collect()}
    assert counts == {h: ncells * N_T for h in sims}


def test_golden_matches_numpy_oracle(golden):
    df, sims = golden
    oracle = numpy_golden_oracle(sims, N_T)
    rows = df.collect()
    for h in sims:
        _assert_matches_oracle([r for r in rows if r.sim_hash == h], oracle[h], range(N_T))


def test_bounds_filter_drops_oversized_state_rows(golden):
    """Sim #0's states carry n_active+2 rows; the extras must vanish
    (P3, sim_results_parser.py:291-300)."""
    df, sims = golden
    for h, sim in sims.items():
        n_active = int(sim["actnum"].sum())
        n_obs = df.filter((F.col("sim_hash") == h) & F.col("pressure").isNotNull()).count()
        assert n_obs == n_active * N_T


def test_forder_ijk_roundtrip(golden):
    df, _ = golden
    ni, nj, _ = DIMS
    bad = df.filter(
        F.col("cell_id")
        != F.col("i").cast("bigint") + ni * (F.col("j").cast("bigint") + nj * F.col("k").cast("bigint"))
    ).count()
    assert bad == 0


def test_golden_parquet_roundtrip_partitioned(spark, golden, tmp_path):
    df, sims = golden
    path = str(tmp_path / "golden")
    write_golden(df, path)
    back = read_golden(spark, path)
    assert back.count() == df.count()
    # partition pruning: a sim_hash filter must not scan other partitions
    h = next(iter(sims))
    plan = back.filter(F.col("sim_hash") == h)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.filter(F.col("sim_hash") == h).count() == df.filter(
        F.col("sim_hash") == h
    ).count()


# -- scatter edge cases -------------------------------------------------------

_ACT = np.array([1, 0, 1] * 8)  # 16 of the 24 cells active


def _states(n: int, empty_t: int | None = None) -> list[dict]:
    out = []
    for t in range(N_T):
        n_t = 0 if t == empty_t else n
        out.append(
            {
                "pressure": [1.0e7 + 100.0 * t + i for i in range(n_t)],
                "s": [[0.5 + 0.01 * i, 0.5 - 0.01 * i] for i in range(n_t)],
            }
        )
    return out


# sim_hash → (ACTNUM file contents or None, the ACTNUM the reference
# sees after padding/truncation to ncells, states)
_EDGE = {
    "0000000a": (_ACT, _ACT, _states(10)),  # fewer state rows than active cells
    "0000000b": (None, np.zeros(24, int), _states(16)),  # no ACTNUM file
    "0000000c": (_ACT[:20], np.r_[_ACT[:20], [0] * 4], _states(14)),  # short ACTNUM
    "0000000d": (np.r_[_ACT, [1, 1, 0]], _ACT, _states(18)),  # long ACTNUM
    "0000000e": (_ACT, _ACT, _states(16, empty_t=1)),  # t=1 has [] arrays
}


@pytest.fixture(scope="module")
def edge_golden(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("edge_bronze")
    (root / f"g_{CASE}.json").write_text(json.dumps(list(DIMS)))
    for h, (actnum, _, states) in _EDGE.items():
        if actnum is not None:
            (root / f"grdecl_{CASE}_{h}.json").write_text(json.dumps(actnum.tolist()))
        (root / f"states_{CASE}_{h}.json").write_text(json.dumps(states))
    rows: dict[str, list] = {h: [] for h in _EDGE}
    for r in _ingest(spark, root).collect():
        rows[r.sim_hash].append(r)
    return rows


@pytest.mark.parametrize("h", sorted(_EDGE))
def test_scatter_edge_cases_match_numpy_oracle(edge_golden, h):
    """Short state arrays leave trailing active cells NULL; a sim without
    ACTNUM keeps all-NULL dense rows; ACTNUM past ncells is ignored and
    missing entries are inactive; a timestep whose arrays are both empty
    emits no rows."""
    _, effective, states = _EDGE[h]
    oracle = numpy_golden_oracle({h: {"actnum": effective, "states": states}}, N_T)[h]
    ts = [t for t, st in enumerate(states) if st["pressure"] or st["s"]]
    _assert_matches_oracle(edge_golden[h], oracle, ts)


# -- plan and store guards ----------------------------------------------------


def test_ingest_plan_has_no_shuffle(spark, bronze):
    """The scatter is per-sim array work: the executed plan's only exchange
    is the broadcast of the cell layouts — no rank window, no shuffled join."""
    df = _ingest(spark, bronze[0])
    df.collect()
    plan = physical_plan(df)
    assert "isFinalPlan=true" in plan
    for op in ("Window", "SortMergeJoin", "ShuffledHashJoin"):
        assert op not in plan
    exchanges = [ln.strip() for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges and all("BroadcastExchange" in ln for ln in exchanges), exchanges


def test_write_golden_writes_one_file_per_sim(golden, tmp_path):
    df, sims = golden
    path = tmp_path / "golden"
    write_golden(df, str(path))
    files = {
        h: [f for f in os.listdir(path / f"sim_hash={h}") if f.endswith(".parquet")] for h in sims
    }
    assert {h: len(fs) for h, fs in files.items()} == {h: 1 for h in sims}


def test_golden_store_accumulates_landings(spark, tmp_path):
    """write_golden replaces only the sims it carries: two landings written
    one after the other read back as one ingest of both, and re-landing a
    sim replaces its rows instead of adding to them."""
    first, second, both = (tmp_path / d for d in ("first", "second", "both"))
    make_bronze(first, n_sims=2, n_t=N_T, seed=61)
    make_bronze(second, n_sims=2, n_t=N_T, seed=62)
    both.mkdir()
    for f in [*first.iterdir(), *second.iterdir()]:
        (both / f.name).write_text(f.read_text())
    path = str(tmp_path / "golden")
    write_golden(_ingest(spark, first), path)
    write_golden(_ingest(spark, second), path)
    want = _ingest(spark, both)
    store = read_golden(spark, path).select(*want.columns)
    assert store.count() == want.count() == 4 * N_T * DIMS[0] * DIMS[1] * DIMS[2]
    assert store.exceptAll(want).count() == 0 and want.exceptAll(store).count() == 0

    resent = tmp_path / "resent"
    resent.mkdir()
    h = sorted(first.glob(f"states_{CASE}_*.json"))[0].name[len(f"states_{CASE}_") : -len(".json")]
    for name in (f"g_{CASE}.json", f"grdecl_{CASE}_{h}.json", f"states_{CASE}_{h}.json"):
        (resent / name).write_text((first / name).read_text())
    write_golden(_ingest(spark, resent), path)
    again = read_golden(spark, path).select(*want.columns)
    assert again.count() == want.count()
    assert again.exceptAll(want).count() == 0


def test_read_golden_keeps_all_digit_sim_hash_a_string(spark, tmp_path):
    """Partition inference would read sim_hash "00123456" back as the
    integer 123456; the declared schema keeps it the string it was."""
    row = (0, 0, 0, 0, 0, 1.0e7, 0.9, 0.1, "00123456")
    path = str(tmp_path / "golden")
    write_golden(spark.createDataFrame([row], GOLDEN_SCHEMA), path)
    back = read_golden(spark, path)
    assert dict(back.dtypes)["sim_hash"] == "string"
    assert [r.sim_hash for r in back.collect()] == ["00123456"]


def test_read_golden_build_starts_no_job(spark, golden, tmp_path):
    """Building the golden read runs no Spark job (no schema inference);
    the count in the same job group shows the tracker sees jobs."""
    df, _ = golden
    path = str(tmp_path / "golden")
    write_golden(df, path)
    sc = spark.sparkContext
    group = "read_golden_build"
    sc.setJobGroup(group, "read_golden build")
    try:
        g = read_golden(spark, path)
        build_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        g.count()
        all_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert build_jobs == []
    assert all_jobs


def test_ingest_build_starts_no_job(spark, bronze):
    """Building the bronze → golden plan runs no Spark job: the grid dims
    file is read on the driver; the count in the same job group shows the
    tracker sees jobs."""
    root, _ = bronze
    sc = spark.sparkContext
    group = "ingest_golden_build"
    sc.setJobGroup(group, "ingest_golden build")
    try:
        g = _ingest(spark, root)
        build_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        g.count()
        all_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert build_jobs == []
    assert all_jobs
