"""Tests of the benchmark's own logic; none of them starts Spark.

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pytest

import bronze_gen
import run
import tables_gen
import workloads
from tracing import Span, covered, parse_metric, self_times, tail_percentile

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _read_tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_bronze_generator_is_deterministic_per_seed(tmp_path):
    size = {"n_sims": 3, "n_t": 2, "dims": (3, 2, 2)}
    a = bronze_gen.make_fleet(str(tmp_path / "a"), 5, **size)
    b = bronze_gen.make_fleet(str(tmp_path / "b"), 5, **size)
    c = bronze_gen.make_fleet(str(tmp_path / "c"), 6, **size)
    assert _read_tree(tmp_path / "a") == _read_tree(tmp_path / "b")
    assert _read_tree(tmp_path / "a") != _read_tree(tmp_path / "c")
    assert a.bronze_bytes == b.bronze_bytes == sum(len(v) for v in _read_tree(tmp_path / "a").values())
    assert list(a.sims) == list(b.sims)


def test_bronze_layout_and_invariants(tmp_path):
    fleet = bronze_gen.make_fleet(str(tmp_path), 9, n_sims=3, n_t=2, dims=(3, 2, 2))
    first, *rest = fleet.sims.values()
    assert first.n_state == first.n_active + 2  # oversized: exercises the bounds filter
    assert all(s.n_state == s.n_active for s in rest[1:])
    assert fleet.golden_rows() == 3 * 2 * 12
    assert fleet.non_null_rows() == 2 * sum(s.n_active for s in fleet.sims.values())
    h = next(iter(fleet.sims))
    states = json.loads((tmp_path / "states" / f"states_{bronze_gen.CASE}_{h}.json").read_text())
    assert len(states) == 2 and len(states[0]["pressure"]) == first.n_state
    actnum = json.loads((tmp_path / f"grdecl_{bronze_gen.CASE}_{h}.json").read_text())
    assert sum(actnum) == first.n_active
    # plume counts ignore the state entries past the active count
    sg = np.asarray([[w[1] for w in st["s"]] for st in states])
    for t in range(2):
        want = int((sg[t, : first.n_active] > bronze_gen.PLUME_THRESHOLD).sum())
        assert fleet.plume_counts().get((h, t), 0) == want
    assert fleet.tensor_nans(h) == (12 - first.n_active) * 2


def test_tables_are_deterministic_and_scale():
    a, b = tables_gen._tables(0.001), tables_gen._tables(0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
    assert a["events"].column("ts").to_numpy().tolist() == sorted(a["events"].column("ts").to_numpy().tolist())


def test_metric_names_and_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    for name in [*e2e, *layers, *(w["name"] for w in spec["workloads"])]:
        assert NAME.match(name), name
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "build", 1.0, 4.0, 0, 0),
        Span(2, "plan", 3.0, 5.0, 0, 0),  # overlaps build: counted once
        Span(3, "action", 6.0, 9.0, 0, 0),
        Span(4, "inner", 7.0, 8.0, 3, 0),  # a grandchild covers only its parent
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 3.0))
    assert own[3] == pytest.approx(2.0)
    assert own[1] == pytest.approx(3.0) and own[4] == pytest.approx(1.0)
    assert covered([(-5.0, 2.0), (8.0, 20.0)], 0.0, 10.0) == pytest.approx(4.0)


def test_tail_percentile_rule():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    pct, value, n = tail_percentile(xs)
    assert (value, n) == (90.0, 100)  # ten samples (91..100) lie above it
    assert pct == pytest.approx(100 * 89 / 99)
    assert sum(x > value for x in xs) == 10
    pct, value, n = tail_percentile(xs[:21])
    assert (pct, value) == (50.0, 11.0) and sum(x > value for x in xs[:21]) == 10
    assert tail_percentile([3.0, 1.0, 2.0, 4.0]) == (50.0, 2.5, 4)  # too few: the median
    with pytest.raises(ValueError):
        tail_percentile([])


def test_parse_sql_metric_values():
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 3 ms (stage 3.0: task 7))") == 1.5
    assert parse_metric("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.25)
    assert parse_metric("total (min, med, max)\n2.0 KiB (1 B, 1 B, 1 B)") == 2048.0
    assert parse_metric("1,234") == 1234.0


def test_headline_is_drawn_from_bench_headline():
    import bench

    ops = workloads.headline_ops()
    assert ops == tuple(bench.HEADLINE[workloads.HEADLINE_START :: workloads.HEADLINE_STRIDE])
    assert len(set(ops)) == len(ops) >= 9
