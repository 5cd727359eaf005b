"""tools/probe.py and tools/bench_compare.py: the probe's JSON record,
session-stable plan fingerprints, and PLAN-CHANGED reporting."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import bench_compare  # noqa: E402
import probe  # noqa: E402

# the smoke-scale (sf0.001) sibling of the default table dir, see TESTDATA.md
SF = str(Path(probe.DEFAULT_SF_DIR).with_name("sf0.001"))

_PLAN = """== Physical Plan ==
AdaptiveSparkPlan ({a})
+- HashAggregate ({b})
   +- Scan parquet  ({c})


({c}) Scan parquet
Output [1]: [l_quantity#{x}]
Location: InMemoryFileIndex [file:{path}]

({b}) HashAggregate
Input [1]: [l_quantity#{x}]
Functions [1]: [partial_count({lit})]

({a}) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""
_BASE = {"a": 3, "b": 2, "c": 1, "x": 4, "path": "/d/sf0.1/lineitem.parquet", "lit": 1}


def _plan(**kw) -> str:
    return _PLAN.format(**{**_BASE, **kw})


def test_fingerprint_strips_ordinals_not_literals():
    fp = probe.plan_shape(_plan())["fingerprint"]
    renumbered = _plan(a=7, b=6, c=5, x=99, path="/e/sf1/lineitem.parquet")
    assert probe.plan_shape(renumbered)["fingerprint"] == fp
    # a blanket "\(\d+\)" strip would also erase the count(1) -> count(2) change
    old = re.compile(r"\(\d+\)")
    assert old.sub("(_)", _plan()) == old.sub("(_)", _plan(lit=2))
    assert probe.plan_shape(_plan(lit=2))["fingerprint"] != fp


def test_plan_shape_counts_each_node_once():
    shape = probe.plan_shape(_plan())
    assert (shape["hashagg"], shape["scans"], shape["exchange"]) == (1, 1, 0)


# The two orders Spark's distinct-aggregate rewrite gave q21_waiting_suppliers
# in two sessions: the groups swap gid literals and column positions.
_EXPAND = """== Physical Plan ==
HashAggregate (3)
+- Expand (2)
   +- Scan parquet  (1)


(2) Expand
Input [2]: [l_suppkey#1L, is_late#2]
Arguments: [{p}], [{cols}, gid#3]

(3) HashAggregate
Functions [2]: [partial_count(l_suppkey#4L) FILTER (WHERE (gid#3 = {g1})), \
partial_count(late#5L) FILTER (WHERE (gid#3 = {g2}))]
"""
_SUPP, _LATE = "l_suppkey#1L", "CASE WHEN is_late#2 THEN l_suppkey#1L END"


def test_distinct_aggregate_plans_are_marked_unstable(tmp_path, capsys):
    one = _EXPAND.format(p=f"[{_SUPP}, null, 1], [null, {_LATE}, 2]",
                         cols="l_suppkey#4L, late#5L", g1=1, g2=2)
    other = _EXPAND.format(p=f"[{_LATE}, null, 1], [null, {_SUPP}, 2]",
                           cols="late#5L, l_suppkey#4L", g1=2, g2=1)
    a, b = probe.plan_shape(one), probe.plan_shape(other)
    assert a["unstable"] and b["unstable"] and a["fingerprint"] != b["fingerprint"]
    assert not probe.plan_shape(_plan())["unstable"]

    records = []
    for i, shape in enumerate((a, b, probe.plan_shape(_plan()), probe.plan_shape(_plan(lit=2)))):
        records.append(tmp_path / f"{i}.json")
        records[-1].write_text(json.dumps({"queries": {}, "plans": {"q": shape}}))
    capsys.readouterr()
    bench_compare.main([str(records[0]), str(records[1])])
    out = capsys.readouterr().out
    assert "PLAN-UNSTABLE q:" in out and "PLAN-CHANGED" not in out
    bench_compare.main([str(records[2]), str(records[3])])
    assert "PLAN-CHANGED q" in capsys.readouterr().out.splitlines()


def test_probe_record_and_plan_change(spark, tmp_path, capsys):
    from pumle_spark import workload
    from pumle_spark.plans.inspect import formatted_plan

    names = ["q1_pricing_summary", "sketch_hll_setops"]
    out = tmp_path / "probe.json"
    try:
        assert probe.main([*names, "--sf", SF, "--reps", "1", "--out", str(out)]) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")  # get_spark reset it
    doc = json.loads(out.read_text())
    assert set(doc) == {
        "sf_dir", "reps", "total_sec", "n_timed", "refused", "errors", "queries", "plans"
    }
    assert doc["n_timed"] == 2 and not doc["refused"] and not doc["errors"]
    assert set(doc["queries"]) == set(doc["plans"]) == set(names)
    assert doc["plans"]["q1_pricing_summary"]["exchange"] == 1

    # the checkpointed literal table gets a fresh RDD id per build
    qs = workload.queries()
    for name in names:
        fps = {probe.plan_shape(formatted_plan(qs[name](spark, SF)))["fingerprint"]
               for _ in range(2)}
        assert len(fps) == 1, name

    edited = tmp_path / "edited.json"
    doc["plans"]["sketch_hll_setops"]["fingerprint"] = "0" * 16
    edited.write_text(json.dumps(doc))
    capsys.readouterr()
    bench_compare.main([str(out), str(edited)])
    lines = capsys.readouterr().out.splitlines()
    assert [ln for ln in lines if ln.startswith("PLAN-CHANGED")] == [
        "PLAN-CHANGED sketch_hll_setops"
    ]
