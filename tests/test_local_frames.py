"""Constant tables stay on the JVM: the empty catalog, the parameter sweep
and the registry's lookup tables plan as a LocalTableScan, never a pickled
Python RDD (``Scan ExistingRDD``), so no action on them starts a Python
worker."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyspark.sql.functions as F

REPO = Path(__file__).resolve().parent.parent

# Prints {name: physical plan} for the empty catalog, _hll_estimates'
# linear-counting table and a parameter sweep; runs in the given session.
_PLANS = textwrap.dedent(
    """
    import json, sys, tempfile
    import pyspark.sql.functions as F
    from pumle_spark.catalog import SimulationCatalog
    from pumle_spark.sweep import VariedParam, generate_variations
    from pumle_spark.workload.sketches import _hll_estimates

    def plans(spark):
        regs = spark.range(3).select(F.lit("t").alias("tag"), (F.col("id") + 1).alias("m_reg"))
        frames = {
            "catalog": SimulationCatalog(spark, tempfile.mkdtemp() + "/catalog").load(),
            "hll": _hll_estimates(spark, regs),
            "sweep": generate_variations(
                spark, {"pres_ref": 35.0, "srw": 0.11}, [VariedParam("pres_ref", 35.0, 0.2)]
            ),
        }
        return {k: df._jdf.queryExecution().executedPlan().toString() for k, df in frames.items()}
    """
)


def _assert_local(plans: dict[str, str]) -> None:
    for name, plan in plans.items():
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)


def test_constant_tables_plan_as_local_scans(spark):
    scope: dict = {}
    exec(_PLANS, scope)
    _assert_local(scope["plans"](spark))


def test_constant_tables_plan_as_local_scans_in_a_bare_session():
    """The driver's own session sets no Arrow conf; the Arrow-table path
    must still plan a LocalTableScan there."""
    script = _PLANS + textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.master("local[2]").getOrCreate()
        assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"
        print(json.dumps(plans(spark)))
        spark.stop()
        """
    )
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=REPO, capture_output=True, text=True,
        timeout=300, check=True,
    )
    _assert_local(json.loads(out.stdout.strip().splitlines()[-1]))


def test_workload_builds_no_python_rdd_frames():
    """Static guard: workload modules, the catalog, the dispatcher and the
    sweep build constant tables with sources.local.local_frame, never
    spark.createDataFrame."""
    pkg = REPO / "pumle_spark"
    offenders = []
    modules = [pkg / "catalog.py", pkg / "interop.py", pkg / "sweep.py"]
    for path in [*sorted((pkg / "workload").glob("*.py")), *modules]:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


def test_local_frame_round_trips_rows_and_schema(spark):
    from pumle_spark.sources.local import local_frame

    rows = [(1, 0.5, "a"), (2, None, "b")]
    df = local_frame(spark, rows, "k bigint, v double, s string")
    assert df.schema.simpleString() == "struct<k:bigint,v:double,s:string>"
    assert [tuple(r) for r in df.orderBy("k").collect()] == rows
    empty = local_frame(spark, [], "k bigint")
    assert empty.count() == 0 and empty.filter(F.col("k") > 0).count() == 0
