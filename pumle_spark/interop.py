"""External-simulator interop (X1/X2/X5/X6; reference simulation.cpp +
simulation_script.sh + pumle.py:242-262).

The reference fans out with OpenMP over staging folders, each thread
exec-ing an Octave process; data crosses only via files. The Spark form:

- staging writes (K1-shaped) happen from the driver or an applyInPandas
  sink (``write_staging``) — one folder per sim_hash, JSON param files
  (``.mat`` via scipy when available, see sources/matfiles.py).
- ``dispatch`` replaces OpenMP: the pending configs (X2 anti-join via the
  catalog) are repartitioned to the desired parallelism and each partition
  task runs the external command via subprocess (X5/X6 escape hatch —
  the ONLY place the engine shells out), returning per-sim exit codes as a
  DataFrame. Spark's scheduler gives the dynamic balancing
  schedule(dynamic) provided (simulation.cpp:136-145).
- completed.flag idempotence (simulation.cpp:14-20) is preserved at the
  task level AND statuses land in the catalog per-sim — fixing the
  reference's blanket COMPLETED-even-on-failure update (pumle.py:260-262,
  SURVEY §7.3 non-bug list).
"""

from __future__ import annotations

import json
import os
import subprocess
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pumle_spark.catalog import SimulationCatalog
from pumle_spark.sources.local import local_frame

RESULT_SCHEMA = "sim_hash string, returncode int, skipped boolean, message string"


def write_staging(configs: DataFrame, staging_root: str) -> None:
    """One staging_{hash} folder per sim with params.json (the engine-native
    interop format; MatFiles parity via scipy lives in sources/matfiles.py).
    Mirrors pumle.py:202-240 + mat_files.py:136-159."""
    rows = configs.select("sim_hash", "fluid_params").collect()
    for r in rows:
        d = os.path.join(staging_root, f"staging_{r.sim_hash}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "params.json"), "w") as f:
            f.write(r.fluid_params or "{}")


def dispatch(
    configs: DataFrame,
    catalog: SimulationCatalog,
    staging_root: str,
    cmd_template: str,
    parallelism: int = 4,
    timeout_s: int = 3600,
) -> DataFrame:
    """X1 fan-out: run `cmd_template.format(staging_dir=…, sim_hash=…)` for
    every pending simulation; returns (sim_hash, returncode, skipped,
    message) and updates catalog statuses per-sim.

    Work-skipping (X2): catalog-COMPLETED sims are anti-joined away before
    dispatch; a `completed.flag` inside the staging dir short-circuits at
    the task level (re-run after a crash costs nothing).
    """
    # the pending hashes go to the driver: they are marked RUNNING by hash
    # and become the task input
    spark = configs.sparkSession
    pending_hashes = [
        r.sim_hash for r in catalog.pending(configs.select("sim_hash").distinct()).collect()
    ]
    catalog.update_status(pending_hashes, "RUNNING")
    pending = local_frame(spark, [(h,) for h in pending_hashes], "sim_hash string")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"sim_hash": [], "returncode": [], "skipped": [], "message": []}
            for h in pdf["sim_hash"]:
                d = os.path.join(staging_root, f"staging_{h}")
                flag = os.path.join(d, "completed.flag")
                out["sim_hash"].append(h)
                if os.path.exists(flag):  # X2 idempotence
                    out["returncode"].append(0)
                    out["skipped"].append(True)
                    out["message"].append("completed.flag present")
                    continue
                cmd = cmd_template.format(staging_dir=d, sim_hash=h)
                try:
                    proc = subprocess.run(
                        cmd, shell=True, capture_output=True, text=True, timeout=timeout_s
                    )
                    rc = proc.returncode
                    msg = (proc.stderr or proc.stdout or "").strip()[-500:]
                    if rc == 0:
                        with open(flag, "w") as f:
                            f.write("ok\n")
                except subprocess.TimeoutExpired:
                    rc, msg = -1, f"timeout after {timeout_s}s"
                out["returncode"].append(rc)
                out["skipped"].append(False)
                out["message"].append(msg)
            yield pd.DataFrame(out)

    results = pending.repartition(parallelism, "sim_hash").mapInPandas(
        run, schema=RESULT_SCHEMA
    )
    # run the simulator once: the statuses and the returned frame both come
    # from these results
    collected = results.collect()
    ok = [r.sim_hash for r in collected if r.returncode == 0]
    bad = [r.sim_hash for r in collected if r.returncode != 0]
    # per-sim statuses — NOT the reference's blanket COMPLETED (pumle.py:260-262)
    if ok:
        catalog.update_status(ok, "COMPLETED")
    if bad:
        catalog.update_status(bad, "FAILED")
    return local_frame(spark, collected, RESULT_SCHEMA)
