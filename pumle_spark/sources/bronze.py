"""Bronze-layer JSON scans (S2-S4): simulation states, grid dims, ACTNUM.

The external simulator writes three JSON files per simulation
(reference co2lab3DPUMLE.m:517-559):

- ``states_{case}_{hash}.json``  — array over timesteps of
  ``{"pressure": [..n_active], "s": [[sw, sg] ..n_active], "flux": [...]}``
- ``g_{case}.json``              — ``[i, j, k]`` grid dimensions
- ``grdecl_{case}_{hash}.json``  — 0/1 ACTNUM array of length i·j·k

The reference parses these per-sim in a Python loop with an lru_cache
(sim_results_parser.py:142-328). Here each scan is a DataFrame source with
an EXPLICIT schema (no inference in production paths, SURVEY §1.3) and the
whole fleet of simulations is read in ONE plan: the glob is the unit of
parallelism (one task per file), `input_file_name()` recovers sim_hash, and
the timestep index comes from posexplode over the parsed array — exact and
deterministic, unlike row-order heuristics.

Column pruning: the simulator also emits a `flux` field
(co2lab3DPUMLE.m:543) that nothing downstream reads
(sim_results_parser.py:284-285) — it is simply absent from STATE_SCHEMA, so
from_json never materializes it.

At 100 TB: bronze JSON is the interop format, not the analytics format —
ingest.py converts it once into golden Parquet partitioned by sim_hash, and
every query runs against Parquet. Each bronze file is one row of one
task: a fleet of N simulations ingests with N-way parallelism and zero
shuffle, since each sim's ACTNUM row is broadcast to its state rows.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

STATE_SCHEMA = StructType(
    [
        StructField("pressure", ArrayType(DoubleType()), True),
        # s = [[sw, sg], ...] per active cell (MRST order [water, gas],
        # co2lab3DPUMLE.m:399)
        StructField("s", ArrayType(ArrayType(DoubleType())), True),
    ]
)

_HASH_FROM_STATES = r"states_[^_/]+_([0-9a-f]+)\.json$"
_HASH_FROM_GRDECL = r"grdecl_[^_/]+_([0-9a-f]+)\.json$"


def read_states(spark: SparkSession, glob: str | list[str]) -> DataFrame:
    """S2: states scan → (sim_hash, t, pressure array, s array-of-pairs).

    A wholetext read gives one whole file per row; the file name gives
    sim_hash, from_json with the explicit element schema parses the series,
    and posexplode gives the exact timestep index t.
    """
    raw = spark.read.text(glob, wholetext=True).select(
        F.regexp_extract(F.input_file_name(), _HASH_FROM_STATES, 1).alias("sim_hash"),
        F.from_json("value", ArrayType(STATE_SCHEMA)).alias("states"),
    )
    return raw.select(
        "sim_hash",
        F.posexplode("states").alias("t", "state"),
    ).select("sim_hash", "t", F.col("state.pressure").alias("pressure"), F.col("state.s").alias("s"))


def read_grid_dims(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """S3: g_{case}.json = [i, j, k], validated positive
    (sim_results_parser.py:167-195). One tiny file → read and parsed on the
    driver (no Spark job) through the Hadoop FileSystem of the session's
    configuration, so any path Spark can scan works, and used as literals
    in the ingest plan (broadcast by construction)."""
    jvm = spark.sparkContext._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    stream = fs.open(hadoop_path)
    try:
        dims = json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()
    if not isinstance(dims, list) or len(dims) != 3 or any(int(d) <= 0 for d in dims):
        raise ValueError(f"invalid grid dims {dims!r} in {path}")
    return int(dims[0]), int(dims[1]), int(dims[2])


def read_actnum(spark: SparkSession, glob: str | list[str]) -> DataFrame:
    """S4: ACTNUM scan → (sim_hash, actnum array<double>), one row per sim.

    The grdecl JSON is a flat 0/1 array whose position IS the F-order
    cell_id (co2lab3DPUMLE.m:534; consumed sim_results_parser.py:197-224).
    """
    return spark.read.text(glob, wholetext=True).select(
        F.regexp_extract(F.input_file_name(), _HASH_FROM_GRDECL, 1).alias("sim_hash"),
        F.from_json("value", ArrayType(DoubleType())).alias("actnum"),
    )
