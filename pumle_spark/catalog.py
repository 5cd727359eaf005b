"""Simulation catalog (M0): the engine's replacement for the reference's
SQLite `simulations` table (db.py:15-23) with idempotent registration (X3)
and guarded status transitions (db.py:43-47, 106-153).

Storage: an append-only log under ``path``. Each write commits one entry,
a new subdirectory ``<seq:020d>-<uuid8>/`` holding one Parquet file of
``CATALOG_SCHEMA`` + ``seq`` (``time.time_ns()`` at append). ``register``
appends full rows (status CREATED, ``created_at`` set: INSERT OR IGNORE,
db.py:25-28); ``update_status`` appends events ``(sim_hash, NULL, NULL,
status, NULL, seq)`` (UPDATE … SET status, db.py:133-153). Committed
entries never change; one being written holds only ``_temporary``, which
Spark's listing hides. So any number of writers on one clock can append
without losing rows, and a frame from ``load()`` is a snapshot of the
entries listed when it was built.

``load()`` folds the log per sim_hash on one partition (no shuffle; the
catalog is dim-sized, the 100 TB facts live in golden Parquet): sim_id and
fluid_params from the first register row, the earliest created_at, the
latest event's status (CREATED if none), registered hashes only. A
duplicate register row from two racing registers changes nothing.

Schema (db.py:15-23, FIXTURES.md §2):
    sim_hash     STRING  PK (md5(sorted fluid params)[:8], utils.py:52-81)
    sim_id       INT
    fluid_params STRING  (the exact canonical bytes sim_hash is the md5 of,
                          json.dumps(sort_keys=True); interop.write_staging
                          writes them to params.json as is)
    status       STRING  CREATED|RUNNING|COMPLETED|FAILED
    created_at   TIMESTAMP
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pumle_spark.sources.local import local_frame

# SimulationStatus enum (db.py:43-47)
STATUSES = ("CREATED", "RUNNING", "COMPLETED", "FAILED")

CATALOG_SCHEMA = StructType(
    [
        StructField("sim_hash", StringType(), False),
        StructField("sim_id", IntegerType(), True),
        StructField("fluid_params", StringType(), True),
        StructField("status", StringType(), True),
        StructField("created_at", TimestampType(), True),
    ]
)
_COLUMNS = [f.name for f in CATALOG_SCHEMA.fields]
LOG_SCHEMA = StructType(CATALOG_SCHEMA.fields + [StructField("seq", LongType(), False)])

_REGISTERED = "created_at IS NOT NULL"  # a register row, not a status event
# the per-hash fold of the log into CATALOG_SCHEMA
_FOLD = (
    f"min_by(sim_id, seq) FILTER (WHERE {_REGISTERED}) AS sim_id",
    f"min_by(fluid_params, seq) FILTER (WHERE {_REGISTERED}) AS fluid_params",
    f"coalesce(max_by(status, seq) FILTER (WHERE NOT {_REGISTERED}), 'CREATED') AS status",
    "min(created_at) AS created_at",
)


class SimulationCatalog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- read ---------------------------------------------------------------

    def _log(self) -> DataFrame | None:
        """Every committed log row, or None when the log has no entry."""
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        if any(n.startswith("part-") for n in names):
            raise ValueError(
                f"{self.path} holds a single-table Parquet catalog (top-level part-* "
                "files), not the append-only log; rebuild it with `python -m pumle_spark sweep`"
            )
        if not any(n[0] not in "._" for n in names):
            return None
        return self.spark.read.schema(LOG_SCHEMA).parquet(os.path.join(self.path, "*"))

    def load(self) -> DataFrame:
        log = self._log()
        if log is None:
            return local_frame(self.spark, [], CATALOG_SCHEMA)
        return (
            log.coalesce(1)
            .groupBy("sim_hash")
            .agg(*map(F.expr, _FOLD))
            .filter(_REGISTERED)
            .select(*_COLUMNS)
        )

    # -- write --------------------------------------------------------------

    def _append(self, rows: DataFrame | list[tuple]) -> None:
        """Commit ``rows`` (CATALOG_SCHEMA columns: a frame, or tuples built
        on the driver) as one new log entry."""
        seq = time.time_ns()
        entry = os.path.join(self.path, f"{seq:020d}-{uuid.uuid4().hex[:8]}")
        if isinstance(rows, DataFrame):
            rows = rows.select(*_COLUMNS, F.lit(seq).alias("seq"))
        else:  # seq rides in the rows: no literal for codegen to compile
            rows = local_frame(self.spark, [(*r, seq) for r in rows], LOG_SCHEMA)
        rows.coalesce(1).write.parquet(entry)

    def register(self, configs: DataFrame) -> int:
        """X3 idempotent insert (INSERT OR IGNORE on sim_hash PK, db.py:25-28):
        only hashes not already registered are appended, status=CREATED.

        Returns the number of newly registered simulations. Duplicate hashes
        WITHIN the batch are also collapsed (dropDuplicates) — identical
        param sets register once, the reference's "caching" (README.md:54-55).
        The fresh rows are read once, to the driver (the catalog is
        dim-sized), and stamped with one UTC driver timestamp.
        """
        fresh = configs.select("sim_hash", "sim_id", "fluid_params").dropDuplicates(["sim_hash"])
        log = self._log()
        if log is not None:
            registered = log.filter(_REGISTERED).select("sim_hash")
            fresh = fresh.join(registered, "sim_hash", "left_anti")
        rows = fresh.collect()
        if rows:
            created_at = datetime.now(timezone.utc)
            self._append([(*r, "CREATED", created_at) for r in rows])
        return len(rows)

    def update_status(self, sim_hashes: list[str] | None, new_status: str) -> None:
        """Guarded status transition (db.py:133-153): `new_status` must be a
        member of the enum; None hashes = all rows (the reference's blanket
        update — kept, but per-hash is the recommended path). Appends one
        event per register row of a requested hash; unknown hashes are
        ignored, and an empty list writes nothing."""
        if new_status not in STATUSES:
            raise ValueError(f"invalid status {new_status!r}; allowed: {STATUSES}")
        log = self._log()
        if log is None or (sim_hashes is not None and not sim_hashes):
            return
        registered = log.filter(_REGISTERED)
        if sim_hashes is not None:
            registered = registered.filter(F.col("sim_hash").isin(sim_hashes))
        self._append(registered.selectExpr(
            "sim_hash", "CAST(NULL AS INT) AS sim_id", "CAST(NULL AS STRING) AS fluid_params",
            f"'{new_status}' AS status", "CAST(NULL AS TIMESTAMP) AS created_at",
        ))

    # -- work-skipping ------------------------------------------------------

    def pending(self, configs: DataFrame) -> DataFrame:
        """X2 idempotent dispatch: configs minus already-COMPLETED hashes
        (anti-join) — the Spark form of the completed.flag skip
        (simulation.cpp:14-20)."""
        done = self.load().filter(F.col("status") == "COMPLETED").select("sim_hash")
        return configs.join(done, "sim_hash", "left_anti")
