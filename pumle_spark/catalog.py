"""Simulation catalog (M0): the engine's replacement for the reference's
SQLite `simulations` table (db.py:15-23) with idempotent registration (X3)
and guarded status transitions (db.py:43-47, 106-153).

Storage: a Parquet-backed table owned by the engine. Upserts are
copy-on-write MERGE semantics (read → anti-join/union → atomic swap) —
the same contract as Delta's ``whenNotMatchedInsert`` without requiring the
Delta runtime in this environment. The catalog is dim-sized (one row per
simulation), so rewriting it is trivial at any data scale; the 100 TB facts
live in golden Parquet, keyed by the catalog's sim_hash.

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

import glob
import os
import shutil
import tempfile
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
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

_LOAD_ATTEMPTS = 3


class SimulationCatalog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- read ---------------------------------------------------------------

    def load(self) -> DataFrame:
        # retry-on-missing: a concurrent _atomic_overwrite swap has a
        # two-rename window where the path briefly doesn't exist; don't
        # mistake it for an empty catalog. The retry wraps the READ itself
        # (not just an exists() probe) and eagerly materializes via
        # localCheckpoint — the catalog is dim-sized, so this is cheap, and
        # the returned DataFrame no longer references the path, closing the
        # window where a lazy scan lists files after a later swap. A path
        # that is absent with no swap in flight was never written (or was
        # deleted): it is empty now, with nothing to wait for.
        last_err: Exception | None = None
        for attempt in range(_LOAD_ATTEMPTS):
            if attempt:
                time.sleep(0.05)
            if not os.path.exists(self.path):
                swapping = self._swap_in_flight()
                if not os.path.exists(self.path):  # re-check: the swap may just have ended
                    if not swapping:
                        break
                    continue
            try:
                return (
                    self.spark.read.schema(CATALOG_SCHEMA)
                    .parquet(self.path)
                    .localCheckpoint(eager=True)
                )
            except Exception as err:  # path swapped mid-read
                if "PATH_NOT_FOUND" not in str(err) and "does not exist" not in str(err):
                    raise
                last_err = err
        if last_err is not None:  # path kept vanishing: a writer is live; surface it
            raise last_err
        return local_frame(self.spark, [], CATALOG_SCHEMA)

    def _swap_in_flight(self) -> bool:
        """True while an _atomic_overwrite sits between its two renames: the
        old tree is parked at ``catalog_old_*/v`` beside the path."""
        parent = os.path.dirname(self.path) or "."
        return bool(glob.glob(os.path.join(glob.escape(parent), "catalog_old_*", "v")))

    # -- write --------------------------------------------------------------

    def _atomic_overwrite(self, df: DataFrame) -> None:
        """Write to a temp dir then swap via two renames.

        CONCURRENCY CONTRACT: single writer. register/update_status are
        read-modify-write with no lock — two concurrent writers can lose
        each other's rows (last swap wins). The catalog is dim-sized and
        driver-owned by design; for multi-writer semantics use a
        transactional table format (Delta MERGE INTO) instead. Readers are
        protected: the path-missing window is two rename syscalls (the old
        tree is renamed aside BEFORE the new one moves in, and deleted only
        after), and load() retries on missing."""
        parent = os.path.dirname(self.path) or "."
        tmp = tempfile.mkdtemp(prefix="catalog_", dir=parent)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        trash = None
        if os.path.exists(self.path):
            trash = tempfile.mkdtemp(prefix="catalog_old_", dir=parent)
            os.replace(self.path, os.path.join(trash, "v"))
        os.replace(tmp, self.path)
        if trash is not None:
            shutil.rmtree(trash, ignore_errors=True)

    def register(self, configs: DataFrame) -> int:
        """X3 idempotent insert (INSERT OR IGNORE on sim_hash PK, db.py:25-28):
        only hashes not already present are added, status=CREATED.

        Returns the number of newly registered simulations. Duplicate hashes
        WITHIN the batch are also collapsed (dropDuplicates) — identical
        param sets register once, the reference's "caching" (README.md:54-55).
        """
        existing = self.load()
        incoming = (
            configs.select("sim_hash", "sim_id", "fluid_params")
            .dropDuplicates(["sim_hash"])
            .withColumn("status", F.lit("CREATED"))
            .withColumn("created_at", F.current_timestamp())
        )
        fresh = incoming.join(existing.select("sim_hash"), "sim_hash", "left_anti")
        n_new = fresh.count()
        if n_new:
            merged = existing.unionByName(fresh.select(*[f.name for f in CATALOG_SCHEMA.fields]))
            self._atomic_overwrite(merged)
        return n_new

    def update_status(self, sim_hashes: list[str] | None, new_status: str) -> None:
        """Guarded status transition (db.py:133-153): `new_status` must be a
        member of the enum; None hashes = all rows (the reference's blanket
        update — kept, but per-hash is the recommended path)."""
        if new_status not in STATUSES:
            raise ValueError(f"invalid status {new_status!r}; allowed: {STATUSES}")
        cat = self.load()
        cond = F.lit(True) if sim_hashes is None else F.col("sim_hash").isin(sim_hashes)
        updated = cat.withColumn(
            "status", F.when(cond, F.lit(new_status)).otherwise(F.col("status"))
        )
        self._atomic_overwrite(updated)

    # -- work-skipping ------------------------------------------------------

    def pending(self, configs: DataFrame) -> DataFrame:
        """X2 idempotent dispatch: configs minus already-COMPLETED hashes
        (anti-join) — the Spark form of the completed.flag skip
        (simulation.cpp:14-20)."""
        done = self.load().filter(F.col("status") == "COMPLETED").select("sim_hash")
        return configs.join(done, "sim_hash", "left_anti")
