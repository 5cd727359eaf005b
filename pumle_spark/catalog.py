"""Simulation catalog (M0): the engine's replacement for the reference's
SQLite `simulations` table (db.py:15-23) with idempotent registration (X3)
and guarded status transitions (db.py:43-47, 106-153).

Storage: an append-only log under ``path``. Each write commits one entry,
a subdirectory ``<seq:020d>-<uuid8>/`` holding Parquet rows of
``LOG_SCHEMA`` (``CATALOG_SCHEMA`` + ``seq``, ``time.time_ns()`` at append).
``register`` appends full rows (status CREATED, ``created_at`` set: INSERT
OR IGNORE, db.py:25-28); ``update_status`` appends events ``(sim_hash,
NULL, NULL, status, NULL, seq)`` (UPDATE … SET status, db.py:133-153).

Commit: the entry's one file is written into a hidden ``.<name>.tmp/``
directory, which is then renamed to ``<name>/``. Readers skip names that
start with ``.`` or ``_``, so they see an entry whole or not at all, and a
crashed writer's temporary directory is ignored. Committed entries never
change, so any number of writers on one clock can append without losing
rows. Entries written by Spark (``part-*.parquet`` beside ``_SUCCESS`` and
``.crc`` files) read the same way.

Fold: the catalog is dim-sized (the 100 TB facts live in golden Parquet),
so the log is listed, read with pyarrow and folded per sim_hash on the
driver, and no call starts a Spark job of its own. sim_id and fluid_params
come from the first register row by seq, created_at is the earliest one,
status is the latest event's (CREATED if none), and only registered hashes
are kept, so a duplicate register row from two racing registers changes
nothing. ``load()`` returns the fold as a ``local_frame``: a snapshot of
the entries committed when it was called.

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

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pumle_spark.sources.local import arrow_table, local_frame

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
LOG_SCHEMA = StructType(CATALOG_SCHEMA.fields + [StructField("seq", LongType(), False)])
_ARROW_LOG = to_arrow_schema(LOG_SCHEMA)


def _visible(names: list[str]) -> list[str]:
    """Committed names, sorted: hidden (``.``) and marker (``_``) names
    are skipped."""
    return sorted(n for n in names if n[0] not in "._")


class SimulationCatalog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- read ---------------------------------------------------------------

    def _log(self) -> list[tuple]:
        """Every committed log row in ``LOG_SCHEMA`` order, sorted by seq."""
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        if any(n.startswith("part-") for n in names):
            raise ValueError(
                f"{self.path} holds a single-table Parquet catalog (top-level part-* "
                "files), not the append-only log; rebuild it with `python -m pumle_spark sweep`"
            )
        files = []
        for entry in _visible(names):
            entry = os.path.join(self.path, entry)
            files += [os.path.join(entry, f) for f in _visible(os.listdir(entry))]
        if not files:
            return []
        log = pq.read_table(files, schema=_ARROW_LOG).sort_by("seq")
        return list(zip(*(column.to_pylist() for column in log.columns)))

    def _fold(self) -> dict[str, list]:
        """The log folded per sim_hash into ``CATALOG_SCHEMA`` rows, in
        first-registration order; only registered hashes are kept."""
        rows: dict[str, list] = {}
        statuses: dict[str, str] = {}
        for sim_hash, sim_id, params, status, created_at, _seq in self._log():
            if created_at is None:  # a status event; in seq order the latest wins
                statuses[sim_hash] = status
            elif sim_hash not in rows:  # the first register row by seq
                rows[sim_hash] = [sim_hash, sim_id, params, None, created_at]
            else:
                rows[sim_hash][4] = min(rows[sim_hash][4], created_at)
        for sim_hash, row in rows.items():
            row[3] = statuses.get(sim_hash) or "CREATED"
        return rows

    def load(self) -> DataFrame:
        return local_frame(self.spark, self._fold().values(), CATALOG_SCHEMA)

    # -- write --------------------------------------------------------------

    def _append(self, rows: list[tuple]) -> None:
        """Commit ``rows`` (``CATALOG_SCHEMA`` tuples) as one new log entry."""
        seq = time.time_ns()
        name = f"{seq:020d}-{uuid.uuid4().hex[:8]}"
        staging = os.path.join(self.path, f".{name}.tmp")
        os.makedirs(staging)
        table = arrow_table([(*r, seq) for r in rows], LOG_SCHEMA)
        pq.write_table(table, os.path.join(staging, "part-00000.parquet"))
        os.rename(staging, os.path.join(self.path, name))

    def register(self, configs: DataFrame) -> int:
        """X3 idempotent insert (INSERT OR IGNORE on sim_hash PK, db.py:25-28):
        only hashes not already registered are appended, status=CREATED.

        Returns the number of newly registered simulations. Duplicate hashes
        WITHIN the batch are also collapsed (the first row is kept) —
        identical param sets register once, the reference's "caching"
        (README.md:54-55). ``configs`` is collected once (the catalog is
        dim-sized); the fresh rows are stamped with one UTC driver timestamp.
        """
        registered = self._fold()
        fresh = {}
        for sim_hash, sim_id, params in configs.select("sim_hash", "sim_id", "fluid_params").collect():
            if sim_hash not in registered:
                fresh.setdefault(sim_hash, (sim_hash, sim_id, params))
        if fresh:
            created_at = datetime.now(timezone.utc)
            self._append([(*r, "CREATED", created_at) for r in fresh.values()])
        return len(fresh)

    def update_status(self, sim_hashes: list[str] | None, new_status: str) -> None:
        """Guarded status transition (db.py:133-153): `new_status` must be a
        member of the enum; None hashes = all rows (the reference's blanket
        update — kept, but per-hash is the recommended path). Appends one
        event per requested registered hash; unknown hashes are ignored,
        and when none is left nothing is written."""
        if new_status not in STATUSES:
            raise ValueError(f"invalid status {new_status!r}; allowed: {STATUSES}")
        registered = self._fold()
        hashes = registered if sim_hashes is None else dict.fromkeys(sim_hashes)
        events = [(h, None, None, new_status, None) for h in hashes if h in registered]
        if events:
            self._append(events)

    # -- work-skipping ------------------------------------------------------

    def pending(self, configs: DataFrame) -> DataFrame:
        """X2 idempotent dispatch: configs minus already-COMPLETED hashes
        (anti-join) — the Spark form of the completed.flag skip
        (simulation.cpp:14-20). The COMPLETED hashes are dim-sized driver
        values, so the anti-join is a NOT IN filter: no join, and fewer
        jobs than a join with a broadcast side (PERF.md)."""
        done = [h for h, row in self._fold().items() if row[3] == "COMPLETED"]
        sim_hash = F.col("sim_hash")
        return configs.filter(sim_hash.isNull() | ~sim_hash.isin(done))
