"""Golden-store maintenance: the table-layout ops a 100 TB deployment runs
nightly, expressed over the plain-Parquet golden layout (ingest.write_golden:
partitioned by sim_hash, (t, cell_id)-sorted within partitions).

Why this exists: streaming ingest (streaming/pipeline.start_bronze_to_golden)
and per-sim appends accrete one file per micro-batch, unsorted — small files
tax every scan and unsorted ones defeat row-group skipping. Compaction
rewrites each partition into row-group-sized (t, cell_id)-sorted files; the
new tree drops a stream's _spark_metadata log, so compact once the stream
is done writing.

The rewrite is swap-atomic: write the compacted tree to ``._compacting``,
then two renames through ``._old``. Readers racing the swap see the old tree
or the new one, never a mix; the path-missing window is two rename syscalls.
The next run clears what a killed run left in either sibling. Single
maintainer at a time (use a transactional table format for multi-writer).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pumle_spark.ingest import read_golden

# Sizing files by rows, not a fixed file count, gives a 10x-bigger partition
# 10x the files, keeping row groups within executor memory at any SF.
MAX_RECORDS_PER_FILE = 4_000_000


def golden_file_stats(spark: SparkSession, path: str) -> DataFrame:
    """(sim_hash, n_files, n_rows, avg_rows_per_file): the compaction
    trigger metric, computed from the data itself (input_file_name), so it
    is scheme-transparent — no filesystem listing code to port per store."""
    g = read_golden(spark, path).select("sim_hash", F.input_file_name().alias("f"))
    per_file = g.groupBy("sim_hash", "f").agg(F.count(F.lit(1)).alias("rows"))
    return per_file.groupBy("sim_hash").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("rows").alias("n_rows"),
        F.round(F.avg("rows"), 1).alias("avg_rows_per_file"),
    )


def compact_golden(spark: SparkSession, path: str) -> None:
    """Rewrite the golden store: one balanced write per sim_hash partition
    in (t, cell_id) order, at most MAX_RECORDS_PER_FILE rows per file,
    swapped in atomically."""
    golden = read_golden(spark, path)
    tmp = path.rstrip("/") + "._compacting"
    old = path.rstrip("/") + "._old"
    for stale in (tmp, old):  # a killed run's leftovers
        shutil.rmtree(stale, ignore_errors=True)
    (
        golden.repartition("sim_hash")
        .sortWithinPartitions("t", "cell_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy("sim_hash")
        .parquet(tmp)
    )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
