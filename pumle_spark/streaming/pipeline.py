"""Streaming pipelines: file-arrival bronze ingest and event analytics.

A stream here is the batch query run incrementally, so each stream reuses
its batch code:

1. ``start_bronze_to_golden`` / ``start_plume_monitor``: each states_*.json
   file landing in the bronze directory is parsed by parse_states and
   scattered by ingest.scatter, exactly as batch ingest; the first appends
   the golden rows to Parquet — the reference's "menu option 2" manual
   persist (main.py:108-122) as continuous, exactly-once ingestion — and
   the second reduces them to plume cell counts.

2. ``stream_events_hourly``: watermarked tumbling-window aggregation over an
   event stream — the streaming twin of workload.events.events_hourly_rollup
   (same results on the same closed windows, late data dropped past the
   watermark).

``closed_stream`` runs a stream over a closed input to completion; the
registered ``stream_*_final`` queries all go through it.

Tests drive both with real micro-batches (file source / processAllAvailable).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

# Each stateful streaming shuffle materializes ONE state-store instance PER
# partition PER micro-batch, so a small staged batch pays partition-count
# setup, not data cost (measured on the stream-stream join at sf0.1: 5.9s
# at 32 partitions → 2.4s at 8; a vanilla session defaults to 200).
# Production streams size this to sustained throughput — the knob, not the
# operator, changes.
STREAM_SHUFFLE_PARTITIONS = 8
_PARTITIONS_CONF = "spark.sql.shuffle.partitions"


class ClosedStream:
    """One run of a stream over a closed input, owned by ``closed_stream``:
    stage input files under ``dir``; ``checkpoint`` is the query's
    checkpoint and ``sink`` its unique memory-sink name."""

    def __init__(self, spark: SparkSession, prefix: str):
        self.spark = spark
        self.dir = tempfile.mkdtemp(prefix=prefix)
        self.checkpoint = os.path.join(self.dir, "ckpt")
        self.sink = f"{prefix}{uuid.uuid4().hex[:8]}"

    def drain(
        self,
        stream: DataFrame,
        finish: Callable[[DataFrame], DataFrame] = lambda rows: rows,
        output_mode: str = "append",
    ) -> DataFrame:
        """Run ``stream`` into the memory sink until the input is used up and
        return ``finish`` (a batch step) over everything it emitted."""
        query = (
            stream.writeStream.format("memory")
            .queryName(self.sink)
            .outputMode(output_mode)
            .option("checkpointLocation", self.checkpoint)
            .start()
        )
        return self.complete(query, lambda: finish(self.spark.table(self.sink)))

    def complete(self, query: StreamingQuery, result: Callable[[], DataFrame]) -> DataFrame:
        """Process all available input, stop ``query``, and materialize
        ``result()`` so it outlives the sink and the temp dir."""
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return result().localCheckpoint(eager=True)


@contextlib.contextmanager
def closed_stream(spark: SparkSession, prefix: str) -> Iterator[ClosedStream]:
    """Scope for driving one stream over a closed input to completion.

    Pins spark.sql.shuffle.partitions to STREAM_SHUFFLE_PARTITIONS for the
    scope; on exit it restores the old value, drops the sink view and
    deletes the temp dir. The result is localCheckpoint-ed inside the
    scope (``ClosedStream.complete``), so no lazy plan escapes with the
    pinned value or a path into the deleted dir."""
    run = ClosedStream(spark, prefix)
    old = spark.conf.get(_PARTITIONS_CONF)
    spark.conf.set(_PARTITIONS_CONF, str(STREAM_SHUFFLE_PARTITIONS))
    try:
        yield run
    finally:
        spark.conf.set(_PARTITIONS_CONF, old)
        spark.catalog.dropTempView(run.sink)
        shutil.rmtree(run.dir, ignore_errors=True)


def _arriving_states(spark: SparkSession, landing_dir: str) -> DataFrame:
    """parse_states rows of each states file as it lands: wholetext keeps
    one file per row, so the timestep indices are the batch scan's."""
    from pumle_spark.sources.bronze import parse_states

    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("maxFilesPerTrigger", 8)  # bounded micro-batches under burst
        .load(landing_dir)
    )
    return parse_states(raw)


def start_bronze_to_golden(
    spark: SparkSession,
    landing_dir: str,
    actnum_glob: str,
    dims_path: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Append stream → golden Parquet partitioned by sim_hash: the
    ingest.golden_rows (GOLDEN_SCHEMA) of each states file as it lands.
    The ACTNUM glob is a static side listed once, at start: a sim whose
    ACTNUM is missing then streams all-NULL rows, as in batch ingest.

    File-source offsets + the Parquet file sink give exactly-once per input
    file. A sink cannot sort a stream; maintenance.compact_golden restores
    the (t, cell_id) order.
    """
    from pumle_spark.ingest import golden_rows

    return (
        golden_rows(spark, _arriving_states(spark, landing_dir), actnum_glob, dims_path)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("sim_hash")
        .outputMode("append")
        .start()
    )


def start_plume_monitor(
    spark: SparkSession,
    landing_dir: str,
    actnum_glob: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.05,
) -> StreamingQuery:
    """Continuous plume monitoring: as each simulation's states JSON lands,
    emit (sim_hash, t, n_plume_cells) — the reference's headline metric
    (SURVEY §7.2), computed the moment results arrive instead of in a
    nightly batch.

    Each micro-batch runs batch ingest's ingest.scatter (and P3 bounds
    rule) against the ACTNUM glob, listed anew per batch so a late ACTNUM
    still counts. With no dims file, a sim's cells are its ACTNUM array:
    extra active entries past the grid count, where batch ingest ignores
    them, and a sim without ACTNUM has none. One bronze file carries a
    sim's complete state series, so every per-(sim, t) aggregate closes
    within its micro-batch; foreachBatch runs the batch
    plume.plume_size_over_time on it and appends. Exactly-once per input
    file comes from the checkpointed file source; a mid-write crash can
    duplicate a batch's output rows on restart (standard foreachBatch
    at-least-once residue), so downstream readers key by (sim_hash, t)."""
    from pumle_spark.ingest import scatter
    from pumle_spark.plume import plume_size_over_time
    from pumle_spark.sources.bronze import read_actnum

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        golden = scatter(batch_df, read_actnum(spark, actnum_glob), "size(actnum)")
        plume_size_over_time(golden, threshold).write.mode("append").parquet(out_dir)

    return (
        _arriving_states(spark, landing_dir)
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup by event_id with bounded state — the streaming
    twin of dedup_exact (X3 idempotence for event streams).

    Uses dropDuplicatesWithinWatermark: state for a seen id is evicted once
    the watermark passes it. Plain dropDuplicates([id]) would NOT evict —
    the watermark only bounds dedup state when the event-time column is part
    of the key — so that variant grows state forever on a real stream.
    Duplicates within the watermark horizon are dropped exactly; a dup
    arriving later than the horizon is the documented at-least-once residue
    every bounded-state streaming dedup accepts.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_events_hourly(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour rollup per event_type.

    Late rows beyond the watermark are dropped and closed windows emit
    finalized aggregates — the streaming semantics of
    workload.events.events_hourly_rollup.

    sum_value accumulates per-row exact BIGINT cents (functions.money), not
    SUM(double): a double sum is partial-sum-order dependent, and in a
    stream the "order" is additionally the micro-batch arrival order, so
    the final aggregate of the SAME input could differ run to run. The
    cents state is also a plain long in the state store — cheaper per key
    per micro-batch than a boxed decimal.
    """
    from pumle_spark.functions import money

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money.sum_money2(F.col("value"), money.CENTS).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_click_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each purchase to
    every click by the same user within the preceding ``horizon``.

    The canonical Structured Streaming two-stream join: both sides carry an
    event-time watermark and the join predicate bounds purchase time to
    [click.ts, click.ts + horizon], so the state store retains each side
    only for watermark + horizon — bounded state at any input rate. Inner
    join ⇒ matches emit as soon as both rows have arrived; the watermark
    exists for state eviction, not emission.

    Batch equivalence (the gate): once all input is processed, the emitted
    pairs equal the batch interval join — workload.events registers the
    driver-checked twin.
    """
    c = clicks.withWatermark("ts", watermark).alias("c")
    p = purchases.withWatermark("ts", watermark).alias("p")
    joined = c.join(
        p,
        F.expr(
            f"p.user_id = c.user_id AND p.ts >= c.ts AND p.ts <= c.ts + interval {horizon}"
        ),
    )
    return joined.select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_event_id"),
        F.col("p.event_id").alias("purchase_event_id"),
        (F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("c.ts"))).alias("lag_us"),
    )
