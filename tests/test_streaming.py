"""Structured Streaming pipelines driven with real micro-batches."""

from __future__ import annotations

import json
import time
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from pumle_spark.functions import money
from pumle_spark.ingest import read_golden
from pumle_spark.plume import plume_size_over_time
from pumle_spark.streaming.pipeline import (
    start_bronze_to_golden,
    start_plume_monitor,
    stream_events_hourly,
)
from pumle_spark.tables import DEFAULT_SF_DIR
from tests.fixtures import CASE, DIMS, make_bronze
from tests.test_ingest import _EDGE, _ingest

SF = str(Path(DEFAULT_SF_DIR).parent / "sf0.001")  # smallest generated scale

# The registered queries that drive a real StreamingQuery to completion
# through streaming.pipeline.closed_stream.
STREAM_FINALS = (
    "stream_hourly_rollup_final",
    "stream_join_click_attribution",
    "stream_dedup_events_final",
    "stream_running_totals_final",
    "stream_sessionize_final",
    "stream_trending_topk_final",
    "stream_plume_monitor_final",
)


NCELLS = DIMS[0] * DIMS[1] * DIMS[2]
_INGEST_COLS = ("sim_hash", "t", "cell_id", "i", "j", "k", "pressure", "sw", "sg")


def _start_golden_stream(spark, landing, out, ckpt):
    return start_bronze_to_golden(
        spark, str(landing), str(landing / f"grdecl_{CASE}_*.json"), str(out), str(ckpt)
    )


def _start_monitor(spark, landing, out, ckpt):
    return start_plume_monitor(
        spark, str(landing), str(landing / f"grdecl_{CASE}_*.json"), str(out), str(ckpt)
    )


def _monitored(spark, out):
    return spark.read.parquet(str(out)).select(
        "sim_hash", F.col("t").cast("int").alias("t"), "n_plume_cells"
    )


def _batch_plume(spark, landing):
    return plume_size_over_time(_ingest(spark, landing)).select(
        "sim_hash", F.col("t").cast("int").alias("t"), "n_plume_cells"
    )


def _assert_same_rows(got, want):
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _land(src, dst):
    """write-then-rename: a running stream never lists a partly written file"""
    staged = dst.parent / f".incoming_{src.name}"
    staged.write_text(src.read_text())
    staged.rename(dst / src.name)


def _dense_rows(*sims) -> int:
    """Golden is dense: n_t × ncells rows per sim."""
    return sum(len(sim["states"]) * NCELLS for s in sims for sim in s.values())


def _write_edge_bronze(root):
    """The scatter edge-case fleet of tests/test_ingest.py as bronze files."""
    for h, (actnum, _, states) in _EDGE.items():
        if actnum is not None:
            (root / f"grdecl_{CASE}_{h}.json").write_text(json.dumps(actnum.tolist()))
        (root / f"states_{CASE}_{h}.json").write_text(json.dumps(states))


def _ingests_in_write_order(spark, tmp_path, start, result, batch):
    """The simulator's write order: two complete sims stream; a third sim's
    states land alone (nothing streams), the query stops and restarts from
    its checkpoint, then its ACTNUM lands and the sim streams with its real
    values. ``result(out)`` must equal ``batch(landing)`` over the complete
    sims after every step."""
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    make_bronze(landing, n_sims=2, n_t=2, seed=21)
    more = make_bronze(tmp_path / "stage2", n_sims=3, n_t=2, seed=22)
    newest = list(more)[-1]

    q = start(spark, landing, out, ckpt)
    try:
        q.processAllAvailable()
        first = batch(spark, landing)
        _assert_same_rows(result(spark, out), first)
        _land(tmp_path / "stage2" / f"states_{CASE}_{newest}.json", landing)
        q.processAllAvailable()
        _assert_same_rows(result(spark, out), first.filter(F.col("sim_hash") != newest))
    finally:
        q.stop()

    q = start(spark, landing, out, ckpt)
    try:
        _land(tmp_path / "stage2" / f"grdecl_{CASE}_{newest}.json", landing)
        q.processAllAvailable()
        got = result(spark, out)
        _assert_same_rows(got, batch(spark, landing))
        assert got.filter(F.col("sim_hash") == newest).count() > 0
        # re-trigger with no new files: no duplicates (checkpointed offsets)
        q.processAllAvailable()
        assert result(spark, out).count() == got.count()
    finally:
        q.stop()


def test_bronze_stream_ingests_incrementally(spark, tmp_path):
    """Golden stream in write order: every streamed sim has real values and
    one file in the golden store, with GOLDEN_SCHEMA's types."""
    _ingests_in_write_order(
        spark,
        tmp_path,
        _start_golden_stream,
        lambda spark, out: read_golden(spark, str(out)).select(*_INGEST_COLS),
        _ingest,
    )
    golden = read_golden(spark, str(tmp_path / "out"))
    assert golden.filter(F.col("sg").isNotNull()).select("sim_hash").distinct().count() == 3
    parts = sorted((tmp_path / "out").glob("sim_hash=*"))
    assert [len(list(p.glob("*.parquet"))) for p in parts] == [1, 1, 1]
    files = spark.read.parquet(str(tmp_path / "out")).drop("sim_hash")
    assert files.dtypes == golden.drop("sim_hash").dtypes


def test_plume_monitor_ingests_incrementally(spark, tmp_path):
    """The plume monitor in the same write order, with the same restart."""
    _ingests_in_write_order(spark, tmp_path, _start_monitor, _monitored, _batch_plume)


def test_bronze_stream_equals_batch_ingest(spark, tmp_path):
    """Streamed golden is batch ingest's golden, row for row, on the scatter
    edge cases (short states, short and long ACTNUM, an empty timestep) and
    on make_bronze (oversized state arrays). The sim with no ACTNUM file
    never completes, so it is not streamed."""
    landing = tmp_path / "landing"
    make_bronze(landing, n_sims=3, n_t=4, seed=77)
    _write_edge_bronze(landing)
    q = _start_golden_stream(spark, landing, tmp_path / "out", tmp_path / "ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = read_golden(spark, str(tmp_path / "out"))
    assert streamed.filter(F.col("sim_hash") == "0000000b").count() == 0
    batch = _ingest(spark, landing).select(*streamed.columns)
    _assert_same_rows(streamed, batch.filter(F.col("sim_hash") != "0000000b"))


def test_actnum_without_states_fails_the_stream(spark, tmp_path):
    """P7: an ACTNUM whose states file is missing fails the query with the
    missing path, and the batch writes no golden, not even its complete
    sim's."""
    from pyspark.errors import StreamingQueryException

    landing = tmp_path / "landing"
    make_bronze(landing, n_sims=2, n_t=2, seed=41)
    orphan = sorted(landing.glob(f"states_{CASE}_*.json"))[-1]
    orphan.unlink()
    q = _start_golden_stream(spark, landing, tmp_path / "out", tmp_path / "ckpt")
    try:
        with pytest.raises(StreamingQueryException, match=orphan.name):
            q.processAllAvailable()
    finally:
        q.stop()
    assert not list((tmp_path / "out").glob("sim_hash=*"))


def test_stream_batch_spanning_two_grids_fails(spark, tmp_path):
    """Each micro-batch has one grid-dims file: ACTNUM files of two cases in
    one batch fail the query."""
    from pyspark.errors import StreamingQueryException

    landing = tmp_path / "landing"
    make_bronze(landing, n_sims=1, n_t=2, seed=42)
    for f in list(landing.iterdir()):
        f.with_name(f.name.replace(CASE, "OTHER")).write_text(f.read_text())
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = start_bronze_to_golden(spark, str(landing), str(landing / "grdecl_*.json"), out, ckpt)
    try:
        with pytest.raises(StreamingQueryException, match="several grid dims files"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_plume_monitor_batch_job_count(spark, tmp_path):
    """One monitor micro-batch over a make_bronze fleet runs 4 Spark jobs:
    the ACTNUM path collect and the 3 of the batch ingest plus plume
    append. The stream runs its jobs in a job group named by its runId."""
    landing = tmp_path / "landing"
    make_bronze(landing, n_sims=3, n_t=4, seed=77)
    q = _start_monitor(spark, landing, tmp_path / "out", tmp_path / "ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [0]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 4


def test_events_hourly_stream_matches_batch(spark, tmp_path):
    src = tmp_path / "events_src"
    rows = [
        (i, f"2024-01-01 0{h}:1{i % 6}:00", "click" if i % 2 else "view", float(i))
        for h in range(3)
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts_s string, event_type string, value double")
    df = df.select("event_id", F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    df.write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = stream_events_hourly(stream, watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # update-mode memory sink may hold one row per UPDATE for a key (a
        # batch can split / a task can retry) — the final state per key is
        # the max-count update, since counts only grow
        got = {}
        for r in spark.sql("SELECT * FROM hourly_test").collect():
            key = (r.hour_ts, r.event_type)
            cur = got.get(key)
            if cur is None or r.n_events > cur[0]:
                got[key] = (r.n_events, r.sum_value)
        want = {
            (r.hour_ts, r.event_type): (r.n_events, r.sum_value)
            for r in df.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"), money.sum_money2(F.col("value"), money.CENTS).alias("sum_value"))
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_stateful_sessionize_closes_on_gap_across_batches(spark, tmp_path):
    """applyInPandasWithState: session state survives micro-batches; a gap
    arriving in a LATER batch closes the session opened in an earlier one.

    Deflaked (round-2 verdict item 2): the streaming query runs in its OWN
    SparkSession (isolated temp-view catalog and query namespace — the
    shared session fixture also hosts other tests' streams), the memory sink
    name is unique per run, and every append asserts the source actually
    delivered the written rows via recentProgress before the sink is read —
    a listing miss fails loudly at the append that lost rows instead of as a
    downstream set mismatch."""
    import uuid

    from pumle_spark.streaming.sessions import sessionize_stateful

    sess = spark.newSession()
    src = tmp_path / "sess_src"
    src.mkdir()
    ckpt = tmp_path / "sess_ckpt"
    gap_us = 1000
    sink = f"sessions_test_{uuid.uuid4().hex[:8]}"

    schema = "user_id bigint, tus bigint"
    stream = sess.readStream.schema(schema).parquet(str(src))
    out = sessionize_stateful(stream, gap_us=gap_us)
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )

    total_in = 0

    def append_and_drain(rows):
        # coalesce(1): ONE data file per append. A multi-file append commits
        # via sequential renames, and the running stream can list mid-commit
        # — splitting the append across micro-batches in arbitrary file
        # order, which reorders events ACROSS batches and legitimately
        # shifts the session start (the operator's contract is in-order
        # arrival across batches; only within-batch disorder is sorted).
        # This was the actual root cause of the round-2 flake.
        nonlocal total_in
        sess.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        total_in += len(rows)
        seen = sum(p.numInputRows for p in q.recentProgress)
        assert seen == total_in, f"source delivered {seen} of {total_in} written rows"

    try:
        # batch 1: user 7 has a tight burst; nothing closes yet
        append_and_drain([(7, 100), (7, 200), (7, 300)])
        assert sess.sql(f"SELECT * FROM {sink}").count() == 0

        # batch 2: far-future event → closes session (100..300, 3 events);
        # also a second user bursting (stays open)
        append_and_drain([(7, 5000), (9, 100)])
        rows = sess.sql(f"SELECT * FROM {sink}").collect()
        got2 = {(r.user_id, r.start_us, r.end_us, r.n_events) for r in rows}
        assert got2 == {(7, 100, 300, 3)}, f"unexpected closures: {sorted(got2)}"

        # batch 3: two gaps in ONE batch for user 9 → two closures at once
        append_and_drain([(9, 3000), (9, 9000)])
        got = {
            (r.user_id, r.start_us, r.end_us, r.n_events)
            for r in sess.sql(f"SELECT * FROM {sink}").collect()
        }
        assert (9, 100, 100, 1) in got and (9, 3000, 3000, 1) in got
    finally:
        q.stop()


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    from pumle_spark.streaming.pipeline import stream_dedup_events

    src = tmp_path / "dedup_src"
    src.mkdir()
    schema = "event_id bigint, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = stream_dedup_events(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    try:
        import datetime

        t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

        def ts(mins):
            return t0 + datetime.timedelta(minutes=mins)

        spark.createDataFrame(
            [(1, ts(0), 1.0), (2, ts(1), 2.0), (1, ts(0), 1.0)], schema
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) FROM dedup_test").collect()[0][0] == 2

        # same ids replayed in a LATER batch (within watermark): still dropped
        spark.createDataFrame([(2, ts(1), 2.0), (3, ts(2), 3.0)], schema).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id FROM dedup_test").collect()
        assert sorted(r.event_id for r in rows) == [1, 2, 3]
    finally:
        q.stop()


def test_stream_hourly_rollup_matches_batch(spark, tmp_path):
    """Batch/stream equivalence gate: stream_events_hourly driven to
    completion over the real events table produces EXACTLY the batch
    events_hourly_rollup aggregates for every closed window (same hour_ts,
    event_type, n_events, sum_value). A far-future sentinel event pushes
    the watermark past the last real window so append mode emits them all."""
    from pumle_spark.tables import table

    src = tmp_path / "ev_src"
    src.mkdir()
    ckpt = tmp_path / "ev_ckpt"
    cols = ["event_id", "ts", "event_type", "value"]
    events = (
        table(spark, "/root/testdata/sf0.001", "events").select(*cols).cache()
    )

    # land the table as 3 TIME-ORDERED chunks (roughly in-order arrival —
    # random chunking would advance the watermark past later-arriving
    # windows and legitimately drop them as late), then a sentinel far
    # beyond max(ts) + watermark to close every real window
    with_us = events.withColumn("_us", F.unix_micros("ts"))
    q1, q2 = with_us.approxQuantile("_us", [0.33, 0.66], 0.0)
    chunks = [
        with_us.filter(F.col("_us") < q1),
        with_us.filter((F.col("_us") >= q1) & (F.col("_us") < q2)),
        with_us.filter(F.col("_us") >= q2),
    ]
    schema = "event_id bigint, ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = stream_events_hourly(stream, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("hourly_equiv")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        for chunk in chunks:
            # one file per chunk: a multi-file append can be listed
            # mid-commit and split across micro-batches out of order,
            # advancing the watermark past the chunk's earlier rows
            chunk.select(*cols).coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
        sentinel = events.agg(
            (F.lit(10**9) + F.max_by(F.col("event_id"), F.col("event_id"))).alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
        )
        sentinel.select(*cols).write.mode("append").parquet(str(src))
        q.processAllAvailable()

        got = {
            (r.hour_ts, r.event_type, r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM hourly_equiv").collect()
            if r.event_type != "sentinel"
        }
    finally:
        q.stop()

    batch = {
        (r.hour_ts, r.event_type, r.n_events, r.sum_value)
        for r in events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), money.sum_money2(F.col("value"), money.CENTS).alias("sum_value"))
        .collect()
    }
    assert got == batch


def test_plume_monitor_matches_batch_pipeline(spark, tmp_path):
    """Streaming plume monitor == batch plume_size_over_time on the same
    bronze set: make_bronze (sim #0's oversized state rows drop in both
    paths) plus the scatter edge cases, whose sim without ACTNUM has no
    plume cell in either path."""
    landing = tmp_path / "plm_landing"
    out = tmp_path / "plm_out"
    make_bronze(landing, n_sims=3, n_t=4, seed=77)
    _write_edge_bronze(landing)

    q = _start_monitor(spark, landing, out, tmp_path / "plm_ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _assert_same_rows(_monitored(spark, out), _batch_plume(spark, landing))


def test_stateful_sessionize_matches_batch_windows(spark, tmp_path):
    """Equivalence gate for the custom stateful operator: driving
    sessionize_stateful over the real events table (time-ordered chunks +
    per-user far-future sentinels to flush every open session) yields
    exactly the session set the batch lag/running-sum formulation computes
    (same user, start, end, event count)."""
    from pumle_spark.streaming.sessions import sessionize_stateful
    from pumle_spark.tables import table

    gap_us = 1800 * 1_000_000
    src = tmp_path / "sess_eq_src"
    src.mkdir()
    ckpt = tmp_path / "sess_eq_ckpt"
    events = (
        table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", F.unix_micros("ts").alias("tus"))
        .cache()
    )

    q1, q2 = events.approxQuantile("tus", [0.33, 0.66], 0.0)
    chunks = [
        events.filter(F.col("tus") < q1),
        events.filter((F.col("tus") >= q1) & (F.col("tus") < q2)),
        events.filter(F.col("tus") >= q2),
    ]
    schema = "user_id bigint, tus bigint"
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = sessionize_stateful(stream, gap_us=gap_us)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_equiv")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        for chunk in chunks:
            # one file per chunk: mid-commit listing of a multi-file append
            # reorders events across micro-batches (see gap test above)
            chunk.coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
        # flush: one sentinel per user, far beyond every real event
        sentinels = events.groupBy("user_id").agg(
            (F.max("tus") + 100 * gap_us).alias("tus")
        )
        events.agg(F.max("tus")).collect()  # force cache before reuse
        sentinels.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        got = {
            (r.user_id, r.start_us, r.end_us, r.n_events)
            for r in spark.sql("SELECT * FROM sess_equiv").collect()
        }
    finally:
        q.stop()

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("tus")
    flagged = events.withColumn(
        "new_sess",
        F.when(
            F.lag("tus").over(w).isNull() | ((F.col("tus") - F.lag("tus").over(w)) > gap_us), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    want = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in sess.groupBy("user_id", "session_id")
        .agg(
            F.min("tus").alias("start_us"),
            F.max("tus").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert got == want and len(got) > 100


def test_stream_join_boundary_semantics(spark, tmp_path):
    """Stream-stream interval join boundaries the sf-data oracle can't
    guarantee to hit: a purchase exactly at click + 1h (inclusive), one
    1µs past it (excluded), one before the click (excluded), and a
    same-times pair on a different user (user key respected)."""
    import datetime as dt
    import uuid

    from pumle_spark.streaming.pipeline import stream_click_attribution

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    us = dt.timedelta(microseconds=1)
    clicks = [
        (1, base, 10, "click"),
        (2, base, 20, "click"),
    ]
    purchases = [
        (100, base + h, 10, "purchase"),        # exactly +1h → kept
        (101, base + h + us, 10, "purchase"),   # 1µs past → dropped
        (102, base - us, 10, "purchase"),       # before click → dropped
        (103, base + h, 20, "purchase"),        # other user's click only
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    spark.createDataFrame(clicks, schema).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(purchases, schema).coalesce(1).write.parquet(pdir)

    sink = f"sj_boundary_{uuid.uuid4().hex[:8]}"
    q = (
        stream_click_attribution(
            spark.readStream.schema(schema).parquet(cdir),
            spark.readStream.schema(schema).parquet(pdir),
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.click_event_id, r.purchase_event_id, r.lag_us)
        for r in spark.table(sink).collect()
    }
    spark.catalog.dropTempView(sink)
    assert got == {
        (10, 1, 100, 3_600_000_000),
        (20, 2, 103, 3_600_000_000),
    }


def test_bronze_stream_restart_is_exactly_once(spark, tmp_path):
    """The docstring claim 'exactly-once per input file (checkpointed
    file-source offsets)' across a PROCESS RESTART: stop the query, start a
    NEW query from the same checkpoint, and verify the already-ingested
    files are not reprocessed while a file that landed during the outage
    is. This is the recovery path a production deploy actually exercises."""
    landing = tmp_path / "landing"
    out = tmp_path / "golden"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()

    sims = make_bronze(landing, n_sims=2, n_t=2, seed=31)
    q1 = _start_golden_stream(spark, landing, out, ckpt)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    n1 = read_golden(spark, str(out)).count()
    assert n1 == _dense_rows(sims)

    # a sim's files land while no query is running (the outage window)
    more = make_bronze(tmp_path / "stage2", n_sims=3, n_t=2, seed=32)
    newest = list(more)[-1]
    for name in (f"grdecl_{CASE}_{newest}.json", f"states_{CASE}_{newest}.json"):
        (landing / name).write_text((tmp_path / "stage2" / name).read_text())

    # restart from the SAME checkpoint: old offsets honored, new file picked up
    q2 = _start_golden_stream(spark, landing, out, ckpt)
    try:
        q2.processAllAvailable()
        golden = read_golden(spark, str(out))
        # no duplicates of batch-1 files, outage file ingested
        assert golden.count() == n1 + _dense_rows({newest: more[newest]})
        n_active = int(more[newest]["actnum"].sum())
        assert golden.filter(F.col("sim_hash") == newest).dropna(subset=["sg"]).count() == (
            2 * n_active
        )

        # idempotent re-trigger after restart
        q2.processAllAvailable()
        assert read_golden(spark, str(out)).count() == golden.count()
    finally:
        q2.stop()


@pytest.mark.parametrize("name", STREAM_FINALS)
def test_stream_final_leaves_nothing_behind(spark, tmp_path, monkeypatch, name):
    """One run of each stream final: its staged input, checkpoint and sink
    view are gone afterwards, the session's partition count is restored,
    and the returned rows outlive them."""
    import tempfile

    from pumle_spark import workload

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views = temp_views()
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert workload.queries()[name](spark, SF).count() > 0
    assert list(tmp_path.iterdir()) == []
    assert temp_views() == views
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
