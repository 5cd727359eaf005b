"""M0 catalog: idempotent register (X3), guarded status transitions,
pending-work anti-join (X2), and the append-only log under them: snapshot
reads, concurrent writers, the fold's edge cases."""

from __future__ import annotations

import threading
import time
from datetime import datetime, timezone

import pytest

from pumle_spark.catalog import LOG_SCHEMA, SimulationCatalog
from pumle_spark.sources.local import local_frame


@pytest.fixture()
def configs(spark):
    return spark.createDataFrame(
        [
            ("aaaa1111", 1, '{"pe": 5.0}'),
            ("bbbb2222", 2, '{"pe": 6.0}'),
            ("bbbb2222", 2, '{"pe": 6.0}'),  # in-batch duplicate
        ],
        "sim_hash string, sim_id int, fluid_params string",
    )


def test_register_is_idempotent(spark, tmp_path, configs):
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    assert cat.register(configs) == 2  # batch dupes collapsed
    assert cat.register(configs) == 0  # INSERT OR IGNORE semantics (db.py:25-28)
    rows = cat.load().collect()
    assert {r.sim_hash for r in rows} == {"aaaa1111", "bbbb2222"}
    assert all(r.status == "CREATED" for r in rows)
    assert all(r.created_at is not None for r in rows)


def test_created_at_is_the_driver_clock_in_any_session_zone(spark, tmp_path, configs):
    """register stamps created_at from the driver clock: with a non-UTC
    session time zone the stored instant still lies between two clock
    readings taken around the call."""
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    try:
        before = time.time_ns() // 1000
        cat.register(configs)
        after = time.time_ns() // 1000
        stamps = [r.us for r in cat.load().selectExpr("unix_micros(created_at) AS us").collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert len(stamps) == 2
    assert all(before <= us <= after for us in stamps), (before, stamps, after)


def test_status_transitions_and_guard(spark, tmp_path, configs):
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    cat.register(configs)
    cat.update_status(["aaaa1111"], "RUNNING")
    st = {r.sim_hash: r.status for r in cat.load().collect()}
    assert st == {"aaaa1111": "RUNNING", "bbbb2222": "CREATED"}
    with pytest.raises(ValueError, match="invalid status"):
        cat.update_status(None, "DONE")  # enum guard, db.py:144-145


def test_pending_skips_completed(spark, tmp_path, configs):
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    cat.register(configs)
    cat.update_status(["aaaa1111"], "COMPLETED")
    pending = cat.pending(configs.dropDuplicates(["sim_hash"]))
    assert [r.sim_hash for r in pending.collect()] == ["bbbb2222"]


def _batch(spark, prefix: str, n: int, first_id: int = 1):
    rows = [(f"{prefix}{i:04d}", first_id + i, "{}") for i in range(n)]
    return spark.createDataFrame(rows, "sim_hash string, sim_id int, fluid_params string")


def test_load_is_a_snapshot(spark, tmp_path, configs):
    """load() lists the log's entries when the frame is built: a frame
    loaded earlier keeps its rows and statuses after later writes. A path
    that was never written is an empty catalog."""
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    assert cat.load().count() == 0

    cat.register(configs)
    snapshot = cat.load()
    cat.register(_batch(spark, "new", 3))
    cat.update_status(None, "COMPLETED")
    assert {(r.sim_hash, r.status) for r in snapshot.collect()} == {
        ("aaaa1111", "CREATED"),
        ("bbbb2222", "CREATED"),
    }
    assert cat.load().filter("status = 'COMPLETED'").count() == 5


def _entries(path) -> list[str]:
    return sorted(p.name for p in path.iterdir()) if path.exists() else []


def _run_together(calls, timeout_s: float = 300) -> None:
    """Run the calls on one thread each, released together; re-raise the
    first error."""
    barrier = threading.Barrier(len(calls), timeout=timeout_s)
    errors: list[Exception] = []

    def run(call):
        try:
            barrier.wait()
            call()
        except Exception as err:  # re-raised on the test's thread below
            errors.append(err)

    threads = [threading.Thread(target=run, args=(c,), daemon=True) for c in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout_s)
    assert not any(t.is_alive() for t in threads), "a writer thread did not finish"
    if errors:
        raise errors[0]


def test_concurrent_registers_lose_no_row(spark, tmp_path):
    """Four writers registering disjoint batches at once: every row lands
    (each register appends its own log entry; nothing is rewritten)."""
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    batches = [_batch(spark, f"w{w}_", 8, first_id=10 * w) for w in range(4)]
    counts: list[int] = []
    _run_together([lambda b=b: counts.append(cat.register(b)) for b in batches])
    assert counts == [8, 8, 8, 8]
    rows = cat.load().collect()
    assert len(rows) == 32
    assert {r.sim_hash for r in rows} == {f"w{w}_{i:04d}" for w in range(4) for i in range(8)}
    assert {r.status for r in rows} == {"CREATED"}


def test_concurrent_status_updates_both_apply(spark, tmp_path, configs):
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    cat.register(configs)
    _run_together(
        [
            lambda: cat.update_status(["aaaa1111"], "COMPLETED"),
            lambda: cat.update_status(["bbbb2222"], "FAILED"),
        ]
    )
    st = {r.sim_hash: r.status for r in cat.load().collect()}
    assert st == {"aaaa1111": "COMPLETED", "bbbb2222": "FAILED"}


def test_duplicate_register_row_changes_nothing(spark, tmp_path, configs):
    """Two racing registers of one hash can both append it; the fold keeps
    the first row's sim_id and the latest status event."""
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    cat.register(configs)
    cat.update_status(["aaaa1111"], "RUNNING")
    cat._append([("aaaa1111", 99, '{"pe": 0.0}', "CREATED", datetime.now(timezone.utc))])
    rows = {r.sim_hash: r for r in cat.load().collect()}
    assert len(rows) == 2
    a = rows["aaaa1111"]
    assert (a.sim_id, a.fluid_params, a.status) == (1, '{"pe": 5.0}', "RUNNING")
    assert cat.register(configs) == 0


def test_status_event_for_unknown_hash_adds_no_row(spark, tmp_path, configs):
    path = tmp_path / "catalog"
    cat = SimulationCatalog(spark, str(path))
    cat.register(configs)
    cat.update_status(["zzzz9999"], "FAILED")
    # an event that bypassed update_status's guard
    cat._append([("zzzz9999", None, None, "FAILED", None)])
    rows = cat.load().collect()
    assert {r.sim_hash for r in rows} == {"aaaa1111", "bbbb2222"}
    assert {r.status for r in rows} == {"CREATED"}


def test_empty_status_update_writes_nothing(spark, tmp_path, configs):
    path = tmp_path / "catalog"
    cat = SimulationCatalog(spark, str(path))
    cat.update_status(None, "RUNNING")  # nothing registered yet
    assert _entries(path) == []
    cat.register(configs)
    entries = _entries(path)
    assert len(entries) == 1
    cat.update_status([], "RUNNING")
    assert _entries(path) == entries


def test_single_table_catalog_is_rejected(spark, tmp_path, configs):
    """A catalog written as one overwritten Parquet table (top-level part-*
    files) is not a log; reading it as one would misfold it."""
    from pumle_spark.catalog import CATALOG_SCHEMA

    path = str(tmp_path / "catalog")
    spark.createDataFrame([("aaaa1111", 1, "{}", "COMPLETED", None)], CATALOG_SCHEMA).write.parquet(
        path
    )
    cat = SimulationCatalog(spark, path)
    for call in (cat.load, lambda: cat.register(configs)):
        with pytest.raises(ValueError, match="single-table Parquet catalog"):
            call()


def _group_jobs(spark, group: str, call) -> list[int]:
    """The Spark jobs ``call`` starts, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_catalog_writes_start_no_job(spark, tmp_path):
    """register on a local_frame and update_status read, fold and append
    the log on the driver; the count on the loaded frame, in the same
    kind of group, shows the tracker sees jobs."""
    cat = SimulationCatalog(spark, str(tmp_path / "catalog"))
    configs = local_frame(spark, [("aaaa1111", 1, "{}"), ("bbbb2222", 2, "{}")],
                          "sim_hash string, sim_id int, fluid_params string")
    assert _group_jobs(spark, "catalog_register", lambda: cat.register(configs)) == []
    assert _group_jobs(spark, "catalog_update", lambda: cat.update_status(None, "RUNNING")) == []
    assert _group_jobs(spark, "catalog_count", lambda: cat.load().count())
    assert {r.status for r in cat.load().collect()} == {"RUNNING"}


def test_load_folds_an_entry_written_by_spark(spark, tmp_path, configs):
    """An entry committed by Spark's Parquet writer (part-*.parquet beside
    _SUCCESS and .crc files) folds like one written on the driver."""
    path = tmp_path / "catalog"
    cat = SimulationCatalog(spark, str(path))
    cat.register(configs)
    seq = time.time_ns()
    entry = path / f"{seq:020d}-0000spark"
    local_frame(spark, [("bbbb2222", None, None, "COMPLETED", None, seq),
                        ("cccc3333", 3, '{"pe": 7.0}', "CREATED", datetime.now(timezone.utc), seq)],
                LOG_SCHEMA).coalesce(1).write.parquet(str(entry))
    names = sorted(p.name for p in entry.iterdir())
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    st = {r.sim_hash: (r.sim_id, r.status) for r in cat.load().collect()}
    assert st == {"aaaa1111": (1, "CREATED"), "bbbb2222": (2, "COMPLETED"), "cccc3333": (3, "CREATED")}


def test_crashed_writer_leaves_no_visible_entry(spark, tmp_path, configs):
    """A writer that died before its rename leaves a hidden .<name>.tmp/
    directory, and a Spark writer that died before its job commit leaves
    only _temporary/ in its entry; reads skip both, and later writes
    commit around them."""
    path = tmp_path / "catalog"
    cat = SimulationCatalog(spark, str(path))
    cat.register(configs)
    event = local_frame(spark, [("aaaa1111", None, None, "FAILED", None, time.time_ns())], LOG_SCHEMA)
    event.coalesce(1).write.parquet(str(path / f".{time.time_ns():020d}-deadbeef.tmp"))
    event.coalesce(1).write.parquet(str(path / f"{time.time_ns():020d}-0000dead" / "_temporary" / "0"))
    cat.update_status(["bbbb2222"], "RUNNING")
    st = {r.sim_hash: r.status for r in cat.load().collect()}
    assert st == {"aaaa1111": "CREATED", "bbbb2222": "RUNNING"}
    assert len(_entries(path)) == 4
