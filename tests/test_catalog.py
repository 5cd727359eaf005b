"""M0 catalog: idempotent register (X3), guarded status transitions,
pending-work anti-join (X2)."""

from __future__ import annotations

import threading
import time

import pytest

from pumle_spark.catalog import SimulationCatalog


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


def test_load_survives_concurrent_swap(spark, tmp_path, configs):
    """The swap-race contract: load() materializes eagerly, so the returned
    DataFrame keeps working even if a writer swaps (or deletes) the backing
    path immediately afterwards — a lazy scan would list files at action
    time and die mid-swap. Also: a missing path is an empty catalog, not an
    error."""
    import shutil

    path = tmp_path / "catalog"
    cat = SimulationCatalog(spark, str(path))
    assert cat.load().count() == 0  # missing path == empty catalog

    cat.register(configs)
    snapshot = cat.load()
    shutil.rmtree(path)  # writer swapped the tree away after our read
    assert {r.sim_hash for r in snapshot.collect()} == {"aaaa1111", "bbbb2222"}
    assert cat.load().count() == 0  # fresh read sees the new (absent) state


def _patch_sleep(monkeypatch, on_call):
    """Route this thread's time.sleep calls to on_call; other threads (the
    py4j and Spark client threads share the time module) keep sleeping."""
    from pumle_spark import catalog

    real, me = time.sleep, threading.get_ident()
    monkeypatch.setattr(
        catalog.time, "sleep", lambda s: on_call(s) if threading.get_ident() == me else real(s)
    )


def test_load_of_never_written_catalog_does_not_sleep(spark, tmp_path, monkeypatch):
    """No swap in flight and no path: the catalog was never written, so
    load() returns the empty frame at once instead of waiting out the
    retry loop."""

    def no_sleep(_s):
        raise AssertionError("load() slept on a catalog that was never written")

    _patch_sleep(monkeypatch, no_sleep)
    assert SimulationCatalog(spark, str(tmp_path / "catalog")).load().count() == 0


def test_load_retries_while_a_swap_is_in_flight(spark, tmp_path, monkeypatch):
    """A parked catalog_old_*/v sibling means a writer is between its two
    renames: load() must keep retrying (sleeping between attempts, not
    after the last) before it calls the absent path empty."""
    from pumle_spark import catalog

    (tmp_path / "catalog_old_x" / "v").mkdir(parents=True)
    slept: list[float] = []
    _patch_sleep(monkeypatch, slept.append)
    assert SimulationCatalog(spark, str(tmp_path / "catalog")).load().count() == 0
    assert len(slept) == catalog._LOAD_ATTEMPTS - 1
