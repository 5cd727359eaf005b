"""Round-12 optimization-round tests.

Two kinds of pins, both ordered by the r11 ADVICE/VERDICT:

* parity tests asserting the map-side shingle/minhash twins in
  workload/dedup.py stay bit-for-bit equal to the operator-layer
  implementations they shadow (a silent drift would change LSH candidates
  while both engines' oracles remain self-consistent);
* guards for the connected_components convergence observable (non-numeric
  keys must fail loudly, never silently converge early);
* plan-shape invariants for the round-12 rewrites (bloom probe without the
  three broadcast joins, hll_setops without the checkpoint barrier).
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_shingle_sets_parity_with_operator_shingles(spark):
    """Exploding the per-doc `_shingle_sets` arrays must yield exactly the
    operator-layer `shingles()` rows: same normalization, same gram width,
    same distinctness, same dropped short docs."""
    from pumle_spark.operators.dedup import shingles
    from pumle_spark.tables import table
    from pumle_spark.workload.dedup import _shingle_sets

    import pyspark.sql.functions as F

    got = {
        (r.doc_id, r.sh)
        for r in _shingle_sets(spark, SF)
        .select("doc_id", F.explode("sh_set").alias("sh"))
        .collect()
    }
    exp = {
        (r.key, r.sh)
        for r in shingles(table(spark, SF, "documents"), "doc_id").collect()
    }
    assert got == exp
    # n_sh is the exact distinct-shingle count (the `sizes` twin)
    sizes = {
        r.doc_id: r.n_sh for r in _shingle_sets(spark, SF).select("doc_id", "n_sh").collect()
    }
    from collections import Counter

    exp_sizes = Counter(d for d, _ in exp)
    assert sizes == dict(exp_sizes)


def test_minhash_sig_cols_parity_with_minhash_signatures(spark):
    """The map-side `_minhash_sig_cols` signature must equal the
    operator-layer `minhash_signatures` (same md5('d|'||sh) slice family,
    min over the same distinct shingle set) on the fixture corpus."""
    from pumle_spark.operators.dedup import minhash_signatures, shingles
    from pumle_spark.tables import table
    from pumle_spark.workload.dedup import _N_HASHES, _minhash_sig_cols, _shingle_sets

    import pyspark.sql.functions as F

    map_side = {
        r.key: tuple(r[f"mh{s}"] for s in range(_N_HASHES))
        for r in _shingle_sets(spark, SF)
        .select("doc_id", *_minhash_sig_cols("sh_set", _N_HASHES))
        .select(
            F.col("doc_id").alias("key"),
            *[F.col(f"_dig{s // 4}.mh{s}").alias(f"mh{s}") for s in range(_N_HASHES)],
        )
        .collect()
    }
    op = {
        r.key: tuple(r[f"mh{s}"] for s in range(_N_HASHES))
        for r in minhash_signatures(
            shingles(table(spark, SF, "documents"), "doc_id"), n_hashes=_N_HASHES
        ).collect()
    }
    assert map_side == op


def test_connected_components_rejects_non_numeric_keys(spark):
    """SUM(comp) is the convergence observable; over a non-numeric key
    column it would be NULL every round and the loop would silently stop
    after one job. The operator must refuse instead (r11 ADVICE)."""
    from pumle_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "key_a string, key_b string"
    )
    with pytest.raises(TypeError, match="numeric"):
        connected_components(pairs)


def test_connected_components_numeric_keys_still_converge(spark):
    from pumle_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "key_a bigint, key_b bigint"
    )
    comp = {r.key: r.comp for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_bloom_membership_plan_shape(spark):
    """r12 rewrite: the k=3 probe lookups ride ONE single-row broadcast map
    (element_at), not three BroadcastHashJoins behind a checkpoint barrier.
    The only hash join left is the ground-truth membership join."""
    from pumle_spark.workload.sketches import sketch_bloom_membership

    plan = (
        sketch_bloom_membership(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 1  # ground truth only
    assert "ExistingRDD" not in plan  # no localCheckpoint barrier
    assert "element_at" in plan


def test_hll_setops_plan_shape(spark):
    """r12 rewrite: one orders scan, no checkpoint barrier; the register
    stack and the exact counts share the per-bucket rollup (ReusedExchange
    or a shared subtree, never a second scan)."""
    from pumle_spark.workload.sketches import sketch_hll_setops

    plan = (
        sketch_hll_setops(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    # no localCheckpoint barrier: the only ExistingRDD allowed is the
    # 256-row linear-counting literal table (columns v, lc_est) — the r11
    # shape's checkpointed (tag, k) relation must be gone
    assert "Scan ExistingRDD[tag" not in plan
    # every branch reads the SAME pushed-filter orders rollup — the pre-
    # execution AQE plan prints one copy per consumer (three) and reuses the
    # stage at runtime; no other table may appear, and a fourth copy means
    # a branch re-scans orders
    assert "lineitem" not in plan and "customer" not in plan
    assert plan.count("FileScan parquet") == 3
    assert plan.count("orders.parquet]") == 3


def test_q4_prefilter_pushdown(spark):
    """r12: the lineitem witness prefilter must reach the parquet scan."""
    from pumle_spark.workload.relational import q4_order_priority

    plan = (
        q4_order_priority(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan
    # the lineitem scan carries the shipdate witness bound
    assert "GreaterThan(l_shipdate" in plan
