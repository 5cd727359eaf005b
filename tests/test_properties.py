"""Property-based tests (SURVEY §5.2 item 4): invariants that must hold for
arbitrary inputs, not just fixtures. Driver-side properties run hypothesis
directly; Spark-backed ones batch the generated cases through one plan per
test to keep JVM round trips sane."""

from __future__ import annotations

import hashlib
import json
import random

import pyspark.sql.functions as F
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pumle_spark.functions.hashing import params_to_filename_string, sim_hash

finite_floats = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)
param_dicts = st.dictionaries(
    st.text(st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_"), min_size=1, max_size=12),
    finite_floats,
    min_size=1,
    max_size=8,
)

# -- F1: hash invariants ----------------------------------------------------


@given(param_dicts)
@settings(max_examples=200, deadline=None)
def test_hash_reference_parity_arbitrary_dicts(d):
    want = hashlib.md5(json.dumps(d, sort_keys=True).encode()).hexdigest()[:8]
    assert sim_hash(d) == want


@given(param_dicts, st.randoms())
@settings(max_examples=100, deadline=None)
def test_hash_key_order_invariance(d, rnd):
    items = list(d.items())
    rnd.shuffle(items)
    assert sim_hash(dict(items)) == sim_hash(d)


@given(param_dicts, param_dicts)
@example({"0": 0.0}, {"0": -0.0})
@settings(max_examples=100, deadline=None)
def test_distinct_params_distinct_hash(d1, d2):
    # cache-hit correctness: equal hash inputs ⇔ equal hashes. The hash input
    # is the canonical JSON, not Python equality: {"0": 0.0} == {"0": -0.0},
    # yet the reference hashes "0.0" and "-0.0" apart, and so must sim_hash.
    k1 = json.dumps(d1, sort_keys=True)
    k2 = json.dumps(d2, sort_keys=True)
    assert sim_hash(d1) == sim_hash(d1)  # determinism
    if k1 == k2:
        assert sim_hash(d1) == sim_hash(d2)
    else:
        # an 8-hex md5 collision is ~2**-32 per pair: out of hypothesis' reach
        assert sim_hash(d1) != sim_hash(d2)


# -- F2: filename encoding --------------------------------------------------


@given(st.dictionaries(st.sampled_from(["a", "b", "pres_ref", "XNaCl"]), finite_floats, min_size=1))
@settings(max_examples=100, deadline=None)
def test_filename_sorted_capped_sanitized(d):
    s = params_to_filename_string(d)
    assert len(s) <= 100
    assert all(c.isalnum() or c in "_-" for c in s)
    # sorted-key prefix property: first key in the string is the min key
    first_key = sorted(d)[0]
    assert s.startswith(f"{first_key}_")


# -- F12: F-order round trip (Spark-backed, one plan) -----------------------


def test_forder_roundtrip_property(spark):
    rng = random.Random(99)
    dims = [(rng.randint(1, 90), rng.randint(1, 60), rng.randint(1, 25)) for _ in range(12)]
    from pumle_spark.functions.grid import cell_id_expr, ijk_exprs

    for ni, nj, nk in dims:
        n = ni * nj * nk
        step = max(1, n // 500)
        cells = spark.range(0, n, step).select(F.col("id").alias("cell_id"))
        i, j, k = ijk_exprs(F.col("cell_id"), ni, nj)
        rt = cells.select("cell_id", cell_id_expr(i, j, k, ni, nj).alias("rt"))
        assert rt.filter(F.col("cell_id") != F.col("rt")).count() == 0, (ni, nj, nk)


# -- as-of join vs brute force (randomized) ---------------------------------


def test_asof_join_matches_bruteforce_randomized(spark):
    from pumle_spark.operators.joins import asof_join

    rng = random.Random(1234)
    left_rows = [(f"k{rng.randint(0, 5)}", rng.randint(0, 1000), li) for li in range(120)]
    right_rows = [(f"k{rng.randint(0, 5)}", rng.randint(0, 1000) , ri) for ri in range(80)]
    # dedupe right to one row per (key, ts): keep max rid — deterministic
    best = {}
    for k, t, ri in right_rows:
        best[(k, t)] = max(best.get((k, t), -1), ri)
    right_rows = [(k, t, ri) for (k, t), ri in best.items()]

    left = spark.createDataFrame(left_rows, "k string, t long, lid int")
    right = spark.createDataFrame(right_rows, "k string, t long, rid int")
    out = asof_join(left, right, ["k"], "t", "t", ["rid"])
    got = {(r.k, r.t, r.lid): r.rid for r in out.collect()}

    assert len(got) == len(left_rows)
    for k, t, lid in left_rows:
        cands = [(rt, rid) for rk, rt, rid in right_rows if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[(k, t, lid)] == want, (k, t, lid)
