"""F1/F2 bit-exactness (SURVEY §7.3 hard part #1)."""

from __future__ import annotations

import hashlib
import json
import random

import pyspark.sql.functions as F

from pumle_spark.functions.hashing import params_to_filename_string, sim_hash

BASE_FLUID = {
    "pres_ref": 35.0,
    "temp_ref": 95.15,
    "cp_rock": 4e-05,
    "srw": 0.11,
    "src": 0.21,
    "pe": 5.0,
    "XNaCl": 0.1,
    "rho_h2o": 1000.0,
}


def reference_hash(d: dict) -> str:
    """Stock-Python reference algorithm (utils.py:52-81)."""
    return hashlib.md5(json.dumps(d, sort_keys=True).encode()).hexdigest()[:8]


def test_base_params_hash_matches_reference():
    assert sim_hash(BASE_FLUID) == reference_hash(BASE_FLUID)


def test_hash_is_key_order_invariant():
    shuffled = dict(reversed(list(BASE_FLUID.items())))
    assert sim_hash(shuffled) == sim_hash(BASE_FLUID)


def test_random_param_vectors_hash_parity():
    rng = random.Random(42)
    for _ in range(20):
        d = {k: v * rng.uniform(0.8, 1.2) for k, v in BASE_FLUID.items()}
        assert sim_hash(d) == reference_hash(d)


def test_distributed_sweep_hash_matches_reference(spark):
    """Random parameter vectors through the Spark path: every parameter is
    varied over two random points, and each row's hash is the reference
    algorithm applied to that row's values."""
    from pumle_spark.sweep import VariedParam, generate_variations

    rng = random.Random(43)
    for _ in range(2):
        base = {k: v * rng.uniform(0.8, 1.2) for k, v in BASE_FLUID.items()}
        varied = [VariedParam(k, v, rng.uniform(0.34, 0.9)) for k, v in base.items()]
        rows = generate_variations(spark, base, varied).collect()
        assert len(rows) == 2 ** len(base)
        for r in rows:
            assert r.sim_hash == reference_hash({k: r[k] for k in base})


def test_sweep_hash_renders_floats_like_python(spark):
    # Spark's to_json/cast renders 4e-05 as "4.0E-5"; the sweep's canonical
    # JSON must carry Python's "4e-05" so the md5 input is the reference's.
    from pumle_spark.sweep import VariedParam, generate_variations

    base = {"cp_rock": 4e-05, "pres_ref": 35.0}
    [row] = (
        generate_variations(spark, base, [VariedParam("pres_ref", 35.0, 0.5)])
        .filter(F.col("pres_ref") == 35.0 * 0.5)
        .collect()
    )
    assert spark.range(1).select(F.lit(4e-05).cast("string")).first()[0] != "4e-05"
    assert row.fluid_params == '{"cp_rock": 4e-05, "pres_ref": 17.5}'
    assert row.sim_hash == reference_hash({"cp_rock": 4e-05, "pres_ref": 17.5})


def test_filename_string_format():
    s = params_to_filename_string({"pres_ref": 35.0, "pe": 5.0})
    # floats "%.2e": 3.50e+01 → 3p50e01 ; 5.00e+00 → 5p00e00 (utils.py:219-233)
    assert s == "pe_5p00e00_pres_ref_3p50e01"


def test_filename_string_negative_exponent():
    assert params_to_filename_string({"cp_rock": 4e-05}) == "cp_rock_4p00em05"


def test_filename_nonfloat_values_reference_semantics():
    """utils.py:222-230: only floats use %.2e; other types are str()'d with
    ' '→'_', '/'→'-' then stripped to [alnum_-]."""
    assert params_to_filename_string({"steps": 100}) == "steps_100"
    assert params_to_filename_string({"flag": True}) == "flag_True"
    assert params_to_filename_string({"bc": "pressure type/a b!"}) == "bc_pressure_type-a_b"


def test_filename_whole_part_truncation_and_sentinels():
    """utils.py:232-241: stop at WHOLE parts when the budget is exceeded
    (never mid-token), keep ≥1 part; empty dict → 'no_params'."""
    long = {f"param_{i:02d}": 1.0 for i in range(20)}
    s = params_to_filename_string(long)
    assert len(s) <= 100
    assert s.endswith("1p00e00")  # ends at a part boundary, not mid-token
    # reference-parity check against a stock transcription of the algorithm
    parts, cur = [], 0
    for k in sorted(long):
        part = f"{k}_1p00e00"
        if cur + len(part) + 1 > 100 and parts:
            break
        parts.append(part)
        cur += len(part) + 1
    assert s == "_".join(parts)
    assert params_to_filename_string({}) == "no_params"
    assert params_to_filename_string("nope") == "invalid_params"


def test_filename_expr_matches_python(spark):
    from pumle_spark.functions.hashing import filename_value_expr

    vals = [35.0, 4e-05, 5.0, 0.11, 1000.0, 95.15, -2.5, 1.23e8]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r.e for r in df.select(filename_value_expr(F.col("v")).alias("e")).collect()]
    expected = [f"{v:.2e}".replace(".", "p").replace("+", "").replace("-", "m") for v in vals]
    assert got == expected


def test_filename_expr_whole_part_cap_matches_python(spark):
    """filename_expr now reproduces the reference whole-part truncation
    exactly — property-checked against params_to_filename_string across
    random float vectors, short/long key sets, and tight budgets."""
    import numpy as np

    from pumle_spark.functions.hashing import filename_expr

    rng = np.random.default_rng(99)
    key_sets = [
        [f"param_{i:02d}" for i in range(20)],            # cap hits mid-list
        ["a"],                                            # single part
        ["x" * 120],                                      # first part alone busts budget
        ["sat", "rho_brine", "mu", "p_top", "T_res"],     # realistic, fits fully
    ]
    for keys in key_sets:
        for _ in range(5):
            params = {k: float(v) for k, v in zip(keys, rng.normal(scale=1e4, size=len(keys)))}
            df = spark.range(1)
            expr = filename_expr({k: F.lit(v) for k, v in params.items()})
            got = df.select(expr.alias("s")).first()["s"]
            assert got == params_to_filename_string(params), (keys, params)
    # empty dict sentinel
    assert spark.range(1).select(filename_expr({}).alias("s")).first()["s"] == "no_params"
    # tight budget: only the first part survives even when more would fit at 100
    params = {"alpha": 1.0, "beta": 2.0}
    expr = filename_expr({k: F.lit(v) for k, v in params.items()}, max_length=10)
    got = spark.range(1).select(expr.alias("s")).first()["s"]
    assert got == params_to_filename_string(params, max_length=10)
