"""§2.10 constraint validation: each check class with passing and violating
rows (SURVEY §5.2 item 5)."""

from __future__ import annotations

import pytest

from pumle_spark.validation import (
    ValidationError,
    gt,
    in_range,
    isin,
    not_null,
    regex_check,
    validate,
)


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [
            ("1", 35.0, 0.11, "pressure"),   # all good
            ("x7", 35.0, 0.11, "pressure"),  # regex fail
            ("3", -1.0, 0.11, "flux"),       # gt fail
            ("4", 35.0, 1.5, None),          # in_range + notnull + isin fail
        ],
        "sim_id string, pres double, srw double, bc string",
    )


def checks():
    # built lazily: Column exprs need an active SparkContext
    return [
        regex_check("sim_id", r"^\d+$"),
        gt("pres", 0),
        in_range("srw", 0, 1),
        not_null("bc"),
        isin("bc", ("pressure", "flux")),
    ]


def test_split_valid_vs_violations(df):
    valid, bad = validate(df, checks())
    assert [r.sim_id for r in valid.collect()] == ["1"]
    viol = {r.sim_id: set(r.violations) for r in bad.collect()}
    assert viol["x7"] == {"sim_id~regex"}
    assert viol["3"] == {"pres>0"}
    assert viol["4"] == {"srwin[0,1]", "bcnotnull", "bcisin"}


def test_fail_fast_raises_with_counts(df):
    with pytest.raises(ValidationError) as exc:
        validate(df, checks(), fail_fast=True)
    assert exc.value.n_bad == 3


def test_all_valid_passes_fail_fast(spark):
    ok = spark.createDataFrame([("1", 1.0, 0.5, "flux")], "sim_id string, pres double, srw double, bc string")
    valid, bad = validate(ok, checks(), fail_fast=True)
    assert valid.count() == 1 and bad.count() == 0


def test_observed_counts_rides_the_write_action(spark, tmp_path):
    """observe()-based telemetry: quality counters arrive from the SAME job
    that writes the batch — no second scan of the input."""
    from pumle_spark.validation import ge, not_null, observed_counts

    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (4, 7.0)], "id long, v double"
    )
    checks = [ge("v", 0.0), not_null("v")]
    out, obs = observed_counts(df, checks)
    out.write.mode("overwrite").parquet(str(tmp_path / "sink"))  # the one action
    got = obs.get
    assert got["n_rows"] == 4
    assert got["bad_v>=0.0"] == 1  # the -3.0 row (NULL comparison is not a failure here)
    assert got["bad_vnotnull"] == 1


def test_base_metadata_checks_on_a_sweep(spark):
    """The reference BASE_SCHEMA (metadata.py:30-59) over flattened sweep
    metadata: a valid sweep passes fail-fast; one row pushed out of range
    fails it, and the error names the failed check."""
    import pyspark.sql.functions as F

    from pumle_spark.exports import flatten_metadata
    from pumle_spark.sweep import VariedParam, generate_variations
    from pumle_spark.validation import base_metadata_checks

    base = {
        "pres_ref": 35.0, "temp_ref": 95.15, "cp_rock": 4e-05, "srw": 0.11, "src": 0.21,
        "pe": 5.0, "XNaCl": 0.1, "rho_h2o": 1000.0, "sw_0": 1.0,
    }
    sections = {
        "Fluid": ["pres_ref", "temp_ref", "cp_rock", "srw", "src", "pe", "XNaCl", "rho_h2o"],
        "Initial Conditions": ["sw_0"],
    }
    varied = [VariedParam("pres_ref", 35.0), VariedParam("srw", 0.11)]
    md = flatten_metadata(generate_variations(spark, base, varied), sections)
    valid, bad = validate(md, base_metadata_checks(), fail_fast=True)
    assert valid.count() == 25 and bad.count() == 0

    off = md.withColumn(
        "fluid__srw", F.when(F.col("sim_id") == "7", 1.5).otherwise(F.col("fluid__srw"))
    )
    with pytest.raises(ValidationError) as exc:
        validate(off, base_metadata_checks(), fail_fast=True)
    assert exc.value.n_bad == 1
    assert exc.value.sample == [["fluid__srwin[0,1]"]]
    assert "fluid__srwin[0,1]" in str(exc.value)
