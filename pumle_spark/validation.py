"""Constraint validation (SURVEY §2.10): the pandera BASE_SCHEMA
(reference metadata.py:30-59) as column-expression checks.

A check is (name, Column[boolean]); ``validate`` evaluates ALL checks in one
pass and splits the input into (valid, violations) — violations carry the
array of failed check names. ``fail_fast`` mirrors pandera raising on the
first invalid frame (metadata.py:252-255) but still reports every failed
check, not just the first.

One scan, no UDFs: N checks become one projected boolean array, so
validation cost is independent of check count at the shuffle level and the
whole thing stays inside whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

Check = tuple[str, Column]


def regex_check(col: str, pattern: str) -> Check:
    """metadata.py:32 — e.g. sim_id ~ ^\\d+$."""
    return (f"{col}~regex", F.col(col).rlike(pattern))


def gt(col: str, v: float) -> Check:
    return (f"{col}>{v}", F.col(col) > v)


def ge(col: str, v: float) -> Check:
    return (f"{col}>={v}", F.col(col) >= v)


def in_range(col: str, lo: float, hi: float) -> Check:
    return (f"{col}in[{lo},{hi}]", F.col(col).between(lo, hi))


def not_null(col: str) -> Check:
    return (f"{col}notnull", F.col(col).isNotNull())


def isin(col: str, values: tuple) -> Check:
    return (f"{col}isin", F.col(col).isin(*values))


class ValidationError(ValueError):
    def __init__(self, n_bad: int, sample: list):
        self.n_bad = n_bad
        self.sample = sample
        super().__init__(f"{n_bad} rows failed validation; sample: {sample[:5]}")


def with_violations(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Adds a `violations` array column of failed check names (NULL check
    result counts as failed, matching pandera's null handling)."""
    # concat of per-check singleton-or-empty arrays, not array_compact: the
    # latter is a filter() lambda, which drops the projection out of
    # whole-stage codegen
    empty = F.array().cast("array<string>")
    arr = F.concat(
        empty,
        *[
            F.when(F.coalesce(cond, F.lit(False)), empty).otherwise(F.array(F.lit(name)))
            for name, cond in checks
        ],
    )
    return df.withColumn("violations", arr)


def validate(df: DataFrame, checks: list[Check], fail_fast: bool = False):
    """→ (valid_df, violations_df); fail_fast raises if any row violates."""
    flagged = with_violations(df, checks)
    valid = flagged.filter(F.size("violations") == 0).drop("violations")
    bad = flagged.filter(F.size("violations") > 0)
    if fail_fast:
        sample = bad.select("violations").limit(5).collect()
        if sample:
            raise ValidationError(bad.count(), [r.violations for r in sample])
    return valid, bad


# The reference's BASE_SCHEMA (metadata.py:30-59) for flattened metadata rows
def base_metadata_checks() -> list[Check]:
    return [
        regex_check("sim_id", r"^\d+$"),
        gt("fluid__pres_ref", 0),
        gt("fluid__temp_ref", 0),
        gt("fluid__cp_rock", 0),
        in_range("fluid__srw", 0, 1),
        in_range("fluid__src", 0, 1),
        gt("fluid__pe", 0),
        ge("fluid__xnacl", 0),
        gt("fluid__rho_h2o", 0),
        in_range("initial_conditions__sw_0", 0, 1),
    ]


def observed_counts(df: DataFrame, checks: list[Check], name: str = "validation"):
    """Piggyback validation TELEMETRY on whatever action consumes ``df``:
    returns (df, observation) where the observation collects total rows and
    per-check violation counts as query metrics — ZERO extra scans (the
    metrics ride the existing job, unlike validate()'s own action). The
    production shape for continuous pipelines: write the batch AND get its
    quality counters from the same pass.

    ``observation.get`` blocks until the first action on the returned
    DataFrame completes; keys are 'n_rows' and 'bad_<check name>'.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(~cond, 1).otherwise(0)).alias(f"bad_{cname}")
        for cname, cond in checks
    ]
    return df.observe(obs, *metrics), obs
