"""Physical-plan introspection over DataFrames."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
