"""Embedding-vector column expressions shared by the similarity operators
and the registered queries. Pure column expressions: importing this module
loads no pandas."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def as_double(col: str) -> Column:
    """float[] → double[], so both engines accumulate in f64."""
    return F.transform(F.col(col), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-width double arrays, summed left to right."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
