"""Driver-side constant tables as JVM-local relations.

``spark.createDataFrame(<list>, <ddl>)`` pickles its rows into a Python RDD:
the plan is a ``Scan ExistingRDD`` and every action on it starts Python
worker tasks, even for zero rows. Handing Spark an Arrow table instead
plans a ``LocalTableScan`` (no pickling, no Python tasks), whether or not
``spark.sql.execution.arrow.pyspark.enabled`` is set.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def arrow_table(rows: Iterable[Sequence], schema: StructType) -> pa.Table:
    """``rows`` (tuples in ``schema`` order) as an Arrow table of
    ``schema``'s Arrow form."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows))
    if not columns:
        return arrow_schema.empty_table()
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A small constant table (``rows`` are tuples in ``schema`` order, which
    is a StructType or a DDL string) as a ``LocalTableScan``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
