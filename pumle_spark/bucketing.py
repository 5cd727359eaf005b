"""Bucketed tables: shuffle-free co-located joins (SURVEY §4.1 partition/
shuffle strategy; the 100 TB lever for repeated fact⋈fact joins).

A pair of tables bucketed by the same key into the same bucket count joins
with ZERO exchange: each task reads bucket i of both sides. For the golden
store this means golden ⋈ golden across attributes/time never reshuffles
once both sides are bucketed by (sim_hash) — the write pays the shuffle
once, every subsequent join rides it.

Uses the session catalog (saveAsTable) — works with the in-memory catalog +
spark-warehouse directory, no Hive metastore required.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (+sorted) managed table; the one-time shuffle
    that removes every future shuffle on `bucket_cols`."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.format("parquet").saveAsTable(table_name)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With matching
    bucket specs Catalyst plans a SortMergeJoin with NO Exchange on either
    side (verify with plans.assert_no_exchange)."""
    # disable broadcast so the plan demonstrates the bucket-driven SMJ even
    # at test scale; production leaves the threshold to AQE
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table).hint("merge"), on, how)
    )
