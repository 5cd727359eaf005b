"""Hot-key skew: salted_join spreads one hot key over several reducers,
asserted on measured partition-size histograms, not just plan shape."""

from __future__ import annotations

import pyspark.sql.functions as F


def _partition_histogram(df):
    """Rows per output partition of the join stage."""
    rows = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    return {r["_pid"]: r["count"] for r in rows}


def test_salted_join_splits_hot_key_partitions(spark):
    """Stress proof for the 100×-scale claim: with one pathologically hot
    key, the plain shuffle join concentrates every hot row in ONE reducer
    partition while salted_join spreads them across ~n_salts partitions.
    Asserted on measured per-partition row counts (AQE + broadcast disabled
    so the shuffle layout is the one under test)."""
    from pumle_spark.operators.skew import salted_join

    n_hot, n_cold_keys, n_salts = 40_000, 200, 8
    left = spark.range(n_hot).select(F.lit("hot").alias("k"), F.col("id").alias("li")).union(
        spark.range(n_cold_keys).select(
            F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("li")
        )
    )
    right = spark.range(n_cold_keys).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("ri")
    ).union(spark.range(1).select(F.lit("hot").alias("k"), F.col("id").alias("ri")))

    saved = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # enough reducers that distinct (key, salt) values rarely collide — the
    # session default of 4 would fold several salts back into one partition
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        plain_hist = _partition_histogram(left.join(right, "k"))
        salted_hist = _partition_histogram(
            salted_join(left, right, "k", hot_keys=["hot"], n_salts=n_salts)
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    # plain: every hot row hashes to one reducer → max partition ≈ all of them
    assert max(plain_hist.values()) >= n_hot
    # salted: the hot key fans out over n_salts reducers; allow 3× headroom
    # over the ideal n_hot/n_salts split for salt-hash imbalance
    assert max(salted_hist.values()) <= (n_hot // n_salts) * 3
    # and the fan-out actually happened: hot rows occupy >= n_salts/2 partitions
    big = [c for c in salted_hist.values() if c > n_hot // (n_salts * 4)]
    assert len(big) >= n_salts // 2, f"hot key not spread: {sorted(salted_hist.values())}"
