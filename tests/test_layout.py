"""Z-order layout: prove the pruning claim with parquet chunk statistics,
not timings. A layout sorted on one column has useless min/max stats on the
other; the Morton layout keeps BOTH dimensions compact per file, so a
selective predicate on EITHER dimension overlaps only a fraction of the
chunks. Deterministic: counts row-group stat overlaps, no clocks."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from pumle_spark.layout import write_zordered

SF = "/root/testdata/sf0.01"
N_FILES = 16


def _overlapping_files(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(files whose [min,max] for col overlaps [lo,hi], total files)."""
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    hit = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            rgmd = md.row_group(rg)
            for ci in range(rgmd.num_columns):
                c = rgmd.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        assert fmin is not None, f"no stats for {col} in {f}"
        if not (fmax < lo or fmin > hi):
            hit += 1
    return hit, len(files)


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("o_day"))
        .withColumn("o_day_int", F.datediff("o_day", F.lit("1970-01-01").cast("date")))
        .drop("o_day")
    )
    zpath = str(tmp_path / "orders_z")
    spath = str(tmp_path / "orders_custkey_sorted")

    write_zordered(orders, zpath, x="o_custkey", y="o_day_int", n_files=N_FILES)
    (
        orders.repartitionByRange(N_FILES, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    stats = orders.select(
        F.min("o_custkey"), F.max("o_custkey"), F.min("o_day_int"), F.max("o_day_int")
    ).first()
    ck_lo, ck_hi, d_lo, d_hi = stats

    # probe boxes: ~1/8 of each dimension's range
    ck_span = (ck_hi - ck_lo) // 8
    d_span = (d_hi - d_lo) // 8
    ck_box = (ck_lo + ck_span, ck_lo + 2 * ck_span)
    d_box = (d_lo + d_span, d_lo + 2 * d_span)

    # date-only predicate: custkey-sorted layout cannot prune at all
    z_hit_d, z_n = _overlapping_files(zpath, "o_day_int", *d_box)
    s_hit_d, s_n = _overlapping_files(spath, "o_day_int", *d_box)
    assert s_hit_d == s_n  # single-column sort reads EVERY file
    assert z_hit_d <= z_n // 2  # z-order skips at least half

    # custkey-only predicate: both layouts prune (sorted one near-perfectly,
    # z-order still substantially)
    z_hit_c, _ = _overlapping_files(zpath, "o_custkey", *ck_box)
    s_hit_c, _ = _overlapping_files(spath, "o_custkey", *ck_box)
    assert s_hit_c <= max(2, s_n // 4)
    assert z_hit_c <= z_n // 2

    # correctness: both layouts hold the same rows
    a = spark.read.parquet(zpath).orderBy("o_orderkey").collect()
    b = spark.read.parquet(spath).orderBy("o_orderkey").collect()
    assert a == b


def test_zorder_files_do_not_depend_on_session_history(spark, tmp_path):
    """Spark seeds range-exchange sampling from the RDD id, so sampled file
    boundaries move with whatever ran before; write_zordered's exact
    boundaries must not."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_custkey")

    def file_ranges(path: str) -> list[tuple[int, int]]:
        return sorted(
            (r["lo"], r["hi"])
            for r in spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
            .collect()
        )

    runs = []
    for i in range(2):
        spark.range(1).rdd.count()  # moves the next RDD ids
        write_zordered(orders, str(tmp_path / f"z{i}"), x="o_orderkey", y="o_custkey", n_files=8)
        runs.append(file_ranges(str(tmp_path / f"z{i}")))
    assert runs[0] == runs[1]


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key removes the Exchange from the
    join plan entirely — the co-located-join story a 100 TB warehouse is
    built on. Asserted on the PLAN (no shuffle on either join input), and
    on result parity with the plain shuffled join."""
    import uuid

    wh = f"bkt_{uuid.uuid4().hex[:8]}"
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lines = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    try:
        for df, name, key in (
            (orders, f"{wh}_orders", "o_orderkey"),
            (lines, f"{wh}_lineitem", "l_orderkey"),
        ):
            (
                df.write.format("parquet")
                .bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(name)
            )
        bo = spark.table(f"{wh}_orders")
        bl = spark.table(f"{wh}_lineitem")
        # disable broadcast so the join strategy is actually exercised
        joined = (
            bo.hint("merge")
            .join(bl, bo.o_orderkey == bl.l_orderkey)
            .groupBy("o_custkey")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the ONLY exchange allowed is the post-join groupBy shuffle;
        # neither join INPUT may re-shuffle (bucketing already co-locates)
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        got = {(r.o_custkey, round(r.rev, 2)) for r in joined.collect()}
        want = {
            (r.o_custkey, round(r.rev, 2))
            for r in orders.join(lines, orders.o_orderkey == lines.l_orderkey)
            .groupBy("o_custkey")
            .agg(F.sum("l_extendedprice").alias("rev"))
            .collect()
        }
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {wh}_orders")
        spark.sql(f"DROP TABLE IF EXISTS {wh}_lineitem")
