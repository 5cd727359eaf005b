"""Multi-dimensional data layout: Z-order (Morton) clustering.

A 100 TB table answers selective multi-column predicates through file/row-group
skipping: the scan reads only chunks whose min/max statistics overlap the
predicate box. A layout sorted on ONE column gives perfect stats on that
column and useless stats on every other; interleaving the bits of two (or
more) bucketized columns — the Z-order curve — makes chunks compact in ALL
interleaved dimensions at once, so a (custkey range × date range) box query
skips most of the table instead of scanning it.

The reference's only layout decision is one directory per simulation hash
(`/root/reference/simulation.cpp:104-120` discovers `staging_*` dirs); this
module is the engine's scale-path generalization, same family as the
`sim_hash`-partitioned golden store (SURVEY.md §4).

Everything is integer column arithmetic — bucketize to 2^bits cells per
dimension, interleave bits with shift/mask expressions — so the key is
deterministic, engine-portable (the SQL transcription lives in
`workload/layout.py`), and costs one narrow BIGINT per row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

DEFAULT_BITS = 8  # 256 buckets per dimension → 16-bit z-key for 2 dims

# Range-exchange sampling: Spark seeds it from the RDD id, so with the
# default 100 points per partition the file boundaries (and how well the
# files prune) shift with whatever ran earlier in the session. Spark caps
# the total sample at 1e6 points; asking for that cap samples every row of
# an input of up to ~1e6 rows, so its boundaries are exact and repeatable.
_SAMPLE_CONF = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
_SAMPLE_POINTS = 1_000_000


def bucketize(col: Column, cmin: Column, cmax: Column, bits: int = DEFAULT_BITS) -> Column:
    """Map a value with known [cmin, cmax] bounds onto 0..2^bits-1 with pure
    integer arithmetic: bucket = (v - min) * 2^bits DIV (max - min + 1).
    The division operand is exactly divisible (scaled - scaled % span), so
    the double `/` is exact and the result deterministic across engines —
    DuckDB transcribes it as plain integer `//`."""
    n = F.lit(1 << bits).cast("long")
    span = (cmax - cmin + F.lit(1)).cast("long")
    scaled = (col - cmin).cast("long") * n
    return ((scaled - scaled % span) / span).cast("long")


def zorder_key(xb: Column, yb: Column, bits: int = DEFAULT_BITS) -> Column:
    """Morton-interleave two pre-bucketized non-negative ints: bit i of x
    lands at position 2i, bit i of y at 2i+1. Unrolled at plan-build time
    into `bits` shift/mask terms per dimension — a constant-size expression
    tree, no UDF, whole-stage-codegen friendly."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftright(xb.cast("long"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
        terms.append(F.shiftright(yb.cast("long"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = DEFAULT_BITS,
    n_files: int = 8,
) -> None:
    """Write `df` clustered on the Z-curve of (x, y): bucketize both columns
    against their observed bounds, derive the Morton key, range-partition and
    sort by it, drop the helper column. Each output file (and row group)
    then covers a compact rectangle of (x, y) space, which is what makes
    min/max pruning effective for 2-D box predicates — measured in
    tests/test_layout.py by counting overlapping row groups vs a
    single-column sort of the same data."""
    bounds = df.select(
        F.min(x).alias("xmin"), F.max(x).alias("xmax"),
        F.min(y).alias("ymin"), F.max(y).alias("ymax"),
    )
    with_key = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "_zkey",
            zorder_key(
                bucketize(F.col(x), F.col("xmin"), F.col("xmax"), bits),
                bucketize(F.col(y), F.col("ymin"), F.col("ymax"), bits),
                bits,
            ),
        )
        .drop("xmin", "xmax", "ymin", "ymax")
    )
    spark = df.sparkSession
    old = spark.conf.get(_SAMPLE_CONF)
    spark.conf.set(_SAMPLE_CONF, str(-(-_SAMPLE_POINTS // n_files)))
    try:
        (
            with_key.repartitionByRange(n_files, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.conf.set(_SAMPLE_CONF, old)


def hilbert_key(xb: str, yb: str, bits: int = DEFAULT_BITS) -> Column:
    """Hilbert-curve index of two pre-bucketized non-negative ints — the
    classic xy2d quadrant walk (the Wikipedia/Hamilton formulation): per
    level s=2^k (high to low) the quadrant id (3·rx)⊕ry scales by s², then
    the frame reflects/swaps for the next level. Unlike the Morton
    interleave, consecutive Hilbert indices are ALWAYS grid neighbors (no
    quadrant-boundary jumps), so equal-size files cut from the sorted
    order get tighter bounding boxes — measured by
    workload/layout.py:layout_curve_locality.

    Implementation note (the Catalyst let-binding lesson): unrolling the
    level loop into nested CASE columns references each level's (x, y)
    twice per successor, which ProjectCollapse substitutes textually —
    a 4^bits expression tree that OOMs the planner at bits=8. The walk is
    therefore ONE `aggregate()` fold over sequence(bits-1..0) with a
    struct accumulator: lambda variables bind per step at runtime, the
    expression stays O(1) in size, and the 8-step loop runs per row
    inside codegen. The DuckDB oracle mirrors it as a chain of per-level
    CTE projections (name references, not substitution)."""
    n = 1 << bits
    body = f"""
    aggregate(
      sequence({bits - 1}, 0, -1),
      named_struct('x', CAST(({{x}}) AS BIGINT),
                   'y', CAST(({{y}}) AS BIGINT),
                   'd', CAST(0 AS BIGINT)),
      (a, k) -> named_struct(
        'x', CASE WHEN ((a.y >> k) & 1) = 0
                  THEN CASE WHEN ((a.x >> k) & 1) = 1
                            THEN CAST({n - 1} AS BIGINT) - a.y ELSE a.y END
                  ELSE a.x END,
        'y', CASE WHEN ((a.y >> k) & 1) = 0
                  THEN CASE WHEN ((a.x >> k) & 1) = 1
                            THEN CAST({n - 1} AS BIGINT) - a.x ELSE a.x END
                  ELSE a.y END,
        'd', a.d + shiftleft(CAST(1 AS BIGINT), 2 * k) * CASE
               WHEN ((a.x >> k) & 1) = 1 AND ((a.y >> k) & 1) = 0 THEN 3
               WHEN ((a.x >> k) & 1) = 1 AND ((a.y >> k) & 1) = 1 THEN 2
               WHEN ((a.x >> k) & 1) = 0 AND ((a.y >> k) & 1) = 1 THEN 1
               ELSE 0 END),
      a -> a.d
    )"""
    return F.expr(body.format(x=xb, y=yb)).cast("long")
