"""Driver-gated query for the Z-order layout key (`pumle_spark/layout.py`).

The key computation is registered as a workload query so the Morton
interleave — the part that decides which rows co-locate — is cross-engine
hash-verified; the *effect* of the layout (row-group pruning for 2-D box
predicates) is measured deterministically in tests/test_layout.py by
counting overlapping row groups against a single-column sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.layout import DEFAULT_BITS, bucketize, zorder_key
from pumle_spark.tables import table
from pumle_spark.workload import register

_BITS = DEFAULT_BITS
_EPOCH = "1970-01-01"


def _sql_zorder_terms(xb: str, yb: str) -> str:
    terms = []
    for i in range(_BITS):
        terms.append(f"(({xb} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({yb} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "layout_zorder_orders",
    sql=f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey,
             date_diff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE)) AS dday
      FROM orders
    ),
    bounds AS (
      SELECT MIN(o_custkey) AS xmin, MAX(o_custkey) AS xmax,
             MIN(dday) AS ymin, MAX(dday) AS ymax
      FROM src
    ),
    bucketed AS (
      SELECT s.o_orderkey,
             ((s.o_custkey - b.xmin) * {1 << _BITS}) // (b.xmax - b.xmin + 1) AS xb,
             ((s.dday - b.ymin) * {1 << _BITS}) // (b.ymax - b.ymin + 1) AS yb
      FROM src s CROSS JOIN bounds b
    )
    SELECT o_orderkey, xb, yb,
           CAST({_sql_zorder_terms("xb", "yb")} AS BIGINT) AS zkey
    FROM bucketed
    """,
    tags=("layout", "zorder"),
)
def layout_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key for orders over (customer, order day): both
    dimensions bucketized to 2^{_BITS} cells against their observed bounds
    (single-row broadcast scalar), bits interleaved into one BIGINT sort
    key. Writing the table range-partitioned + sorted on this key is what
    `pumle_spark.layout.write_zordered` does; rows close on the key are
    close in BOTH customer and time, so min/max chunk stats prune 2-D box
    predicates. All arithmetic is integer (bucket = scaled DIV span), hence
    bit-identical in the DuckDB transcription."""
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit(_EPOCH).cast("date")).alias("dday"),
    )
    bounds = src.select(
        F.min("o_custkey").alias("xmin"),
        F.max("o_custkey").alias("xmax"),
        F.min("dday").alias("ymin"),
        F.max("dday").alias("ymax"),
    )
    xb = bucketize(F.col("o_custkey"), F.col("xmin"), F.col("xmax"), _BITS)
    yb = bucketize(F.col("dday").cast("long"), F.col("ymin").cast("long"), F.col("ymax").cast("long"), _BITS)
    return (
        src.crossJoin(F.broadcast(bounds))
        .withColumn("xb", xb)
        .withColumn("yb", yb)
        .select(
            "o_orderkey",
            "xb",
            "yb",
            zorder_key(F.col("xb"), F.col("yb"), _BITS).alias("zkey"),
        )
    )


# --------------------------------------------------------------------------
# zonemap skip-rate simulation (time-clustered vs value-sorted layout)
# --------------------------------------------------------------------------

_ZM_CHUNKS = 80
_ZM_THRESH_C = (10_000_000, 25_000_000, 40_000_000)  # o_totalprice > T, in cents


@register(
    "layout_zonemap_skipping",
    sql=f"""
    WITH rows_c AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             date_trunc('month', o_orderdate) AS mon,
             o_orderkey
      FROM orders
    ),
    tagged AS (
      SELECT 'time'   AS layout,
             CAST(DENSE_RANK() OVER (ORDER BY mon) AS BIGINT) AS chunk, cents
      FROM rows_c
      UNION ALL
      SELECT 'sorted' AS layout,
             CAST(NTILE({_ZM_CHUNKS}) OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS chunk,
             cents
      FROM rows_c
    ),
    zones AS (
      SELECT layout, chunk,
             CAST(COUNT(*) AS BIGINT) AS n_rows, MAX(cents) AS max_c,
             {", ".join(f"CAST(SUM(CASE WHEN cents > {t} THEN 1 ELSE 0 END) AS BIGINT) AS m{i}" for i, t in enumerate(_ZM_THRESH_C))}
      FROM tagged GROUP BY layout, chunk
    ),
    un AS (
      {" UNION ALL ".join(f"SELECT layout, chunk, n_rows, max_c, CAST({t} AS BIGINT) AS threshold_c, m{i} AS n_match FROM zones" for i, t in enumerate(_ZM_THRESH_C))}
    )
    SELECT layout, threshold_c,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN max_c <= threshold_c THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           CAST(SUM(CASE WHEN max_c > threshold_c THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched
    FROM un GROUP BY layout, threshold_c ORDER BY layout, threshold_c
    """,
    tags=("layout", "pruning", "zonemap"),
)
def layout_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonemap (min/max row-group statistics) skip-rate simulation: for
    the predicate o_totalprice > T at three thresholds, how many chunks
    a scan could prune and how many rows it must still read, under two
    physical layouts of the SAME table — 'time' (chunk = ingest month,
    the layout you get for free) vs 'sorted' (chunk = {_ZM_CHUNKS}-way
    NTILE of the value sort, what `pumle_spark.layout.write_zordered`
    produces for 1-D keys). rows_matched is layout-invariant by
    construction — the built-in sanity check — while rows_scanned is the
    cost the layout decides. This quantifies the scan-pruning argument
    the z-order operators make structurally.

    Exactness: prices quantize to integer cents per row; chunk ids,
    zonemap bounds, skip counts, and scan counts are all integers; the
    fixed thresholds are compile-time constants evaluated as conditional
    aggregates (no row x threshold explosion).

    Scale shape: the 'time' chunking is a keyed expression; the 'sorted'
    NTILE is the one global sort — exactly the cost a real re-layout job
    pays once at write time (a production run would range-partition;
    the simulation measures the RESULT, chunk stats, which are
    |chunks|-sized either way). Everything after the per-chunk rollup
    operates on |chunks| x |layouts| rows."""
    rows_c = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        "o_orderkey",
    )
    time_tag = rows_c.select(
        F.lit("time").alias("layout"),
        F.dense_rank().over(Window.orderBy("mon")).cast("bigint").alias("chunk"),
        "cents",
    )
    sort_tag = rows_c.select(
        F.lit("sorted").alias("layout"),
        F.ntile(_ZM_CHUNKS)
        .over(Window.orderBy("cents", "o_orderkey"))
        .cast("bigint")
        .alias("chunk"),
        "cents",
    )
    match_aggs = [
        F.sum(F.when(F.col("cents") > t, 1).otherwise(0)).cast("bigint").alias(f"m{i}")
        for i, t in enumerate(_ZM_THRESH_C)
    ]
    zones = (
        time_tag.unionAll(sort_tag)
        .groupBy("layout", "chunk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("cents").alias("max_c"),
            *match_aggs,
        )
    )
    stack_args = ", ".join(
        f"cast({t} as bigint), m{i}" for i, t in enumerate(_ZM_THRESH_C)
    )
    un = zones.select(
        "layout",
        "n_rows",
        "max_c",
        F.expr(
            f"stack({len(_ZM_THRESH_C)}, {stack_args}) AS (threshold_c, n_match)"
        ),
    )
    return (
        un.groupBy("layout", "threshold_c")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("max_c") <= F.col("threshold_c"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_skipped"),
            F.sum(F.when(F.col("max_c") > F.col("threshold_c"), F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matched"),
        )
        .orderBy("layout", "threshold_c")
    )


# --------------------------------------------------------------------------
# Hilbert-curve layout key + measured Hilbert-vs-Morton locality audit
# --------------------------------------------------------------------------

_FILE_ROWS = 4096  # rows per simulated file in the locality audit


def _sql_hilbert_ctes(src: str) -> str:
    """Per-level CTE chain computing the xy2d walk (hx, hy, hd) from
    `src`(o_orderkey, xb, yb). CTE name references are exactly the
    let-binding the Spark side gets from its aggregate() fold — textual
    substitution of the level recurrence would be a 4^bits expression."""
    ctes = [
        f"h{_BITS} AS (SELECT o_orderkey, xb, yb, CAST(xb AS BIGINT) AS hx,"
        f" CAST(yb AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM {src})"
    ]
    n = 1 << _BITS
    for k in range(_BITS - 1, -1, -1):
        rx = f"((hx >> {k}) & 1)"
        ry = f"((hy >> {k}) & 1)"
        quad = (
            f"CASE WHEN {rx} = 1 AND {ry} = 0 THEN 3"
            f" WHEN {rx} = 1 AND {ry} = 1 THEN 2"
            f" WHEN {rx} = 0 AND {ry} = 1 THEN 1 ELSE 0 END"
        )
        new_x = (
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
            f" THEN {n - 1} - hy ELSE hy END ELSE hx END"
        )
        new_y = (
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
            f" THEN {n - 1} - hx ELSE hx END ELSE hy END"
        )
        ctes.append(
            f"h{k} AS (SELECT o_orderkey, xb, yb, {new_x} AS hx, {new_y} AS hy,"
            f" hd + {1 << (2 * k)} * {quad} AS hd FROM h{k + 1})"
        )
    return ",\n    ".join(ctes)


_SQL_BUCKETED = f"""
    src AS (
      SELECT o_orderkey, o_custkey,
             date_diff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE)) AS dday
      FROM orders
    ),
    bounds AS (
      SELECT MIN(o_custkey) AS xmin, MAX(o_custkey) AS xmax,
             MIN(dday) AS ymin, MAX(dday) AS ymax
      FROM src
    ),
    bucketed AS (
      SELECT s.o_orderkey,
             ((s.o_custkey - b.xmin) * {1 << _BITS}) // (b.xmax - b.xmin + 1) AS xb,
             ((s.dday - b.ymin) * {1 << _BITS}) // (b.ymax - b.ymin + 1) AS yb
      FROM src s CROSS JOIN bounds b
    )"""


@register(
    "layout_hilbert_orders",
    sql=f"""
    WITH {_SQL_BUCKETED},
    {_sql_hilbert_ctes("bucketed")}
    SELECT o_orderkey, xb, yb, CAST(hd AS BIGINT) AS hkey
    FROM h0
    """,
    tags=("layout", "hilbert"),
)
def layout_hilbert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key for orders over (customer, order day)
    — layout_zorder_orders' sibling with the locality-optimal space-
    filling curve: consecutive Hilbert indices are always grid neighbors,
    so equal-size files cut from the sorted order cover tighter boxes
    than the Morton curve's quadrant-jumping order (quantified by
    layout_curve_locality). Same bucketization (observed bounds, 2^{_BITS}
    cells, single-row broadcast scalar); the walk itself is one
    aggregate() fold per row on the Spark side and a per-level CTE chain
    in the oracle — see pumle_spark/layout.py:hilbert_key for why the
    unrolled-CASE form is a planner OOM. All integer, bit-identical."""
    from pumle_spark.layout import hilbert_key

    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit(_EPOCH).cast("date")).alias("dday"),
    )
    bounds = src.select(
        F.min("o_custkey").alias("xmin"),
        F.max("o_custkey").alias("xmax"),
        F.min("dday").alias("ymin"),
        F.max("dday").alias("ymax"),
    )
    xb = bucketize(F.col("o_custkey"), F.col("xmin"), F.col("xmax"), _BITS)
    yb = bucketize(
        F.col("dday").cast("long"), F.col("ymin").cast("long"),
        F.col("ymax").cast("long"), _BITS,
    )
    return (
        src.crossJoin(F.broadcast(bounds))
        .withColumn("xb", xb)
        .withColumn("yb", yb)
        .select("o_orderkey", "xb", "yb", hilbert_key("xb", "yb", _BITS).alias("hkey"))
    )


@register(
    "layout_curve_locality",
    sql=f"""
    WITH {_SQL_BUCKETED},
    {_sql_hilbert_ctes("bucketed")},
    keys AS (
      SELECT o_orderkey, xb, yb,
             CAST({_sql_zorder_terms("xb", "yb")} AS BIGINT) AS zkey,
             CAST(hd AS BIGINT) AS hkey
      FROM h0
    ),
    files AS (
      SELECT 'hilbert' AS curve,
             (ROW_NUMBER() OVER (ORDER BY hkey, o_orderkey) - 1) // {_FILE_ROWS} AS f,
             xb, yb
      FROM keys
      UNION ALL
      SELECT 'zorder' AS curve,
             (ROW_NUMBER() OVER (ORDER BY zkey, o_orderkey) - 1) // {_FILE_ROWS} AS f,
             xb, yb
      FROM keys
    ),
    boxes AS (
      SELECT curve, f,
             CAST((MAX(xb) - MIN(xb) + 1) * (MAX(yb) - MIN(yb) + 1) AS BIGINT)
               AS area
      FROM files GROUP BY curve, f
    )
    SELECT curve,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(area) * 1000 // COUNT(*) AS BIGINT) AS mean_box_area_milli,
           CAST(MAX(area) AS BIGINT) AS max_box_area
    FROM boxes GROUP BY curve
    ORDER BY curve
    """,
    tags=("layout", "hilbert", "zorder", "evaluation"),
)
def layout_curve_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured Hilbert-vs-Morton locality: cut the SAME bucketized orders
    into {_FILE_ROWS}-row files along each curve's sort order and compare
    per-file bounding-box areas — the number that decides which clustering
    key a lakehouse write should use (a file's min/max stats prune a 2-D
    box predicate in proportion to how tight its box is; mean box area IS
    the expected scan amplification). The Hilbert row must win or the
    layout module's claim is wrong — asserted in the replay test.

    Exactness: pure integer (bucketized coords, integer areas, milli
    division). The file-ordinal assignment is the layout total-order
    contract (plan_lint class c — production writes range-partition the
    sort, as write_zordered does)."""
    from pumle_spark.layout import hilbert_key

    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit(_EPOCH).cast("date")).alias("dday"),
    )
    bounds = src.select(
        F.min("o_custkey").alias("xmin"),
        F.max("o_custkey").alias("xmax"),
        F.min("dday").alias("ymin"),
        F.max("dday").alias("ymax"),
    )
    keys = (
        src.crossJoin(F.broadcast(bounds))
        .withColumn("xb", bucketize(F.col("o_custkey"), F.col("xmin"), F.col("xmax"), _BITS))
        .withColumn(
            "yb",
            bucketize(
                F.col("dday").cast("long"), F.col("ymin").cast("long"),
                F.col("ymax").cast("long"), _BITS,
            ),
        )
        .select(
            "o_orderkey",
            "xb",
            "yb",
            zorder_key(F.col("xb"), F.col("yb"), _BITS).alias("zkey"),
            hilbert_key("xb", "yb", _BITS).alias("hkey"),
        )
    )
    def cut(key: str, curve: str):
        return keys.select(
            F.lit(curve).alias("curve"),
            F.expr(f"(row_number() OVER (ORDER BY {key}, o_orderkey) - 1)"
                   f" div {_FILE_ROWS}").alias("f"),
            "xb",
            "yb",
        )

    files = cut("hkey", "hilbert").unionAll(cut("zkey", "zorder"))
    boxes = files.groupBy("curve", "f").agg(
        ((F.max("xb") - F.min("xb") + 1) * (F.max("yb") - F.min("yb") + 1))
        .cast("bigint")
        .alias("area")
    )
    return (
        boxes.groupBy("curve")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.expr("sum(area) * 1000 div count(1)")
            .cast("bigint")
            .alias("mean_box_area_milli"),
            F.max("area").cast("bigint").alias("max_box_area"),
        )
        .orderBy("curve")
    )


# --------------------------------------------------------------------------
# per-file bloom indexes vs zonemaps for point predicates
# --------------------------------------------------------------------------

_LBS_FILES = 16       # simulated ingest files (orderkey-ranged, the free layout)
_LBS_BITS = 65536     # bloom bits per file (sized for the sf0.01-0.1 keys/file;
                      # production sizes by NDV like Parquet's writer does)
_LBS_K = 3            # hash functions
_LBS_WORD = 32        # bits per word; masks stay well inside a signed 64-bit lane
_LBS_PROBE_STRIDE = 100  # probe partkeys: p_partkey % stride == 0


def _lbs_pos_sql(pk: str, sk: str, i: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({pk} AS VARCHAR) || '|' || CAST({sk} AS VARCHAR)"
        f" || '|' || {i} || '|lbs'), 1, 8))::BIGINT % {_LBS_BITS}"
    )


@register(
    "layout_bloom_skipping",
    sql=f"""
    WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem),
    mx AS (SELECT MAX(l_orderkey) AS mo FROM li),
    fkeys AS (
      SELECT DISTINCT CAST(l_orderkey // ((mx.mo // {_LBS_FILES}) + 1) AS BIGINT) AS f,
             l_partkey AS pk, l_suppkey AS sk
      FROM li CROSS JOIN mx
    ),
    zone AS (SELECT f, MIN(pk) AS mn, MAX(pk) AS mxk FROM fkeys GROUP BY f),
    words AS (
      SELECT f, pos // {_LBS_WORD} AS w_idx,
             bit_or(1::BIGINT << (pos % {_LBS_WORD})) AS word
      FROM (SELECT f, {_lbs_pos_sql('pk', 'sk', 'r.i')} AS pos
            FROM fkeys CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(_LBS_K))}) r(i))
      GROUP BY f, w_idx
    ),
    ns AS (SELECT GREATEST(MAX(s_suppkey), 1) AS n FROM supplier),
    probes AS (
      SELECT p_partkey AS qpk, ((p_partkey * 7) % ns.n) + 1 AS qsk
      FROM part CROSS JOIN ns
      WHERE p_partkey % {_LBS_PROBE_STRIDE} = 0
    ),
    pbits AS (
      SELECT qpk, qsk, {_lbs_pos_sql('qpk', 'qsk', 'r.i')} AS pos
      FROM probes CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(_LBS_K))}) r(i)
    ),
    pfile AS (
      SELECT pb.qpk, pb.qsk, z.f,
             CAST(MAX(CASE WHEN z.mn <= pb.qpk AND pb.qpk <= z.mxk THEN 1 ELSE 0 END) AS BIGINT)
               AS zm_bit,
             CAST(MAX(CASE WHEN z.mn <= pb.qpk AND pb.qpk <= z.mxk THEN 1 ELSE 0 END)
                  * MIN((COALESCE(w.word, 0) >> (pb.pos % {_LBS_WORD})) & 1) AS BIGINT)
               AS scan_bit
      FROM pbits pb
      CROSS JOIN zone z
      LEFT JOIN words w ON w.f = z.f AND w.w_idx = pb.pos // {_LBS_WORD}
      GROUP BY pb.qpk, pb.qsk, z.f
    ),
    truth AS (
      SELECT p.qpk, p.qsk, k.f
      FROM probes p JOIN fkeys k ON k.pk = p.qpk AND k.sk = p.qsk
    )
    SELECT pf.qpk AS probe_partkey,
           pf.qsk AS probe_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(pf.zm_bit) AS BIGINT) AS zonemap_scan_files,
           CAST(SUM(pf.scan_bit) AS BIGINT) AS bloom_scan_files,
           CAST(SUM(CASE WHEN t.f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_files,
           CAST(SUM(pf.zm_bit) - SUM(pf.scan_bit) AS BIGINT) AS files_saved
    FROM pfile pf
    LEFT JOIN truth t ON t.qpk = pf.qpk AND t.qsk = pf.qsk AND t.f = pf.f
    GROUP BY pf.qpk, pf.qsk
    """,
    tags=("layout", "pruning", "bloom"),
)
def layout_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file bloom-index skipping audit — the data-skipping layer
    zonemaps CANNOT provide. The point lookup is "did supplier S ship part
    P" over orderkey-ranged ingest files: the partkey zonemap brackets
    nearly every file (partkey is uncorrelated with ingest order), while a
    {_LBS_BITS}-bit k={_LBS_K} per-file bloom over (partkey, suppkey)
    pairs — what Parquet column bloom filters give you — is negative for
    almost every (probe, file). A reader consults BOTH: bloom_scan_files
    counts files where zonemap AND bloom say scan, so
    bloom_scan >= true_files always (false positives only) and
    files_saved = zonemap_scan − bloom_scan is the measured win. Probe
    pairs mix present and absent keys ((pk·7) mod |suppliers| + 1), so
    both the hit path and the total-miss path are exercised.

    Exactness: bit positions are md5-derived integers; filters are BIGINT
    bit_or word tables (the sketch_bloom_tuning representation); every
    output is an integer count.

    Scale shape: the file word-tables are mergeable map-side bit_or
    partials keyed (file, word); probes fan out by k={_LBS_K} and cross
    only the FILE-COUNT-sized zone/word tables (broadcast — the
    probe×file product is the audit's output domain, not a data-sized
    join). The only corpus-wide work is the DISTINCT (file, pk, sk)
    projection — one hash-partitioned exchange. Filter sizing is
    per-file-NDV-dependent by nature; at 100 TB the writer sizes m from
    the rowgroup NDV exactly as Parquet's bloom writer does."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    mx = li.agg(F.max("l_orderkey").alias("mo"))
    fkeys = (
        li.crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"CAST(l_orderkey div ((mo div {_LBS_FILES}) + 1) AS BIGINT)").alias("f"),
            F.col("l_partkey").alias("pk"),
            F.col("l_suppkey").alias("sk"),
        )
        .distinct()
    )
    zone = fkeys.groupBy("f").agg(F.min("pk").alias("mn"), F.max("pk").alias("mxk"))

    def _pos(pk_col, sk_col, i_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            pk_col.cast("string"), F.lit("|"), sk_col.cast("string"),
                            F.lit("|"), i_col.cast("string"), F.lit("|lbs"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _LBS_BITS
        )

    ks = F.explode(F.array(*[F.lit(i) for i in range(_LBS_K)])).alias("i")
    words = (
        fkeys.select("f", "pk", "sk", ks)
        .select("f", _pos(F.col("pk"), F.col("sk"), F.col("i")).alias("pos"))
        .groupBy("f", F.expr(f"pos div {_LBS_WORD}").alias("w_idx"))
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_LBS_WORD} AS INT))")
            ).alias("word")
        )
    )
    ns = table(spark, sf_dir, "supplier").agg(F.greatest(F.max("s_suppkey"), F.lit(1)).alias("n"))
    probes = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % _LBS_PROBE_STRIDE == 0)
        .crossJoin(F.broadcast(ns))
        .select(
            F.col("p_partkey").alias("qpk"),
            ((F.col("p_partkey") * 7) % F.col("n") + 1).alias("qsk"),
        )
    )
    pbits = probes.select("qpk", "qsk", ks).select(
        "qpk", "qsk", _pos(F.col("qpk"), F.col("qsk"), F.col("i")).alias("pos")
    )
    zm_bit = F.max(
        F.when((F.col("mn") <= F.col("qpk")) & (F.col("qpk") <= F.col("mxk")), 1).otherwise(0)
    )
    pfile = (
        pbits.crossJoin(F.broadcast(zone))
        .join(
            F.broadcast(words),
            (words["f"] == zone["f"]) & (words["w_idx"] == F.expr(f"pos div {_LBS_WORD}")),
            "left",
        )
        .groupBy("qpk", "qsk", zone["f"])
        .agg(
            zm_bit.cast("bigint").alias("zm_bit"),
            (
                zm_bit
                * F.min(
                    F.expr(
                        f"shiftright(coalesce(word, CAST(0 AS BIGINT)),"
                        f" CAST(pos % {_LBS_WORD} AS INT)) & CAST(1 AS BIGINT)"
                    )
                )
            ).cast("bigint").alias("scan_bit"),
        )
    )
    truth = F.broadcast(probes).join(
        fkeys, (probes["qpk"] == fkeys["pk"]) & (probes["qsk"] == fkeys["sk"])
    ).select(F.col("qpk").alias("t_qpk"), F.col("qsk").alias("t_qsk"), F.col("f").alias("t_f"))
    return (
        pfile.join(
            F.broadcast(truth),
            (F.col("qpk") == F.col("t_qpk")) & (F.col("qsk") == F.col("t_qsk")) & (F.col("f") == F.col("t_f")),
            "left_outer",
        )
        .groupBy(F.col("qpk").alias("probe_partkey"), F.col("qsk").alias("probe_suppkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("zm_bit").cast("bigint").alias("zonemap_scan_files"),
            F.sum("scan_bit").cast("bigint").alias("bloom_scan_files"),
            F.sum(F.when(F.col("t_f").isNotNull(), 1).otherwise(0)).cast("bigint").alias("true_files"),
            (F.sum("zm_bit") - F.sum("scan_bit")).cast("bigint").alias("files_saved"),
        )
    )
