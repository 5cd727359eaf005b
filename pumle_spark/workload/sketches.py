"""Probabilistic-sketch operators: HyperLogLog distinct, count-min frequency,
bloom-filter membership.

Sketches are the 100 TB answer to "how many / how often / is it there"
questions that don't need exact answers: a fixed-size summary replaces a
full-cardinality shuffle. The catch for a distributed engine is
determinism — a sketch built from RNG-seeded hashes differs between
engines and reruns. Every sketch here derives its hash bits from md5 of
the key (the repo-wide determinism trick, cf. workload/sampling.py), so a
1000-executor Spark build and the DuckDB oracle produce byte-identical
sketches and therefore identical estimates — the estimates themselves are
hash-compared, not just bounded.

All three are pure JVM expression + groupBy plans: no UDFs, no state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.operators.topk import ranked_topk
from pumle_spark.sources.local import local_frame
from pumle_spark.tables import table
from pumle_spark.workload import register

# ---------------------------------------------------------------------------
# HyperLogLog: m=256 buckets, 32-bit hash window.
#
# bucket = first byte of md5(key); w = next 32 bits; rho = position of the
# leftmost 1-bit of w (1..33, 33 when w=0). Registers M_b = max(rho) per
# bucket. The harmonic-mean estimate sums 2^-M_b over buckets; to keep that
# sum EXACT (a 256-term double sum is order-dependent), each term is scaled
# by 2^33 into an integer: term = 1 << (33 - M), empty bucket term = 2^33.
# The only floating-point step is one final division — deterministic on both
# engines because the operands are identical integers.
# ---------------------------------------------------------------------------

_HLL_M = 256
# alpha_256 * m^2 * 2^33, computed ONCE in python doubles and embedded as
# the identical repr() constant on both engines. It must NOT be written as
# literal arithmetic: DuckDB's `/` promotes to DOUBLE so its fold equals
# the python float bit-for-bit, but Spark parses decimal-point literals as
# DECIMAL and folds `0.7213 / (1.0 + ...)` in decimal arithmetic — one ulp
# off, enough to flip a downstream 3-decimal quantization (the round-10
# sf0.1 sweep caught events_sliding_distinct_hll at exactly such a
# boundary: spark 1281.163 vs duck 1281.162).
_HLL_NUM_VAL = 0.7213 / (1.0 + 1.079 / float(_HLL_M)) * float(_HLL_M * _HLL_M) * 8589934592.0
_HLL_NUM = f"CAST({_HLL_NUM_VAL!r} AS DOUBLE)"

# Small-range (linear-counting) correction: E = m * ln(m / V) when the raw
# harmonic estimate is <= 2.5m and V (empty buckets) > 0. ln() differs
# between libm and the JVM in the last ulp, so it can't appear in an
# oracle-compared expression — but V only takes 256 possible values, so the
# correction ships as a literal lookup table computed once in Python.
# repr() round-trips doubles exactly, so both engines parse the identical
# bit pattern and the CASE/join lookup stays deterministic.
import math as _math

_HLL_LC = [(v, _HLL_M * _math.log(_HLL_M / v)) for v in range(1, _HLL_M + 1)]
_HLL_LC_SQL = ", ".join(f"({v}, {est!r})" for v, est in _HLL_LC)
_HLL_SMALL = 2.5 * _HLL_M


def _hll_registers(tagged: DataFrame) -> DataFrame:
    """(tag, key) -> one register row (tag, bucket, m_reg) per non-empty
    bucket. The second column of `tagged` is the key, any integer/string."""
    key_col = tagged.columns[1]
    key_md5 = F.md5(F.col(key_col).cast("string"))
    hashed = tagged.select(
        "tag",
        F.conv(F.substring(key_md5, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring(key_md5, 3, 8), 16, 10).cast("bigint").alias("w32"),
    )
    # rho = leftmost-1-bit position in the 32-bit window: 33 - bitlength(w).
    # bin() renders the binary digits directly (identical to the oracle's
    # length(bin(w32))); the old conv(cast-to-string, 10, 2) round-tripped
    # every value through a decimal string parse per row (r11, guide §1.2
    # per-task work).
    rho = F.when(F.col("w32") == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(F.col("w32")))
    )
    return hashed.groupBy("tag", "bucket").agg(F.max(rho).alias("m_reg"))



def _q3(col: F.Column) -> F.Column:
    """Quantize a cross-engine-identical double to 3 decimals WITHOUT
    ROUND(): floor(x*1000 + 0.5)/1000 is pure IEEE arithmetic, so doubles
    that are bit-identical on both engines stay identical through it.
    Spark's round() rounds the SHORTEST-DECIMAL-REPR of the double
    (BigDecimal.valueOf) while DuckDB rounds the binary value — at a repr
    boundary (x = ...2.4999999997 printing as "...2.5") they disagree by
    one milli. The round-10 sf0.1 oracle sweep caught exactly that on
    events_sliding_distinct_hll (spark 1333.033 vs duck 1333.032); every
    HLL reporter now quantizes this way on BOTH engines."""
    return F.floor(col * F.lit(1000.0) + F.lit(0.5)) / F.lit(1000.0)


def _hll_estimates(spark: SparkSession, regs: DataFrame) -> DataFrame:
    """registers -> (tag, n_empty_buckets, chosen_est): harmonic estimate
    with exact integer register sums, linear-counting below 2.5m."""
    per_tag = regs.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n_filled"),
        # python shiftleft() only takes a literal bit count, so column shifts go via expr
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 33 - m_reg)")).alias("s_filled"),
    )
    est = per_tag.select(
        "tag",
        (F.lit(_HLL_M) - F.col("n_filled")).cast("bigint").alias("n_empty_buckets"),
        (
            F.expr(_HLL_NUM)
            / (
                F.col("s_filled") + (F.lit(_HLL_M) - F.col("n_filled")) * F.lit(8589934592)
            ).cast("double")
        ).alias("raw_est"),
    )
    lc = local_frame(spark, _HLL_LC, "v bigint, lc_est double")
    return (
        est.join(F.broadcast(lc), est["n_empty_buckets"] == lc["v"], "left")
        .withColumn(
            "chosen_est",
            F.when(
                (F.col("raw_est") <= F.lit(_HLL_SMALL)) & (F.col("n_empty_buckets") > 0),
                F.col("lc_est"),
            ).otherwise(F.col("raw_est")),
        )
        .drop("v", "lc_est", "raw_est")
    )


@register(
    "sketch_hll_distinct",
    sql=f"""
    WITH hashed AS (
      SELECT o_orderstatus AS status,
             ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2))::BIGINT AS bucket,
             ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 3, 8))::BIGINT AS w32
      FROM orders
    ),
    regs AS (
      SELECT status, bucket,
             MAX(CASE WHEN w32 = 0 THEN 33 ELSE 33 - length(bin(w32)) END) AS m_reg
      FROM hashed GROUP BY status, bucket
    ),
    per_status AS (
      SELECT status,
             COUNT(*) AS n_filled,
             SUM(1::BIGINT << (33 - m_reg))::BIGINT AS s_filled
      FROM regs GROUP BY status
    ),
    est AS (
      SELECT status,
             CAST({_HLL_M} - n_filled AS BIGINT) AS n_empty_buckets,
             {_HLL_NUM} / CAST(s_filled + ({_HLL_M} - n_filled) * 8589934592 AS DOUBLE)
               AS raw_est
      FROM per_status
    ),
    corrected AS (
      SELECT e.status, e.n_empty_buckets,
             CASE WHEN e.raw_est <= {_HLL_SMALL!r} AND e.n_empty_buckets > 0
                  THEN lc.lc_est ELSE e.raw_est END AS chosen_est
      FROM est e LEFT JOIN (VALUES {_HLL_LC_SQL}) lc(v, lc_est)
        ON lc.v = e.n_empty_buckets
    ),
    exact AS (
      SELECT o_orderstatus AS status, COUNT(DISTINCT o_custkey) AS exact_distinct
      FROM orders GROUP BY o_orderstatus
    )
    SELECT c.status, x.exact_distinct, c.n_empty_buckets,
           FLOOR((c.chosen_est) * 1000.0 + 0.5) / 1000.0 AS hll_estimate,
           FLOOR((100.0 * (c.chosen_est - x.exact_distinct) / x.exact_distinct)
                 * 1000.0 + 0.5) / 1000.0 AS rel_err_pct
    FROM corrected c JOIN exact x ON c.status = x.status
    ORDER BY c.status
    """,
    tags=("sketch", "hll", "distinct"),
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count estimate (m=256) of customers per order
    status, next to the exact count and the relative error — the sketch
    accuracy is part of the result, not an assertion. Includes the
    standard small-range linear-counting correction (m*ln(m/V)), shipped
    as a 256-entry literal lookup because ln() itself is not
    ulp-identical across engines.

    Scale: the exact COUNT(DISTINCT) shuffles every distinct key; the HLL
    path shuffles at most 256 register rows per group no matter how many
    keys exist — at 100 TB that is the difference between a full-data
    exchange and a few KB. Registers also merge associatively (max per
    bucket), so partial sketches combine map-side. Spark's own
    approx_count_distinct is the production shortcut; this formulation
    exists because its HLL++ seed is engine-private, while md5-derived
    registers are reproducible anywhere — the property the oracle gate
    hash-verifies.
    """
    o = table(spark, sf_dir, "orders")
    # r11 negative result, kept original: a shared distinct-(status,custkey)
    # rollup feeding both branches was tried two ways — eager checkpoint
    # (0.77→0.86 s probe; the barrier outweighs the saved scan) and lazy
    # relying on ReusedExchange (→1.05 s; the exchange is not reused across
    # the differently-shaped branches). Both register and exact paths are
    # already map-side partial aggregates, so the two cheap scans win.
    regs = _hll_registers(o.select(F.col("o_orderstatus").alias("tag"), F.col("o_custkey")))
    corrected = _hll_estimates(spark, regs).withColumnRenamed("tag", "status")
    exact = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return (
        corrected.join(exact, "status")
        .select(
            "status",
            "exact_distinct",
            "n_empty_buckets",
            _q3(F.col("chosen_est")).alias("hll_estimate"),
            _q3(
                100.0 * (F.col("chosen_est") - F.col("exact_distinct")) / F.col("exact_distinct")
            ).alias("rel_err_pct"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Count-min sketch: d=4 rows x w=512 columns over lineitem part frequencies.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 512
_CMS_TOPK = 20


@register(
    "sketch_cms_frequency",
    sql=f"""
    WITH cells AS (
      -- ONE md5 per key; the 128-bit digest is sliced into d=4 independent
      -- 32-bit row hashes (8 hex chars each) instead of re-hashing per row
      SELECT r.i AS row_i,
             ('0x' || substr(md5(CAST(l.l_partkey AS VARCHAR)), 1 + 8 * r.i, 8))::BIGINT
               % {_CMS_W} AS col_j,
             COUNT(*) AS cnt
      FROM lineitem l CROSS JOIN (VALUES (0), (1), (2), (3)) r(i)
      GROUP BY r.i, col_j
    ),
    exact AS (
      SELECT l_partkey, COUNT(*) AS exact_cnt
      FROM lineitem GROUP BY l_partkey
      ORDER BY exact_cnt DESC, l_partkey LIMIT {_CMS_TOPK}
    ),
    probe AS (
      SELECT e.l_partkey, e.exact_cnt, r.i AS row_i,
             ('0x' || substr(md5(CAST(e.l_partkey AS VARCHAR)), 1 + 8 * r.i, 8))::BIGINT
               % {_CMS_W} AS col_j
      FROM exact e CROSS JOIN (VALUES (0), (1), (2), (3)) r(i)
    )
    SELECT p.l_partkey, p.exact_cnt,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_cnt,
           CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overcount
    FROM probe p JOIN cells c ON p.row_i = c.row_i AND p.col_j = c.col_j
    GROUP BY p.l_partkey, p.exact_cnt
    ORDER BY p.exact_cnt DESC, p.l_partkey
    """,
    tags=("sketch", "cms", "frequency"),
)
def sketch_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 x w=512) of part frequencies in lineitem,
    probed at the top-20 exact heavy hitters; reports estimate and
    overcount (CMS never undercounts — a pytest invariant).

    Scale: the sketch is a FIXED d*w = 2048-cell table regardless of input
    size — the build is one groupBy over (row, col) with map-side partial
    counts, and the probe is a broadcast-sized join. Heavy-hitter tracking
    over 100 TB of token/url/partkey streams with bounded memory is
    exactly this shape; compare workload/sampling.py heavy_hitters (exact,
    shuffles every key) for the cost the sketch avoids.
    """
    li = table(spark, sf_dir, "lineitem")

    def entries() -> F.Column:
        # one md5 per key, sliced into d 32-bit row hashes; codegen's
        # common-subexpression elimination computes the digest once
        h = F.md5(F.col("l_partkey").cast("string"))
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        (
                            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint")
                            % _CMS_W
                        ).alias("col_j"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("e")

    # r11 (guide §2.3/§2.4): aggregate lineitem to per-key counts FIRST and
    # derive both the sketch cells (sum of per-key counts per cell — exactly
    # COUNT(*) per cell) and the exact top-k from that one rollup. The
    # before-plan scanned lineitem twice and computed md5 + a 4-way explode
    # per lineitem ROW; now the hash/explode run per DISTINCT key and the
    # two branches share one scan+exchange (ReusedExchange).
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cells = (
        counts.select("exact_cnt", entries())
        .select("e.row_i", "e.col_j", "exact_cnt")
        .groupBy("row_i", "col_j")
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    exact = counts.orderBy(F.desc("exact_cnt"), "l_partkey").limit(_CMS_TOPK)
    probe = exact.select("l_partkey", "exact_cnt", entries()).select(
        "l_partkey", "exact_cnt", "e.row_i", "e.col_j"
    )
    return (
        F.broadcast(probe)
        .join(cells, ["row_i", "col_j"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").alias("cms_cnt"))
        .select(
            "l_partkey",
            "exact_cnt",
            "cms_cnt",
            (F.col("cms_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Bloom filter: m=4096 bits as 128 x 32-bit words, k=3 hashes.
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096
_BLOOM_K = 3
_BLOOM_WORD = 32  # bits per word; masks stay well inside a signed 64-bit lane


def _bloom_pos_sql(i: str) -> str:
    return (
        f"('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#' || {i}), 1, 8))::BIGINT"
        f" % {_BLOOM_BITS}"
    )


@register(
    "sketch_bloom_membership",
    sql=f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    ),
    member_bits AS (
      SELECT ({_bloom_pos_sql('r.i')}) // {_BLOOM_WORD} AS word_idx,
             bit_or(1::BIGINT << (({_bloom_pos_sql('r.i')}) % {_BLOOM_WORD})) AS word
      FROM members CROSS JOIN (VALUES (0), (1), (2)) r(i)
      GROUP BY word_idx
    ),
    probe AS (
      SELECT c.c_custkey, c.c_mktsegment,
             ({_bloom_pos_sql('r.i')}) // {_BLOOM_WORD} AS word_idx,
             ({_bloom_pos_sql('r.i')}) % {_BLOOM_WORD} AS bit_pos
      FROM customer c CROSS JOIN (VALUES (0), (1), (2)) r(i)
    ),
    verdicts AS (
      SELECT p.c_custkey, p.c_mktsegment,
             MIN((COALESCE(b.word, 0) >> p.bit_pos) & 1) AS all_bits,
             MAX(CASE WHEN m.c_custkey IS NULL THEN 0 ELSE 1 END) AS is_member
      FROM probe p
      LEFT JOIN member_bits b ON p.word_idx = b.word_idx
      LEFT JOIN members m ON p.c_custkey = m.c_custkey
      GROUP BY p.c_custkey, p.c_mktsegment
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(is_member) AS BIGINT) AS n_true_members,
           CAST(SUM(all_bits) AS BIGINT) AS n_bloom_positive,
           CAST(SUM(CASE WHEN all_bits = 1 AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positive,
           ROUND(100.0 * SUM(CASE WHEN all_bits = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                 / NULLIF(COUNT(*) - SUM(is_member), 0), 3) AS fpr_pct
    FROM verdicts
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("sketch", "bloom", "membership"),
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (4096 bits, k=3) over customers who ordered in 1995,
    probed by the full customer table; per market segment reports bloom
    positives vs ground truth and the measured false-positive rate
    (never a false negative — a pytest invariant).

    Scale: the filter is 128 words — broadcastable state that stands in
    for the full member set. At 100 TB this is the pre-filter that turns
    a fact-to-fact semi-join into [broadcast bloom probe -> tiny exact
    join on survivors]: the same runtime-filter pattern Spark's own
    bloom-join rule injects, materialized here as an explicit, portable
    operator (the sketch words are engine-neutral integers).
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def pos(i: int, key: F.Column = F.col("c_custkey")) -> F.Column:
        h = F.md5(F.concat(key.cast("string"), F.lit(f"#{i}")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BLOOM_BITS

    # members feeds both the sketch build and the ground-truth join; the
    # pushed-filter orders scan + distinct is cheap enough that recomputing
    # it beats an eager materialization barrier (measured r11: the
    # checkpoint variant was +0.13s from the extra blocking job).
    members = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    bits = members.select(
        F.explode(F.array(*[pos(i) for i in range(_BLOOM_K)])).alias("bit")
    ).select(
        (F.col("bit") / _BLOOM_WORD).cast("bigint").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {_BLOOM_WORD} AS INT))").alias("mask"),
    )
    # r12 (guide §2.4, closing the r11 driver regression): the whole <=128-
    # word sketch collapses to ONE row holding a word_idx -> word map. The
    # r11 shape probed it through THREE BroadcastHashJoins behind an eager
    # checkpoint barrier — three broadcast builds plus a blocking job for a
    # 1 KB sketch (driver-measured 0.64x). A single-row broadcast crossJoin
    # attaches the map to every customer and element_at() reads each probe
    # word map-side: zero joins on the probe path, zero barrier, and the
    # customer side still never shuffles.
    sketch_map = (
        bits.groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word_idx", "word"))
            ).alias("skmap")
        )
    )

    checked = c.select("c_custkey", "c_mktsegment").crossJoin(F.broadcast(sketch_map))
    bit_cols = []
    for i in range(_BLOOM_K):
        p = pos(i)
        checked = checked.withColumn(f"wi{i}", (p / _BLOOM_WORD).cast("bigint")).withColumn(
            f"bp{i}", (p % _BLOOM_WORD).cast("int")
        )
        bit_cols.append(
            F.expr(
                f"shiftright(coalesce(element_at(skmap, wi{i}), CAST(0 AS BIGINT)), bp{i})"
                f" & CAST(1 AS BIGINT)"
            )
        )
    checked = checked.select(
        "c_custkey", "c_mktsegment", F.least(*bit_cols).alias("all_bits")
    )
    verdicts = checked.join(
        members.withColumn("is_member_", F.lit(1)), "c_custkey", "left"
    ).withColumn("is_member", F.coalesce(F.col("is_member_"), F.lit(0)))
    fp = F.when((F.col("all_bits") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
    return (
        verdicts.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("is_member").alias("n_true_members"),
            F.sum("all_bits").alias("n_bloom_positive"),
            F.sum(fp).alias("n_false_positive"),
            F.round(
                100.0
                * F.sum(fp)
                / F.nullif((F.count(F.lit(1)) - F.sum("is_member")).cast("double"), F.lit(0.0)),
                3,
            ).alias("fpr_pct"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# HLL set algebra: union by register max, intersection by inclusion-exclusion.
# ---------------------------------------------------------------------------

_HLL_EST_SQL = f"""
    per_tag AS (
      SELECT tag, COUNT(*) AS n_filled,
             SUM(1::BIGINT << (33 - m_reg))::BIGINT AS s_filled
      FROM regs GROUP BY tag
    ),
    est AS (
      SELECT tag, CAST({_HLL_M} - n_filled AS BIGINT) AS n_empty_buckets,
             {_HLL_NUM} / CAST(s_filled + ({_HLL_M} - n_filled) * 8589934592 AS DOUBLE)
               AS raw_est
      FROM per_tag
    ),
    corrected AS (
      SELECT e.tag,
             CASE WHEN e.raw_est <= {_HLL_SMALL!r} AND e.n_empty_buckets > 0
                  THEN lc.lc_est ELSE e.raw_est END AS chosen_est
      FROM est e LEFT JOIN (VALUES {_HLL_LC_SQL}) lc(v, lc_est)
        ON lc.v = e.n_empty_buckets
    )
"""


@register(
    "sketch_hll_setops",
    sql=f"""
    WITH a_keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    ),
    b_keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    ),
    tagged AS (
      SELECT '1995' AS tag, k FROM a_keys
      UNION ALL SELECT '1996' AS tag, k FROM b_keys
    ),
    hashed AS (
      SELECT tag,
             ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 2))::BIGINT AS bucket,
             ('0x' || substr(md5(CAST(k AS VARCHAR)), 3, 8))::BIGINT AS w32
      FROM tagged
    ),
    regs0 AS (
      SELECT tag, bucket,
             MAX(CASE WHEN w32 = 0 THEN 33 ELSE 33 - length(bin(w32)) END) AS m_reg
      FROM hashed GROUP BY tag, bucket
    ),
    regs AS (
      SELECT tag, bucket, m_reg FROM regs0
      UNION ALL
      SELECT 'union' AS tag, bucket, MAX(m_reg) AS m_reg FROM regs0 GROUP BY bucket
    ),
    {_HLL_EST_SQL},
    ests AS (
      SELECT tag, chosen_est FROM corrected
      UNION ALL
      SELECT 'intersection' AS tag,
             (a.chosen_est + b.chosen_est) - u.chosen_est AS chosen_est
      FROM (SELECT chosen_est FROM corrected WHERE tag = '1995') a,
           (SELECT chosen_est FROM corrected WHERE tag = '1996') b,
           (SELECT chosen_est FROM corrected WHERE tag = 'union') u
    ),
    exact AS (
      SELECT '1995' AS tag, COUNT(*) AS exact_n FROM a_keys
      UNION ALL SELECT '1996', COUNT(*) FROM b_keys
      UNION ALL SELECT 'union', COUNT(DISTINCT k) FROM tagged
      UNION ALL SELECT 'intersection', COUNT(*)
        FROM a_keys JOIN b_keys ON a_keys.k = b_keys.k
    )
    SELECT x.tag AS set_name, CAST(x.exact_n AS BIGINT) AS exact_n,
           FLOOR((e.chosen_est) * 1000.0 + 0.5) / 1000.0 AS hll_n,
           FLOOR((100.0 * (e.chosen_est - x.exact_n) / NULLIF(x.exact_n, 0))
                 * 1000.0 + 0.5) / 1000.0 AS rel_err_pct
    FROM exact x JOIN ests e ON x.tag = e.tag
    ORDER BY set_name
    """,
    tags=("sketch", "hll", "setops"),
)
def sketch_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra over 1995-buyers vs 1996-buyers: per-set estimates,
    a UNION estimate obtained purely by merging registers (elementwise
    max — no re-scan of either input), and an intersection estimate by
    inclusion-exclusion, each next to its exact count.

    This is the property that makes sketches a distributed primitive: the
    union of two 100 TB scans is 256 integer maxes on two prebuilt
    sketches. Cross-set overlap questions (dedup audits, join-cardinality
    estimation before picking a join strategy) run on sketch bytes alone.
    Inclusion-exclusion error compounds — rel_err_pct on the intersection
    row is the honest number.
    """
    o = table(spark, sf_dir, "orders")

    # r12 restructure (guide §2.3/§2.4, closing the r11 driver regression):
    # the r11 shape eagerly checkpointed the distinct (tag, key) union and
    # re-read it for registers, the union-register merge, and the exact
    # counts — the blocking job cost more than the reuse saved at sf0.1
    # (driver 0.73x). Now ONE range-filtered scan rolls up to per-KEY year
    # flags (groupBy k — md5 runs once per distinct buyer, not once per
    # (year, buyer)), and a single 256-row per-bucket aggregation yields the
    # 1995/1996/union registers as conditional maxes PLUS the per-bucket key
    # counts that the exact counts sum — no barrier, no union-merge pass,
    # and value-identical registers (max over the same distinct key sets).
    in95 = F.when(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), 1
    ).otherwise(0)
    per_key = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.max(in95).alias("has95"), F.max(1 - in95).alias("has96"))
    )
    key_md5 = F.md5(F.col("k").cast("string"))
    hashed = per_key.select(
        "has95",
        "has96",
        F.conv(F.substring(key_md5, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring(key_md5, 3, 8), 16, 10).cast("bigint").alias("w32"),
    )
    rho = F.when(F.col("w32") == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(F.col("w32")))
    )
    # <=256 rows; referenced by the register stack AND the exact-count sums,
    # whose identical subtrees share the per-bucket exchange via
    # ReuseExchange — no materialization barrier needed.
    regsall = hashed.groupBy("bucket").agg(
        F.max(F.when(F.col("has95") == 1, rho)).alias("m95"),
        F.max(F.when(F.col("has96") == 1, rho)).alias("m96"),
        F.max(rho).alias("mu"),
        F.sum("has95").alias("c95"),
        F.sum("has96").alias("c96"),
        F.count(F.lit(1)).alias("ck"),
    )
    regs = regsall.select(
        F.expr(
            "stack(3, '1995', m95, '1996', m96, 'union', mu) AS (tag, m_reg)"
        )
    ).filter(F.col("m_reg").isNotNull())
    ests = _hll_estimates(spark, regs).select("tag", "chosen_est")

    def only(tag: str) -> F.Column:
        # singleton pick via conditional agg — no driver-side collect
        return F.sum(F.when(F.col("tag") == tag, F.col("chosen_est")))

    inter_est = (
        ests.agg(((only("1995") + only("1996")) - only("union")).alias("chosen_est"))
        .select(F.lit("intersection").alias("tag"), "chosen_est")
        # scalar agg over an EMPTY ests emits one all-NULL row where the
        # oracle's cross of empty subqueries emits none; never-null on any
        # non-empty input, so this only aligns the empty-relation case
        .filter(F.col("chosen_est").isNotNull())
    )
    all_ests = ests.unionAll(inter_est)
    # All four exact counts from the SAME per-bucket rollup (guide §2.2/
    # §2.4): every key lands in exactly one bucket, so summing the per-
    # bucket key counts gives |1995|, |1996| and |union| exactly, and the
    # intersection follows from |A∩B| = |A| + |B| - |A∪B| (the per-year key
    # sets are distinct by construction, so the oracle's 1:1 a_keys⋈b_keys
    # count is the same number).
    stats = regsall.agg(
        F.coalesce(F.sum("c95"), F.lit(0)).cast("bigint").alias("n95"),
        F.coalesce(F.sum("c96"), F.lit(0)).cast("bigint").alias("n96"),
        F.coalesce(F.sum("ck"), F.lit(0)).cast("bigint").alias("nu"),
    )
    exact = stats.select(
        F.expr(
            "stack(4, '1995', n95, '1996', n96, 'union', nu,"
            " 'intersection', n95 + n96 - nu) AS (tag, exact_n)"
        )
    )
    return (
        exact.join(all_ests, "tag")
        .select(
            F.col("tag").alias("set_name"),
            F.col("exact_n").cast("bigint").alias("exact_n"),
            _q3(F.col("chosen_est")).alias("hll_n"),
            _q3(
                100.0
                * (F.col("chosen_est") - F.col("exact_n"))
                / F.nullif(F.col("exact_n").cast("double"), F.lit(0.0))
            ).alias("rel_err_pct"),
        )
        .orderBy("set_name")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: k=64, 48-bit md5-prefix hashes.
#
# The order-statistics counterpart to HyperLogLog: keep the k smallest hash
# values of the key set; if the k-th smallest of n uniform hashes over
# [0, 2^48) is u_k, then E[n] ≈ (k-1) * 2^48 / u_k. Mergeable (union = k
# smallest of the concatenation), exact below k, and — like every sketch in
# this module — md5-derived so both engines build the identical sketch and
# the ESTIMATE is hash-compared, not just bounded.
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_RANGE = float(16**12)  # 2^48 as the same literal on both engines


@register(
    "sketch_kmv_distinct",
    sql=f"""
    WITH keys AS (
      SELECT DISTINCT o_orderstatus AS status, o_custkey AS k FROM orders
    ),
    h AS (
      SELECT status,
             ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 12))::BIGINT AS u
      FROM keys
    ),
    r AS (
      SELECT status, u,
             ROW_NUMBER() OVER (PARTITION BY status ORDER BY u, status) AS rn,
             COUNT(*) OVER (PARTITION BY status) AS nd
      FROM h
    ),
    sel AS (SELECT status, u, CAST(nd AS BIGINT) AS nd FROM r WHERE rn = LEAST({_KMV_K}, nd))
    SELECT status,
           nd AS exact_distinct,
           ROUND(CASE WHEN nd < {_KMV_K} THEN CAST(nd AS DOUBLE)
                      ELSE {_KMV_K - 1}.0::DOUBLE * {_KMV_RANGE!r}::DOUBLE / u END, 3) AS kmv_estimate,
           ROUND(100.0 * (CASE WHEN nd < {_KMV_K} THEN CAST(nd AS DOUBLE)
                               ELSE {_KMV_K - 1}.0::DOUBLE * {_KMV_RANGE!r}::DOUBLE / u END - nd)
                 / nd, 3) AS rel_err_pct
    FROM sel
    ORDER BY status
    """,
    tags=("sketch", "kmv", "distinct"),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values, k={_KMV_K}) distinct-customer estimate per
    order status, next to the exact count and relative error — the second
    classic distinct sketch beside HLL (`sketch_hll_distinct`), built on
    order statistics instead of register maxima: estimate = (k-1)·2⁴⁸/u_k
    where u_k is the k-th smallest 48-bit md5-prefix hash. Exact when the
    set has fewer than k keys (the estimator degenerates to the count).

    Scale: the sketch is the k smallest hashes per group — a top-k
    (TakeOrdered-shaped) reduction that combines map-side, shuffling at
    most k values per group regardless of input size, and two KMV
    sketches union by re-taking the k smallest of their concatenation.
    md5 hashing makes a 1000-executor build and the DuckDB oracle
    byte-identical (hash compares the ESTIMATES)."""
    o = table(spark, sf_dir, "orders")
    keys = o.select(F.col("o_orderstatus").alias("status"), F.col("o_custkey").alias("k")).distinct()
    h = keys.select(
        "status",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("u"),
    )
    wp = Window.partitionBy("status")
    r = h.select(
        "status",
        "u",
        F.row_number().over(wp.orderBy("u", "status")).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("nd"),
    )
    sel = r.filter(F.col("rn") == F.least(F.lit(_KMV_K), F.col("nd")))
    est = F.when(F.col("nd") < _KMV_K, F.col("nd").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(_KMV_RANGE) / F.col("u")
    )
    return sel.select(
        "status",
        F.col("nd").alias("exact_distinct"),
        F.round(est, 3).alias("kmv_estimate"),
        F.round(100.0 * (est - F.col("nd")) / F.col("nd"), 3).alias("rel_err_pct"),
    )


# --------------------------------------------------------------------------
# KMV corpus-overlap: pairwise source Jaccard from bottom-k signatures
# --------------------------------------------------------------------------

_KJ_K = 128


@register(
    "sketch_kmv_corpus_jaccard",
    sql=f"""
    WITH tok AS (
      SELECT DISTINCT source, unnest(string_split_regex(trim(regexp_replace(
               lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tk
      FROM documents
    ),
    tok2 AS (SELECT source, tk FROM tok WHERE tk <> ''),
    h AS (SELECT source, ('0x' || substr(md5(tk), 1, 12))::BIGINT AS u FROM tok2),
    sig AS (
      SELECT source, u FROM (
        SELECT source, u,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, source) AS rn
        FROM h
      ) WHERE rn <= {_KJ_K}
    ),
    srcs AS (SELECT DISTINCT source FROM tok2),
    pairs AS (SELECT a.source AS sa, b.source AS sb
              FROM srcs a JOIN srcs b ON a.source < b.source),
    merged AS (
      SELECT p.sa, p.sb, s.u FROM pairs p JOIN sig s ON s.source = p.sa
      UNION ALL
      SELECT p.sa, p.sb, s.u FROM pairs p JOIN sig s ON s.source = p.sb
    ),
    g AS (SELECT sa, sb, u, COUNT(*) AS cnt FROM merged GROUP BY sa, sb, u),
    rk AS (SELECT sa, sb, cnt,
                  ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY u, sa) AS rn
           FROM g),
    est AS (
      SELECT sa, sb,
             CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM rk WHERE rn <= {_KJ_K} GROUP BY sa, sb
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM tok2 GROUP BY source),
    inter AS (
      SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS ninter
      FROM tok2 a JOIN tok2 b ON a.tk = b.tk AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT e.sa AS source_a, e.sb AS source_b, e.k_used, e.n_shared,
           ROUND(CAST(e.n_shared AS DOUBLE) / e.k_used, 6) AS jaccard_est,
           ROUND(CAST(COALESCE(i.ninter, 0) AS DOUBLE)
                   / (za.nv + zb.nv - COALESCE(i.ninter, 0)), 6) AS jaccard_exact
    FROM est e
    JOIN sizes za ON za.source = e.sa
    JOIN sizes zb ON zb.source = e.sb
    LEFT JOIN inter i ON i.sa = e.sa AND i.sb = e.sb
    ORDER BY source_a, source_b
    """,
    tags=("sketch", "kmv", "jaccard", "corpus-overlap"),
)
def sketch_kmv_corpus_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources, estimated from
    bottom-{_KJ_K} KMV signatures: for each source pair, take the
    {_KJ_K} smallest hashes of the UNION of their signatures and count how
    many belong to both — an unbiased Jaccard estimate from O(k) state per
    source (Beyer et al.'s KMV set-operation estimator, the order-
    statistics sibling of sketch_hll_setops one section up). The corpus-
    level question it answers — "which sources substantially duplicate
    each other's vocabulary?" — is how a training-data pipeline decides
    which source pairs need cross-source dedup at all.

    The exact per-pair Jaccard rides along for grading (like
    sketch_kmv_distinct's exact_distinct and ann_recall_report's ground-
    truth pass): the token-level self-join is the EXPENSIVE truth path,
    feasible because source count is bounded; the signature path — the
    production path — shuffles only {_KJ_K} hashes per source no matter
    how many tokens a source has, and two signatures union by re-taking
    the k smallest of their concatenation (mergeable, associative,
    partition-invariant). md5 keeps a 1000-executor build byte-identical
    to the DuckDB oracle.
    """
    docs = table(spark, sf_dir, "documents")
    from pumle_spark.workload.text import _tokens_col

    tok2 = (
        docs.select("source", F.explode(_tokens_col()).alias("tk"))
        .filter(F.col("tk") != "")
        .distinct()
    )
    h = tok2.select(
        "source",
        F.conv(F.substring(F.md5("tk"), 1, 12), 16, 10).cast("bigint").alias("u"),
    )
    sig = (
        h.withColumn(
            "rn", F.row_number().over(Window.partitionBy("source").orderBy("u", "source"))
        )
        .filter(F.col("rn") <= _KJ_K)
        .select("source", "u")
    )
    srcs = tok2.select("source").distinct()
    a, b = srcs.alias("a"), srcs.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
    )
    m1 = pairs.join(sig, pairs.sa == sig.source).select("sa", "sb", "u")
    m2 = pairs.join(sig, pairs.sb == sig.source).select("sa", "sb", "u")
    g = m1.unionAll(m2).groupBy("sa", "sb", "u").agg(F.count(F.lit(1)).alias("cnt"))
    rk = g.withColumn(
        "rn", F.row_number().over(Window.partitionBy("sa", "sb").orderBy("u", "sa"))
    ).filter(F.col("rn") <= _KJ_K)
    est = rk.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast("bigint").alias("n_shared"),
    )
    sizes = tok2.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    ta, tb = tok2.alias("ta"), tok2.alias("tb")
    inter = (
        ta.join(
            tb,
            (F.col("ta.tk") == F.col("tb.tk")) & (F.col("ta.source") < F.col("tb.source")),
        )
        .groupBy(F.col("ta.source").alias("sa"), F.col("tb.source").alias("sb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ninter"))
    )
    za = sizes.select(F.col("source").alias("sa"), F.col("nv").alias("nva"))
    zb = sizes.select(F.col("source").alias("sb"), F.col("nv").alias("nvb"))
    ninter = F.coalesce(F.col("ninter"), F.lit(0))
    return (
        est.join(F.broadcast(za), "sa")
        .join(F.broadcast(zb), "sb")
        .join(F.broadcast(inter), ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "k_used",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("k_used"), 6).alias(
                "jaccard_est"
            ),
            F.round(
                ninter.cast("double") / (F.col("nva") + F.col("nvb") - ninter), 6
            ).alias("jaccard_exact"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# CMS inner-product join-size estimation
# --------------------------------------------------------------------------

_JS_W = 4096


@register(
    "sketch_cms_join_size",
    sql=f"""
    WITH okeys AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    lkeys AS (
      SELECT l_orderkey AS k FROM lineitem WHERE l_quantity >= 30
    ),
    oc AS (
      SELECT r.i AS row_i,
             ('0x' || substr(md5(CAST(k AS VARCHAR)), 1 + 8 * r.i, 8))::BIGINT
               % {_JS_W} AS col_j,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM okeys CROSS JOIN (VALUES (0), (1), (2), (3)) r(i)
      GROUP BY r.i, col_j
    ),
    lc AS (
      SELECT r.i AS row_i,
             ('0x' || substr(md5(CAST(k AS VARCHAR)), 1 + 8 * r.i, 8))::BIGINT
               % {_JS_W} AS col_j,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lkeys CROSS JOIN (VALUES (0), (1), (2), (3)) r(i)
      GROUP BY r.i, col_j
    ),
    dots AS (
      SELECT oc.row_i, CAST(SUM(oc.cnt * lc.cnt) AS BIGINT) AS est
      FROM oc JOIN lc ON lc.row_i = oc.row_i AND lc.col_j = oc.col_j
      GROUP BY oc.row_i
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS true_size
      FROM okeys o JOIN lkeys l ON l.k = o.k
    )
    SELECT d.row_i, d.est AS row_estimate, x.true_size,
           CAST(MIN(d.est) OVER () AS BIGINT) AS cms_estimate,
           -- empty true join (no key overlap) → NULL pct, not a crash
           ROUND(100.0 * (CAST(MIN(d.est) OVER () AS BIGINT) - x.true_size)
                 / NULLIF(x.true_size, 0), 6) AS overest_pct
    FROM dots d CROSS JOIN exact x
    ORDER BY d.row_i
    """,
    tags=("sketch", "cms", "join-size", "cardinality-estimation"),
)
def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches: |A ⋈ B| on a
    key equals the inner product of the two frequency vectors, and the
    CMS estimate is min over rows d of Σ_j A_sketch[d,j]·B_sketch[d,j]
    (Cormode & Muthukrishnan's inner-product estimator, never an
    underestimate). Estimating the URGENT-orders × heavy-lines join size
    from two fixed d=4 × w={_JS_W} tables is exactly what a cost-based
    optimizer or an admission controller needs BEFORE paying for the
    join; the exact join rides along as the truth path, so the result
    reports each row's estimate, their min, and the overestimate, keeping
    the estimator's honesty measurable (ann_recall_report's posture).

    Shares the frequency sketch's digest-slicing discipline (one md5 per
    key, 4 row-hashes from one digest) and its scale shape: each sketch
    build is a map-side-combinable groupBy onto {4 * _JS_W} cells
    regardless of input size, and the dot product joins two
    sketch-sized — broadcastable — tables. Counts, products, and sums are
    exact BIGINTs (products bounded by per-cell counts ≪ 2³¹ each).
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    okeys = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    lkeys = li.filter(F.col("l_quantity") >= 30).select(F.col("l_orderkey").alias("k"))

    def sketch(keys: DataFrame) -> DataFrame:
        h = F.md5(F.col("k").cast("string"))
        e = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        (
                            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint")
                            % _JS_W
                        ).alias("col_j"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("e")
        return (
            keys.select(e)
            .select("e.row_i", "e.col_j")
            .groupBy("row_i", "col_j")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    oc = sketch(okeys)
    lc = sketch(lkeys).select(
        F.col("row_i"), F.col("col_j"), F.col("cnt").alias("cnt_l")
    )
    dots = (
        oc.join(lc, ["row_i", "col_j"])
        .groupBy("row_i")
        .agg(F.sum(F.col("cnt") * F.col("cnt_l")).cast("bigint").alias("est"))
    )
    exact = okeys.join(lkeys, "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_size")
    )
    wall = Window.partitionBy(F.lit(1))
    return (
        dots.crossJoin(F.broadcast(exact))
        .select(
            "row_i",
            F.col("est").alias("row_estimate"),
            "true_size",
            F.min("est").over(wall).cast("bigint").alias("cms_estimate"),
            F.round(
                100.0
                * (F.min("est").over(wall).cast("bigint") - F.col("true_size"))
                / F.nullif(F.col("true_size"), F.lit(0)),
                6,
            ).alias("overest_pct"),
        )
        .orderBy("row_i")
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles: the mergeable single-pass quantile sketch.
# ---------------------------------------------------------------------------

_QH_STEP = 5000  # cents per bin ($50)
_QH_BINS = 2048  # covers $0 .. $102,400; the tail clamps into the last bin
_QH_QS = (50, 90, 99)


@register(
    "sketch_quantile_histogram",
    sql=f"""
    WITH cents AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents),
    hist AS (
      SELECT LEAST(c // {_QH_STEP}, {_QH_BINS - 1}) AS bin, COUNT(*) AS cnt
      FROM cents GROUP BY bin
    ),
    hcum AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist),
    qs AS (SELECT * FROM (VALUES (50), (90), (99)) q(q_pct)),
    targets AS (
      SELECT q_pct, (tot.n * q_pct + 99) // 100 AS target, tot.n AS n
      FROM qs CROSS JOIN tot
    ),
    hest AS (
      SELECT t.q_pct, t.n, CAST(MIN(h.bin) AS BIGINT) AS qbin
      FROM targets t JOIN hcum h ON h.cum >= t.target
      GROUP BY t.q_pct, t.n
    ),
    vals AS (SELECT c, COUNT(*) AS cnt FROM cents GROUP BY c),
    vcum AS (SELECT c, SUM(cnt) OVER (ORDER BY c) AS cum FROM vals),
    hex AS (
      SELECT t.q_pct, CAST(MIN(v.c) AS BIGINT) AS exact_cents
      FROM targets t JOIN vcum v ON v.cum >= t.target
      GROUP BY t.q_pct
    )
    SELECT h.q_pct, h.n,
           CAST((h.qbin + 1) * {_QH_STEP} AS BIGINT) AS hist_cents,
           x.exact_cents,
           CAST((h.qbin + 1) * {_QH_STEP} - x.exact_cents AS BIGINT) AS err_cents
    FROM hest h JOIN hex x ON x.q_pct = h.q_pct
    ORDER BY h.q_pct
    """,
    tags=("sketch", "quantile", "histogram"),
)
def sketch_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass mergeable quantile estimation from a fixed {_QH_BINS}-bin
    histogram over l_extendedprice (in cents, ${_QH_STEP // 100} bins): the
    P50/P90/P99 estimate is the upper edge of the first bin whose
    cumulative count reaches ceil(q·n) — deterministic, integer, upward-
    biased by at most one bin width. The exact discrete quantile rides
    along (first value whose cumulative count reaches the same target)
    with the signed error in cents — sketch-family grading posture: the
    accuracy IS part of the hash-checked result.

    Scale: the histogram is the quantile counterpart of the CMS/HLL shape
    — a groupBy onto ≤ {_QH_BINS} cells with map-side partial counts, so
    quantiles over 100 TB cost one scan plus a {_QH_BINS}-row window;
    histograms from different partitions/days MERGE by adding counts
    (the property percentile_approx's GK sketch shares but engine-private
    state does not hash-match across engines). The exact path's
    cumulative window over DISTINCT values is the labeled truth baseline
    — bounded by value cardinality, not row count, but still a global
    sort the production path avoids."""
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    )
    tot = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    hist = (
        li.select(F.least(F.expr(f"c div {_QH_STEP}"), F.lit(_QH_BINS - 1)).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wbin = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hcum = hist.withColumn("cum", F.sum("cnt").over(wbin))
    qs = local_frame(spark, [(q,) for q in _QH_QS], "q_pct int")
    targets = qs.crossJoin(F.broadcast(tot)).select(
        "q_pct", "n", F.expr("(n * q_pct + 99) div 100").alias("target")
    )
    hest = (
        hcum.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("q_pct", "n")
        .agg(F.min("bin").cast("bigint").alias("qbin"))
    )
    vals = li.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    wval = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vcum = vals.withColumn("cum", F.sum("cnt").over(wval))
    hex_ = (
        vcum.join(F.broadcast(targets.select("q_pct", "target")), F.col("cum") >= F.col("target"))
        .groupBy("q_pct")
        .agg(F.min("c").cast("bigint").alias("exact_cents"))
    )
    return (
        hest.join(hex_, "q_pct")
        .select(
            "q_pct",
            "n",
            ((F.col("qbin") + 1) * _QH_STEP).cast("bigint").alias("hist_cents"),
            "exact_cents",
            ((F.col("qbin") + 1) * _QH_STEP - F.col("exact_cents"))
            .cast("bigint")
            .alias("err_cents"),
        )
        .orderBy("q_pct")
    )


# --------------------------------------------------------------------------
# AMS F2 (self-join size) sketch — the tug-of-war estimator
# --------------------------------------------------------------------------

_AMS_K = 16  # independent ±1 estimators (bits of one md5)


@register(
    "sketch_ams_f2",
    sql=f"""
    WITH h AS (
      SELECT l_partkey,
             ('0x' || substr(md5('ams|' || CAST(l_partkey AS VARCHAR)), 1, 8))::UBIGINT AS hb
      FROM lineitem
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             {", ".join(
                 f"CAST(SUM(CAST((hb >> {i}) & 1 AS BIGINT) * 2 - 1) AS BIGINT) AS z{i}"
                 for i in range(_AMS_K))}
      FROM h
    ),
    exact AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS f2
      FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey)
    )
    SELECT sums.n_rows, exact.f2 AS exact_f2,
           CAST(({" + ".join(f"z{i} * z{i}" for i in range(_AMS_K))})
                // {_AMS_K} AS BIGINT) AS ams_estimate,
           CAST((({" + ".join(f"z{i} * z{i}" for i in range(_AMS_K))}) // {_AMS_K}
                 - exact.f2) * 1000000 // exact.f2 AS BIGINT) AS err_ppm
    FROM sums CROSS JOIN exact
    """,
    tags=("sketch", "ams", "f2"),
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war sketch (Alon–Matias–Szegedy 1996) for F₂ — the
    self-join size Σf_k² of the part-key frequency vector, estimated from
    {_AMS_K} counters WITHOUT materializing frequencies: each estimator
    keeps Z_i = Σ s_i(key) over the raw stream (s_i = ±1 from bit i of
    one md5 per row) and E[Z_i²] = F₂ exactly. Beside the exact value the
    report shows the signed estimation error — the sketch family's
    (HLL/CMS/Bloom/KMV) missing member for JOIN-SIZE of a relation with
    ITSELF, the quantity the optimizer needs before a self-join.

    Determinism: the ±1 signs are md5 bits (one digest serves all
    {_AMS_K} estimators — the CMS slicing trick), Z_i are exact integer
    sums under any partitioning, and the error div is truncation-
    normalized so both engines produce the identical signed ppm.

    Scale: constant state ({_AMS_K} counters) per partition, merged by
    addition — the textbook mergeable sketch; the exact F₂ baseline costs
    one keyed groupBy and exists only to score the estimate."""
    li = table(spark, sf_dir, "lineitem")
    h = li.select(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ams|"), F.col("l_partkey").cast("string"))), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("hb")
    )
    sums = h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            F.sum(F.expr(f"((hb >> {i}) & 1) * 2 - 1")).cast("bigint").alias(f"z{i}")
            for i in range(_AMS_K)
        ],
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2"))
    )
    est_expr = "(" + " + ".join(f"z{i} * z{i}" for i in range(_AMS_K)) + f") div {_AMS_K}"
    return (
        sums.crossJoin(F.broadcast(exact))
        .select(
            "n_rows",
            F.col("f2").alias("exact_f2"),
            F.expr(est_expr).cast("bigint").alias("ams_estimate"),
            # signed ppm: both engines truncate BIGINT division toward zero
            F.expr(f"({est_expr} - f2) * 1000000 div f2")
            .cast("bigint")
            .alias("err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter tuning grid: measured FPR + fill factor per (m, k) config
# ---------------------------------------------------------------------------

_BFT_CONFIGS = ((1024, 2), (4096, 3), (16384, 6))
_BFT_MAX_K = max(k for _, k in _BFT_CONFIGS)


def _bft_pos_sql(i: str, m: str) -> str:
    # per-config salt (m in the key) so the three filters use independent bits
    return (
        f"('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#' || {i}"
        f" || '@' || {m}), 1, 8))::BIGINT % {m}"
    )


@register(
    "sketch_bloom_tuning",
    sql=f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    ),
    cfg(m, k) AS (VALUES {", ".join(f"({m}, {k})" for m, k in _BFT_CONFIGS)}),
    member_bits AS (
      SELECT c.m, c.k,
             ({_bft_pos_sql('r.i', 'c.m')}) // {_BLOOM_WORD} AS word_idx,
             bit_or(1::BIGINT << (({_bft_pos_sql('r.i', 'c.m')}) % {_BLOOM_WORD}))
               AS word
      FROM members CROSS JOIN cfg c
      CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(_BFT_MAX_K))}) r(i)
      WHERE r.i < c.k
      GROUP BY c.m, c.k, word_idx
    ),
    probe AS (
      SELECT cu.c_custkey, c.m, c.k,
             ({_bft_pos_sql('r.i', 'c.m')}) // {_BLOOM_WORD} AS word_idx,
             ({_bft_pos_sql('r.i', 'c.m')}) % {_BLOOM_WORD} AS bit_pos
      FROM customer cu CROSS JOIN cfg c
      CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(_BFT_MAX_K))}) r(i)
      WHERE r.i < c.k AND cu.c_custkey NOT IN (SELECT c_custkey FROM members)
    ),
    verdicts AS (
      SELECT p.m, p.k, p.c_custkey,
             MIN((COALESCE(b.word, 0) >> p.bit_pos) & 1) AS all_bits
      FROM probe p
      LEFT JOIN member_bits b
        ON b.m = p.m AND b.k = p.k AND b.word_idx = p.word_idx
      GROUP BY p.m, p.k, p.c_custkey
    ),
    fill AS (
      SELECT m, k, CAST(SUM(bit_count(word)) AS BIGINT) AS n_bits_set
      FROM member_bits GROUP BY m, k
    ),
    nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members FROM members)
    SELECT v.m, CAST(v.k AS INTEGER) AS k, nm.n_members,
           CAST(COUNT(*) AS BIGINT) AS n_nonmember_probes,
           CAST(SUM(v.all_bits) AS BIGINT) AS n_false_pos,
           CAST(SUM(v.all_bits) * 1000000 // COUNT(*) AS BIGINT) AS fpr_ppm,
           f.n_bits_set,
           CAST(f.n_bits_set * 1000000 // v.m AS BIGINT) AS fill_ppm
    FROM verdicts v
    JOIN fill f ON f.m = v.m AND f.k = v.k
    CROSS JOIN nm
    GROUP BY v.m, v.k, nm.n_members, f.n_bits_set
    ORDER BY v.m
    """,
    tags=("sketch", "bloom", "tuning", "evaluation"),
)
def sketch_bloom_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter config picker — the sketch counterpart of
    dedup_lsh_tuning_report: build the SAME member set (1995 customers)
    into {len(_BFT_CONFIGS)} filters of different size/hash-count
    {_BFT_CONFIGS}, probe each with every exact NON-member (ground truth
    by anti-join, so every positive is a false positive by construction),
    and report measured FPR and fill factor per config. The replay test
    checks measured FPR against the (1−e^(−kn/m))^k theory curve —
    python-side, because transcendentals never cross the oracle boundary
    (the sample_weighted_aes / HLL rule).

    Exactness: positions are md5-derived integers (per-config salt so the
    grids are independent), words are BIGINT bit_or, FPR/fill are integer
    ppm — byte-identical across engines and cluster sizes.

    Scale: each filter is m/{_BLOOM_WORD} words of mergeable state (map-side
    bit_or partials, one dim-sized rollup); probes fan out by a constant
    k and join the broadcast word table — the runtime-filter economics
    this grid exists to tune."""
    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    members = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    cfgs = F.explode(
        F.array(
            *[
                F.struct(F.lit(m).alias("m"), F.lit(k).alias("k"))
                for m, k in _BFT_CONFIGS
            ]
        )
    ).alias("cfg")

    def pos(key: F.Column) -> F.Column:
        h = F.md5(
            F.concat(
                key.cast("string"),
                F.lit("#"),
                F.col("i").cast("string"),
                F.lit("@"),
                F.col("m").cast("string"),
            )
        )
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % F.col("m")

    def fan(df):
        return (
            df.select("c_custkey", cfgs)
            .select("c_custkey", "cfg.m", "cfg.k")
            .select(
                "*",
                F.explode(
                    F.array(*[F.lit(i) for i in range(_BFT_MAX_K)])
                ).alias("i"),
            )
            .filter(F.col("i") < F.col("k"))
        )

    mbits = (
        fan(members)
        .withColumn("bit", pos(F.col("c_custkey")))
        .select(
            "m",
            "k",
            (F.col("bit") / _BLOOM_WORD).cast("bigint").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {_BLOOM_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("m", "k", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    probe = (
        fan(cu.join(members, "c_custkey", "left_anti").select("c_custkey"))
        .withColumn("bit", pos(F.col("c_custkey")))
        .select(
            "c_custkey",
            "m",
            "k",
            (F.col("bit") / _BLOOM_WORD).cast("bigint").alias("word_idx"),
            (F.col("bit") % _BLOOM_WORD).cast("int").alias("bit_pos"),
        )
    )
    verdicts = (
        probe.join(F.broadcast(mbits), ["m", "k", "word_idx"], "left")
        .withColumn(
            "bit_set",
            F.expr(
                "shiftright(coalesce(word, CAST(0 AS BIGINT)), bit_pos)"
                " & CAST(1 AS BIGINT)"
            ),
        )
        .groupBy("m", "k", "c_custkey")
        .agg(F.min("bit_set").alias("all_bits"))
    )
    fill = mbits.groupBy("m", "k").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_bits_set")
    )
    nm = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    return (
        verdicts.groupBy("m", "k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nonmember_probes"),
            F.sum("all_bits").cast("bigint").alias("n_false_pos"),
            F.expr("sum(all_bits) * 1000000 div count(1)")
            .cast("bigint")
            .alias("fpr_ppm"),
        )
        .join(F.broadcast(fill), ["m", "k"])
        .crossJoin(F.broadcast(nm))
        .select(
            "m",
            F.col("k").cast("int").alias("k"),
            "n_members",
            "n_nonmember_probes",
            "n_false_pos",
            "fpr_ppm",
            "n_bits_set",
            F.expr("n_bits_set * 1000000 div m").cast("bigint").alias("fill_ppm"),
        )
        .orderBy("m")
    )


# --------------------------------------------------------------------------
# CMS heavy-change detection between two periods
# --------------------------------------------------------------------------

_HC_YEAR_A, _HC_YEAR_B = 1993, 1995
_HC_TOPK = 15


@register(
    "sketch_cms_heavy_change",
    sql=f"""
    WITH spans AS (
      SELECT l_partkey,
             CASE WHEN year(l_shipdate) = {_HC_YEAR_A} THEN 'a'
                  WHEN year(l_shipdate) = {_HC_YEAR_B} THEN 'b' END AS period
      FROM lineitem
      WHERE year(l_shipdate) IN ({_HC_YEAR_A}, {_HC_YEAR_B})
    ),
    cells AS (
      SELECT r.i AS row_i,
             ('0x' || substr(md5(CAST(s.l_partkey AS VARCHAR)), 1 + 8 * r.i, 8))::BIGINT
               % {_CMS_W} AS col_j,
             CAST(SUM(CASE WHEN s.period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN s.period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      FROM spans s CROSS JOIN (VALUES (0), (1), (2), (3)) r(i)
      GROUP BY r.i, col_j
    ),
    probe AS (
      SELECT p.p_partkey, r.i AS row_i,
             ('0x' || substr(md5(CAST(p.p_partkey AS VARCHAR)), 1 + 8 * r.i, 8))::BIGINT
               % {_CMS_W} AS col_j
      FROM part p CROSS JOIN (VALUES (0), (1), (2), (3)) r(i)
    ),
    est AS (
      SELECT pr.p_partkey,
             CAST(MIN(COALESCE(c.cnt_a, 0)) AS BIGINT) AS est_a,
             CAST(MIN(COALESCE(c.cnt_b, 0)) AS BIGINT) AS est_b
      FROM probe pr LEFT JOIN cells c ON c.row_i = pr.row_i AND c.col_j = pr.col_j
      GROUP BY pr.p_partkey
    ),
    exact AS (
      SELECT l_partkey,
             CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS exact_a,
             CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS exact_b
      FROM spans GROUP BY l_partkey
    ),
    ranked AS (
      SELECT e.p_partkey, e.est_a, e.est_b, e.est_b - e.est_a AS est_change,
             COALESCE(x.exact_a, 0) AS exact_a, COALESCE(x.exact_b, 0) AS exact_b,
             COALESCE(x.exact_b, 0) - COALESCE(x.exact_a, 0) AS exact_change,
             ROW_NUMBER() OVER (ORDER BY ABS(e.est_b - e.est_a) DESC, e.p_partkey) AS rnk
      FROM est e LEFT JOIN exact x ON x.l_partkey = e.p_partkey
    )
    SELECT p_partkey, est_a, est_b,
           CAST(est_change AS BIGINT) AS est_change,
           exact_a, exact_b,
           CAST(exact_change AS BIGINT) AS exact_change,
           CAST(ABS(est_change - exact_change) AS BIGINT) AS est_abs_err,
           CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_HC_TOPK}
    """,
    tags=("sketch", "cms", "heavy-change", "drift"),
)
def sketch_cms_heavy_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-change detection between two shipping years with Count-Min
    sketches (Cormode & Muthukrishnan 2004, "what's new" monitoring): both
    periods share ONE d={_CMS_D}×w={_CMS_W} cell grid built in a single
    conditional-aggregation pass (cnt_a, cnt_b per cell — CMS is linear,
    so the per-period sketches are just two columns of the same table);
    every dictionary key (the part dim) is probed with min-over-rows per
    period and the top-{_HC_TOPK} by |estimated change| are reported next
    to the exact change — the error column the sketch-sizing decision
    reads. Items outside both periods estimate 0 (COALESCE'd empty cells).

    Scale shape: the sketch stays a fixed 2·d·w-cell table no matter the
    fact size (map-side partial counts, one (row, col) groupBy); the probe
    is dim×d rows against the broadcast cell table; exact counts — needed
    only for the audit columns — are one keyed groupBy. The rank window
    runs over the dim-sized estimate table (plan_lint adjudicated).

    Exactness: cells, estimates, and changes are exact integers; the
    hash family is the module's md5-digest slicing (one digest per key,
    d row-hashes)."""
    li = table(spark, sf_dir, "lineitem")
    spans = li.filter(
        F.year("l_shipdate").isin(_HC_YEAR_A, _HC_YEAR_B)
    ).select(
        "l_partkey",
        F.when(F.year("l_shipdate") == _HC_YEAR_A, "a").otherwise("b").alias("period"),
    )

    def _cols(key_col):
        digest = F.md5(key_col.cast("string"))
        return [
            (
                F.conv(F.substring(digest, 1 + 8 * i, 8), 16, 10).cast("bigint") % _CMS_W
            ).alias(f"c{i}")
            for i in range(_CMS_D)
        ]

    cells = (
        spans.select("period", *_cols(F.col("l_partkey")))
        .select(
            "period",
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("row_i"), F.col(f"c{i}").alias("col_j"))
                    for i in range(_CMS_D)
                ])
            ).alias("rc"),
        )
        .groupBy(F.col("rc.row_i").alias("row_i"), F.col("rc.col_j").alias("col_j"))
        .agg(
            F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).cast("bigint").alias("cnt_a"),
            F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).cast("bigint").alias("cnt_b"),
        )
    )
    probe = (
        table(spark, sf_dir, "part")
        .select("p_partkey", *_cols(F.col("p_partkey")))
        .select(
            "p_partkey",
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("row_i"), F.col(f"c{i}").alias("col_j"))
                    for i in range(_CMS_D)
                ])
            ).alias("rc"),
        )
        .select("p_partkey", F.col("rc.row_i").alias("row_i"), F.col("rc.col_j").alias("col_j"))
    )
    est = (
        probe.join(F.broadcast(cells), ["row_i", "col_j"], "left")
        .groupBy("p_partkey")
        .agg(
            F.min(F.coalesce(F.col("cnt_a"), F.lit(0))).cast("bigint").alias("est_a"),
            F.min(F.coalesce(F.col("cnt_b"), F.lit(0))).cast("bigint").alias("est_b"),
        )
    )
    exact = spans.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).cast("bigint").alias("exact_a"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).cast("bigint").alias("exact_b"),
    )
    joined = est.join(exact, est["p_partkey"] == exact["l_partkey"], "left").select(
        "p_partkey",
        "est_a",
        "est_b",
        (F.col("est_b") - F.col("est_a")).cast("bigint").alias("est_change"),
        F.coalesce(F.col("exact_a"), F.lit(0)).cast("bigint").alias("exact_a"),
        F.coalesce(F.col("exact_b"), F.lit(0)).cast("bigint").alias("exact_b"),
        (F.coalesce(F.col("exact_b"), F.lit(0)) - F.coalesce(F.col("exact_a"), F.lit(0)))
        .cast("bigint")
        .alias("exact_change"),
    )
    # windowless two-phase top-k over the part-dim estimate table (the part
    # dimension scales with SF — 2e9 rows at 100 TB TPC-H, too big for the
    # single partition an unpartitioned rank window forces)
    scored = joined.withColumn(
        "abs_change", F.abs(F.col("est_change")).cast("bigint")
    )
    return ranked_topk(scored, _HC_TOPK, "abs_change", "p_partkey").select(
        "p_partkey", "est_a", "est_b", "est_change", "exact_a", "exact_b",
        "exact_change",
        F.abs(F.col("est_change") - F.col("exact_change")).cast("bigint").alias("est_abs_err"),
        "rnk",
    )
