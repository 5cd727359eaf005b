"""Dataset-evolution operators: distribution drift and snapshot change
capture.

A long-lived corpus pipeline re-ingests sources continually; the two
questions its operators must answer are "did a source's composition shift?"
(drift) and "what exactly changed since the last snapshot?" (CDC). Both are
pure relational plans here.

Determinism note for the drift statistics: a chi-square or TVD total is a
SUM of double terms, and double summation is fold-order-dependent — a
1000-partition Spark sum and DuckDB's serial sum disagree in the last ulp.
The repo-wide fix applies: each term is a single deterministic double
expression, cast to DECIMAL(28,9) (fixing term precision at 1e-9), summed
EXACTLY in decimal, and only then surfaced as a rounded double. The
statistic is thus defined to 1e-9 term precision — identical on every
engine and every partitioning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.tables import table
from pumle_spark.workload import register

_TERM_DEC = "decimal(28,9)"


@register(
    "drift_source_lang_profile",
    sql="""
    WITH nt AS (SELECT COUNT(*) AS n_total FROM documents),
    per_source AS (SELECT source, COUNT(*) AS n_source FROM documents GROUP BY source),
    per_lang AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    observed AS (SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY source, lang),
    grid AS (
      SELECT s.source, s.n_source, l.lang, l.n_lang, nt.n_total,
             COALESCE(ob.o, 0) AS o
      FROM per_source s CROSS JOIN per_lang l CROSS JOIN nt
      LEFT JOIN observed ob ON ob.source = s.source AND ob.lang = l.lang
    ),
    terms AS (
      SELECT source, n_source, o,
             CAST(n_source * n_lang AS DOUBLE) / n_total AS e,
             abs(CAST(o AS DOUBLE) / n_source - CAST(n_lang AS DOUBLE) / n_total) AS tvd_term
      FROM grid
    ),
    sums AS (
      SELECT source, MAX(n_source) AS n_docs,
             SUM(CAST((o - e) * (o - e) / e AS DECIMAL(28,9))) AS chi2_dec,
             SUM(CAST(tvd_term AS DECIMAL(28,9))) AS tvd_dec
      FROM terms GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(CAST(chi2_dec AS DOUBLE), 6) AS chi2,
           ROUND(CAST(tvd_dec AS DOUBLE) / 2.0, 6) AS tvd
    FROM sums ORDER BY source
    """,
    tags=("drift", "quality"),
)
def drift_source_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source composition drift vs the global corpus: chi-square
    statistic and total-variation distance of each source's language
    distribution against the pooled one (zero cells included — a source
    missing a language entirely is exactly the drift signal).

    Scale: three tiny aggregates (|sources|, |langs|, grid of their
    product) after one map-side-combinable count per (source, lang); the
    fact table is scanned once, everything downstream is dimension-sized.
    The decimal-sum trick makes the statistics partition-count-invariant,
    so a monitoring job can diff them across runs byte-for-byte.
    """
    d = table(spark, sf_dir, "documents")
    nt = d.agg(F.count(F.lit(1)).alias("n_total"))
    per_source = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    per_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    observed = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    grid = (
        per_source.crossJoin(F.broadcast(per_lang))
        .crossJoin(F.broadcast(nt))
        .join(observed, ["source", "lang"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    terms = grid.select(
        "source",
        "n_source",
        "o",
        ((F.col("n_source") * F.col("n_lang")).cast("double") / F.col("n_total")).alias("e"),
        F.abs(
            F.col("o").cast("double") / F.col("n_source")
            - F.col("n_lang").cast("double") / F.col("n_total")
        ).alias("tvd_term"),
    )
    sums = terms.groupBy("source").agg(
        F.max("n_source").alias("n_docs"),
        F.sum(
            ((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).cast(_TERM_DEC)
        ).alias("chi2_dec"),
        F.sum(F.col("tvd_term").cast(_TERM_DEC)).alias("tvd_dec"),
    )
    return sums.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("chi2_dec").cast("double"), 6).alias("chi2"),
        F.round(F.col("tvd_dec").cast("double") / 2.0, 6).alias("tvd"),
    ).orderBy("source")


_T1_CUT = "1997-01-01"


@register(
    "snapshot_diff_customer_state",
    sql=f"""
    WITH t1 AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      FROM orders WHERE o_orderdate < TIMESTAMP '{_T1_CUT}'
      GROUP BY o_custkey
    ),
    t2 AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(t2.o_custkey, t1.o_custkey) AS c_custkey,
           CASE WHEN t1.o_custkey IS NULL THEN 'ADDED'
                WHEN t2.o_custkey IS NULL THEN 'REMOVED'
                WHEN t1.n_orders = t2.n_orders AND t1.spend = t2.spend THEN 'UNCHANGED'
                ELSE 'CHANGED' END AS change_type,
           CAST(COALESCE(t1.n_orders, 0) AS BIGINT) AS n_orders_t1,
           CAST(COALESCE(t2.n_orders, 0) AS BIGINT) AS n_orders_t2,
           CAST(ROUND(COALESCE(t1.spend, 0), 2) AS DOUBLE) AS spend_t1,
           CAST(ROUND(COALESCE(t2.spend, 0), 2) AS DOUBLE) AS spend_t2
    FROM t1 FULL OUTER JOIN t2 ON t1.o_custkey = t2.o_custkey
    ORDER BY c_custkey
    """,
    tags=("snapshot", "cdc"),
)
def snapshot_diff_customer_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change capture between two snapshots of a per-customer rollup
    (orders before {_T1_CUT} vs all orders): every customer classified
    ADDED / REMOVED / CHANGED / UNCHANGED with both states attached —
    the diff a downstream incremental consumer replays instead of
    recomputing the world. Spend comparison is exact-decimal, so
    'UNCHANGED' can never flip on a double ulp.

    Scale: both snapshot rollups partial-aggregate map-side and shuffle
    once on the same key, so the full-outer join co-partitions with no
    extra exchange; the diff never materializes raw facts. REMOVED is
    structurally possible (full outer) though empty here, where snapshots
    grow append-only.
    """
    o = table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,6)")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"), F.sum(dec).alias("spend")
        )

    t1 = rollup(o.filter(F.col("o_orderdate") < F.lit(_T1_CUT).cast("timestamp"))).select(
        F.col("o_custkey").alias("k1"), F.col("n_orders").alias("n1"), F.col("spend").alias("s1")
    )
    t2 = rollup(o).select(
        F.col("o_custkey").alias("k2"), F.col("n_orders").alias("n2"), F.col("spend").alias("s2")
    )
    joined = t1.join(t2, t1["k1"] == t2["k2"], "full_outer")
    change = (
        F.when(F.col("k1").isNull(), F.lit("ADDED"))
        .when(F.col("k2").isNull(), F.lit("REMOVED"))
        .when((F.col("n1") == F.col("n2")) & (F.col("s1") == F.col("s2")), F.lit("UNCHANGED"))
        .otherwise(F.lit("CHANGED"))
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return joined.select(
        F.coalesce(F.col("k2"), F.col("k1")).alias("c_custkey"),
        change.alias("change_type"),
        F.coalesce(F.col("n1"), F.lit(0)).cast("bigint").alias("n_orders_t1"),
        F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n_orders_t2"),
        F.round(F.coalesce(F.col("s1"), zero), 2).cast("double").alias("spend_t1"),
        F.round(F.coalesce(F.col("s2"), zero), 2).cast("double").alias("spend_t2"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# robust outlier detection (median / MAD)
# --------------------------------------------------------------------------


@register(
    "outlier_mad_brand_quantity",
    sql="""
    WITH x AS (
      SELECT p.p_brand AS brand, l.l_quantity AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    m AS (SELECT brand, quantile_cont(q, 0.5) AS med FROM x GROUP BY brand),
    d AS (SELECT x.brand, x.q, m.med FROM x JOIN m USING (brand)),
    md AS (SELECT brand, quantile_cont(abs(q - med), 0.5) AS mad FROM d GROUP BY brand)
    SELECT d.brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(MAX(d.med), 4) AS med_qty,
           ROUND(MAX(md.mad), 4) AS mad_qty,
           CAST(SUM(CASE WHEN abs(d.q - d.med) > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM d JOIN md USING (brand)
    GROUP BY d.brand
    """,
    tags=("quality", "outliers", "robust-stats"),
)
def outlier_mad_brand_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-brand outlier screen on order quantities: median, MAD
    (median absolute deviation), and the count of items beyond the 3-MAD
    fence. Median/MAD resist the contamination that wrecks mean/stddev
    fences — the standard data-quality gate before a numeric column feeds
    a model.

    Determinism: quantities are integer-valued doubles, so the exact
    interpolated median is always .0 or .5 — bit-identical across engines
    with no rounding tricks; both engines use linearly-interpolated
    percentile semantics (Spark `percentile` ≡ DuckDB `quantile_cont`).

    Scale shape: two grouped exact-percentile passes over the fact table;
    the 25-row median/MAD tables broadcast back — the fact table shuffles
    on brand twice and is never collected. (At 100 TB swap the exact
    percentile for percentile_approx and the plan is identical.)"""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"), F.col("l_quantity").alias("q")
    )
    m = x.groupBy("brand").agg(F.percentile("q", 0.5).alias("med"))
    d = x.join(F.broadcast(m), "brand")
    md = d.groupBy("brand").agg(F.percentile(F.abs(F.col("q") - F.col("med")), 0.5).alias("mad"))
    return (
        d.join(F.broadcast(md), "brand")
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.max("med"), 4).alias("med_qty"),
            F.round(F.max("mad"), 4).alias("mad_qty"),
            F.sum(
                F.when(F.abs(F.col("q") - F.col("med")) > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# numeric-profile correlations (exact-decimal moment sums)
# --------------------------------------------------------------------------


@register(
    "profile_numeric_correlations",
    sql="""
    WITH t AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS DECIMAL(14,4)) AS x,
             CAST(l_extendedprice AS DECIMAL(14,4)) AS y,
             CAST(l_discount AS DECIMAL(14,4)) AS z
      FROM lineitem
    ),
    s AS (
      SELECT flag, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(z) AS DOUBLE) AS sz,
             -- widen one operand to DECIMAL(19,4): forces DuckDB's int128
             -- multiply path (int64 overflows on price*price); still exact
             CAST(SUM(CAST(x AS DECIMAL(19,4)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y AS DECIMAL(19,4)) * z) AS DOUBLE) AS syz,
             CAST(SUM(CAST(x AS DECIMAL(19,4)) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(19,4)) * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(z AS DECIMAL(19,4)) * z) AS DOUBLE) AS szz
      FROM t GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n_rows,
           -- degenerate-group guard (no-op on real data): with n = 1 the
           -- variance terms are mathematically zero but round to tiny
           -- negatives in double, and sqrt(negative) raises; an undefined
           -- correlation is NULL on both engines
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN
             ROUND((n * sxy - sx * sy)
                   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS corr_qty_price,
           CASE WHEN (n * syy - sy * sy) * (n * szz - sz * sz) > 0 THEN
             ROUND((n * syz - sy * sz)
                   / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)), 6)
           END AS corr_price_discount
    FROM s
    """,
    tags=("profiling", "statistics", "decimal-stabilized"),
)
def profile_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlations between lineitem measures per return flag — the
    numeric-profile step of a data-quality report (is price still tracking
    quantity? did a discount regime change?).

    Determinism contract: the five moment sums (Σx, Σy, Σxy, Σx², Σy²) are
    computed EXACTLY in decimal — per-row terms cast to DECIMAL(14,4), so
    products and sums have no rounding at all — and only the final
    correlation formula runs in double, as the same expression tree on
    both engines over bit-identical inputs. The built-in corr() is a
    fold-order-dependent double reduction (different answer per
    partitioning); this form is reproducible on any cluster size. One
    partial-aggregated groupBy; the formula is driver-free scalar math."""
    li = table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("decimal(14,4)").alias("x"),
        F.col("l_extendedprice").cast("decimal(14,4)").alias("y"),
        F.col("l_discount").cast("decimal(14,4)").alias("z"),
    )
    s = t.groupBy("flag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("z").cast("double").alias("sz"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("z")).cast("double").alias("syz"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("double").alias("szz"),
    )
    vp_xy = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    vp_yz = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")) * (
        F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")
    )
    # degenerate-group guard mirrors the oracle: undefined correlation -> NULL
    corr_xy = F.when(
        vp_xy > 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(vp_xy),
    )
    corr_yz = F.when(
        vp_yz > 0,
        (F.col("n") * F.col("syz") - F.col("sy") * F.col("sz")) / F.sqrt(vp_yz),
    )
    return s.select(
        "flag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(corr_xy, 6).alias("corr_qty_price"),
        F.round(corr_yz, 6).alias("corr_price_discount"),
    )


# --------------------------------------------------------------------------
# population stability index (PSI) between order-date halves
# --------------------------------------------------------------------------

_PSI_CUT = "1998-01-01"
_PSI_BIN_W = 50000.0
_PSI_MAX_BIN = 9


@register(
    "drift_psi_totalprice",
    sql=f"""
    WITH o AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '{_PSI_CUT}' THEN 0 ELSE 1 END AS half,
             LEAST(CAST(FLOOR(o_totalprice / {_PSI_BIN_W}) AS BIGINT), {_PSI_MAX_BIN}) AS bin
      FROM orders
    ),
    c AS (
      SELECT bin,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) + 1 AS a,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) + 1 AS b
      FROM o GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb FROM c),
    terms AS (
      SELECT c.bin, c.a - 1 AS n_early, c.b - 1 AS n_late,
             (CAST(c.a AS DOUBLE) / ta - CAST(c.b AS DOUBLE) / tb)
               * LN((CAST(c.a AS DOUBLE) / ta) / (CAST(c.b AS DOUBLE) / tb))
               AS term
      FROM c CROSS JOIN tot
    )
    SELECT bin, n_early, n_late,
           ROUND(term, 9) AS psi_term,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) OVER () AS DOUBLE), 6) AS psi_total
    FROM terms
    ORDER BY bin
    """,
    tags=("drift", "psi", "quality"),
)
def drift_psi_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the order-price distribution between
    the pre-{_PSI_CUT} and post-{_PSI_CUT} halves of the corpus — THE
    standard "did my input distribution shift between snapshots" score
    model-monitoring pipelines alarm on (PSI > 0.2 = investigate).

    Prices land in {_PSI_MAX_BIN}+1 fixed-width bins (width {_PSI_BIN_W:.0f},
    top bin open); +1 Laplace smoothing keeps every observed bin's ratio
    finite, with proportions taken over the smoothed totals so they sum to
    one. Each PSI term is ONE double expression built from exact integer
    counts — deterministic on both engines — and the total follows the
    module-wide decimal-sum contract (terms fixed at 1e-9, summed exactly,
    surfaced rounded) so it is partition-count-invariant. The per-bin term
    is also emitted (rounded separately from the total: never round a
    rounded value) for drill-down.

    Scale: one map-side-combinable count per (half, bin) — a scan plus a
    {_PSI_MAX_BIN}+1-row aggregate; the window total runs over ≤10 rows.
    """
    o = table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderdate") < _PSI_CUT, 0).otherwise(1).alias("half"),
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_BIN_W).cast("bigint"),
            F.lit(_PSI_MAX_BIN).cast("bigint"),
        ).alias("bin"),
    )
    c = o.groupBy("bin").agg(
        (F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("bigint") + 1).alias("a"),
        (F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint") + 1).alias("b"),
    )
    tot = c.agg(
        F.sum("a").cast("bigint").alias("ta"), F.sum("b").cast("bigint").alias("tb")
    )
    pa = F.col("a").cast("double") / F.col("ta")
    pb = F.col("b").cast("double") / F.col("tb")
    terms = c.crossJoin(F.broadcast(tot)).select(
        "bin",
        (F.col("a") - 1).alias("n_early"),
        (F.col("b") - 1).alias("n_late"),
        ((pa - pb) * F.log(pa / pb)).alias("term"),
    )
    return terms.select(
        "bin",
        "n_early",
        "n_late",
        F.round(F.col("term"), 9).alias("psi_term"),
        F.round(
            F.sum(F.col("term").cast(_TERM_DEC))
            .over(Window.partitionBy(F.lit(1)))
            .cast("double"),
            6,
        ).alias("psi_total"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# DR5: categorical column entropy profile
# --------------------------------------------------------------------------

_ENT_FP = 1_000_000  # micro-bit quantization (zipf/unigram-logprob discipline)

_ENT_COLS = (
    ("orders.o_orderstatus", "orders", "o_orderstatus"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("lineitem.l_returnflag", "lineitem", "l_returnflag"),
    ("lineitem.l_linestatus", "lineitem", "l_linestatus"),
    ("part.p_brand", "part", "p_brand"),
    ("events.event_type", "events", "event_type"),
)


def _sql_ent_branch(label: str, tbl: str, col: str) -> str:
    return f"""
      SELECT '{label}' AS column_name, CAST({col} AS VARCHAR) AS v FROM {tbl}"""


@register(
    "profile_column_entropy",
    sql=f"""
    WITH vals AS ({" UNION ALL ".join(_sql_ent_branch(*c) for c in _ENT_COLS)}
    ),
    cnt AS (
      SELECT column_name, v, COUNT(*) AS c FROM vals GROUP BY column_name, v
    ),
    tot AS (
      SELECT column_name, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS nd
      FROM cnt GROUP BY column_name
    ),
    q AS (
      -- quantize each category's information content ONCE (exact integer
      -- ratio into log2, micro-bits out) so the per-column fold is integer
      SELECT c.column_name,
             c.c,
             CAST(ROUND(-log2(CAST(c.c AS DOUBLE) / t.n) * {_ENT_FP}) AS BIGINT) AS e
      FROM cnt c JOIN tot t ON t.column_name = c.column_name
    )
    SELECT t.column_name, t.n AS n_rows, t.nd AS n_distinct,
           CAST(SUM(q.c * q.e) // t.n AS BIGINT) AS entropy_microbits,
           CAST(ROUND(log2(CAST(t.nd AS DOUBLE)) * {_ENT_FP}) AS BIGINT)
             AS max_entropy_microbits,
           ROUND((SUM(q.c * q.e) // t.n)
                 / CAST(NULLIF(CAST(ROUND(log2(CAST(t.nd AS DOUBLE)) * {_ENT_FP}) AS BIGINT), 0)
                        AS DOUBLE), 6) AS uniformity
    FROM q JOIN tot t ON t.column_name = q.column_name
    GROUP BY t.column_name, t.n, t.nd
    ORDER BY t.column_name
    """,
    tags=("profile", "entropy", "data-quality"),
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of every categorical column in the warehouse —
    the one-number distribution summary a data-quality monitor tracks per
    drop: a collapsed upstream export shows up as entropy falling toward
    0 (one value dominating) long before row counts move, and uniformity
    (H / log2(k)) normalizes it across columns with different arity.
    Extends profile_orders_columns (count/null profiling) with
    distribution SHAPE, same family as drift_psi_totalprice.

    Determinism (zipf/unigram-logprob discipline): each category's
    information content -log2(c/n) is quantized ONCE to integer
    micro-bits — log2 over identical IEEE inputs on both engines — and
    the per-column entropy is then an exact integer fold Σ c·e DIV n,
    immune to float-sum ordering. uniformity is one mirrored double
    division of two already-quantized integers.

    Scale: per column one groupBy on (column, value) with map-side
    partials — arity-bounded state — then an arity-sized join; the six
    branches union into one job and scan each fact table once."""
    branches = []
    for label, tbl, col in _ENT_COLS:
        branches.append(
            table(spark, sf_dir, tbl).select(
                F.lit(label).alias("column_name"),
                F.col(col).cast("string").alias("v"),
            )
        )
    vals = branches[0]
    for b in branches[1:]:
        vals = vals.unionAll(b)
    cnt = vals.groupBy("column_name", "v").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("column_name").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    q = cnt.join(F.broadcast(tot), "column_name").select(
        "column_name",
        "c",
        "n",
        "nd",
        F.round(-F.log2(F.col("c").cast("double") / F.col("n")) * _ENT_FP)
        .cast("bigint")
        .alias("e"),
    )
    hmax = F.round(F.log2(F.col("nd").cast("double")) * _ENT_FP).cast("bigint")
    return (
        q.groupBy("column_name", "n", "nd")
        .agg(F.sum(F.col("c") * F.col("e")).alias("se"))
        .select(
            "column_name",
            F.col("n").alias("n_rows"),
            F.col("nd").alias("n_distinct"),
            F.expr("se div n").cast("bigint").alias("entropy_microbits"),
            hmax.alias("max_entropy_microbits"),
            F.round(
                F.expr("se div n")
                / F.nullif(hmax, F.lit(0)).cast("double"),
                6,
            ).alias("uniformity"),
        )
        .orderBy("column_name")
    )


# --------------------------------------------------------------------------
# exact two-sample Kolmogorov-Smirnov statistic (finished vs open orders)
# --------------------------------------------------------------------------

_KS_BUCKET_W = 2048.0  # price-range bucket for the distributed prefix sum


@register(
    "drift_ks_two_sample",
    sql="""
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS isf
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    pv AS (
      SELECT v, CAST(SUM(isf) AS BIGINT) AS ca,
             CAST(SUM(1 - isf) AS BIGINT) AS cb
      FROM s GROUP BY v
    ),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM pv),
    cum AS (
      SELECT v,
             CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cfa,
             CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cfb
      FROM pv
    ),
    diff AS (
      SELECT v, ABS(cfa * nb - cfb * na) AS d, na, nb
      FROM cum CROSS JOIN tot
    ),
    mx AS (SELECT MAX(d) AS dmax FROM diff)
    SELECT na AS n_f, nb AS n_o,
           dmax AS d_scaled,
           CAST(dmax * 1000000 // (na * nb) AS BIGINT) AS d_ppm,
           MIN(v) AS at_value,
           CAST(ROUND(1.358 * sqrt((CAST(na AS DOUBLE) + nb)
                                   / (CAST(na AS DOUBLE) * nb)) * 1000000)
                AS BIGINT) AS crit_ppm_05,
           CAST(dmax * 1000000 // (na * nb) AS BIGINT)
             > CAST(ROUND(1.358 * sqrt((CAST(na AS DOUBLE) + nb)
                                       / (CAST(na AS DOUBLE) * nb)) * 1000000)
                    AS BIGINT) AS drifted
    FROM diff CROSS JOIN mx
    WHERE d = dmax
    GROUP BY na, nb, dmax
    """,
    tags=("drift", "ks", "quality"),
)
def drift_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the price
    distributions of finished ('F') and open ('O') orders — the
    distribution-shift test that, unlike PSI (drift_psi_totalprice), needs
    no binning choice: D = sup_v |F_F(v) - F_O(v)| evaluated at every
    observed price.

    Exactness: the sup is taken over the INTEGER-scaled differences
    |cumA*nb - cumB*na| (exact BIGINT; sound while na*nb*1e6 < 2^63, i.e.
    ~3e6 rows per side — beyond that, sample or move the scale factor to
    DECIMAL). d_ppm is integer floor-division; the 5% critical value
    1.358*sqrt((na+nb)/(na*nb)) is quantized once to ppm and the drift
    verdict is then an integer comparison. at_value is the smallest price
    attaining the sup (deterministic tiebreak).

    Scale: a single-partition global cumsum would bottleneck, so the
    prefix sum is TWO-LEVEL — per-value counts land in fixed price-range
    buckets (width {_KS_BUCKET_W:.0f}); bucket subtotals (a few hundred
    rows, domain-bounded) produce carry-in offsets via a tiny window, and
    the heavy cumulative runs partitioned BY bucket. The DuckDB oracle
    uses the equivalent single window — engine equivalence, not plan
    equivalence."""
    s = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("isf"),
        )
    )
    pv = s.groupBy("v").agg(
        F.sum("isf").cast("bigint").alias("ca"),
        F.sum(1 - F.col("isf")).cast("bigint").alias("cb"),
    )
    pv = pv.withColumn("bkt", F.floor(F.col("v") / _KS_BUCKET_W).cast("bigint"))
    tot = pv.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    # level 1: bucket subtotals -> exclusive carry-in offsets (tiny window)
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = (
        pv.groupBy("bkt")
        .agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb"))
        .select(
            "bkt",
            F.coalesce(F.sum("ba").over(wb), F.lit(0)).cast("bigint").alias("oa"),
            F.coalesce(F.sum("bb").over(wb), F.lit(0)).cast("bigint").alias("ob"),
        )
    )
    # level 2: the heavy cumulative, partitioned by bucket
    wl = Window.partitionBy("bkt").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pv.join(F.broadcast(boff), "bkt").select(
        "v",
        (F.col("oa") + F.sum("ca").over(wl)).cast("bigint").alias("cfa"),
        (F.col("ob") + F.sum("cb").over(wl)).cast("bigint").alias("cfb"),
    )
    diff = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        F.abs(F.col("cfa") * F.col("nb") - F.col("cfb") * F.col("na")).alias("d"),
        "na",
        "nb",
    )
    mx = diff.agg(F.max("d").alias("dmax"))
    crit = (
        F.round(
            F.lit(1.358)
            * F.sqrt(
                (F.col("na").cast("double") + F.col("nb"))
                / (F.col("na").cast("double") * F.col("nb"))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("crit_ppm_05")
    )
    return (
        diff.crossJoin(F.broadcast(mx))
        .filter(F.col("d") == F.col("dmax"))
        .groupBy("na", "nb", "dmax")
        .agg(F.min("v").alias("at_value"))
        .select(
            F.col("na").alias("n_f"),
            F.col("nb").alias("n_o"),
            F.col("dmax").alias("d_scaled"),
            F.expr("dmax * 1000000 div (na * nb)").cast("bigint").alias("d_ppm"),
            "at_value",
            crit,
            (
                F.expr("dmax * 1000000 div (na * nb)").cast("bigint")
                > F.round(
                    F.lit(1.358)
                    * F.sqrt(
                        (F.col("na").cast("double") + F.col("nb"))
                        / (F.col("na").cast("double") * F.col("nb"))
                    )
                    * 1000000
                ).cast("bigint")
            ).alias("drifted"),
        )
    )


# --------------------------------------------------------------------------
# per-source Jensen-Shannon divergence over the token distribution
# --------------------------------------------------------------------------

_JS_TOKENS = (
    "string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
)
_JS_LN2_MICRO = 693147  # round(ln(2) * 1e6)


@register(
    "drift_token_js",
    sql=f"""
    WITH tok AS (
      SELECT source, unnest({_JS_TOKENS}) AS w FROM documents
    ),
    sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a FROM tok GROUP BY source, w),
    cw AS (SELECT w, CAST(SUM(a) AS BIGINT) AS b FROM sw GROUP BY w),
    ns AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n_s FROM sw GROUP BY source),
    nt AS (SELECT CAST(SUM(a) AS BIGINT) AS n_t FROM sw),
    cells AS (
      SELECT s.source, s.a, c.b, ns.n_s, nt.n_t,
             CAST(ROUND(s.a * ln(2.0 * s.a * nt.n_t
                                 / (CAST(s.a AS DOUBLE) * nt.n_t + CAST(c.b AS DOUBLE) * ns.n_s))
                        * 1000000) AS BIGINT) AS x1,
             CAST(ROUND(c.b * ln(2.0 * c.b * ns.n_s
                                 / (CAST(s.a AS DOUBLE) * nt.n_t + CAST(c.b AS DOUBLE) * ns.n_s))
                        * 1000000) AS BIGINT) AS x2
      FROM sw s JOIN cw c ON c.w = s.w JOIN ns ON ns.source = s.source CROSS JOIN nt
    )
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(0.5 * SUM(x1) / (1000000.0 * MAX(n_s))
                 + 0.5 * (SUM(x2) + CAST({_JS_LN2_MICRO} AS BIGINT) * (MAX(n_t) - SUM(b)))
                       / (1000000.0 * MAX(n_t)), 6) AS js_r6
    FROM cells GROUP BY source ORDER BY source
    """,
    tags=("drift", "text", "divergence"),
)
def drift_token_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's token distribution
    and the pooled corpus — the mixture-design statistic (symmetric,
    bounded by ln 2) that ranks sources by how far their vocabulary usage
    sits from the blend, where `drift_source_lang_profile` only sees the
    coarse language label.

    The scale trick: JS needs a term for every (source, vocabulary-word)
    pair including ZERO cells — a |sources|x|vocab| grid that is pure
    waste at a 10^8-type vocabulary. But a zero cell (p=0) has
    m = q/2, so its contribution is exactly q·ln2; summing over all
    absent words gives ln2·(1 − Q_obs) in closed form. Only OBSERVED
    (source, word) cells are ever materialized — the grid term is one
    subtraction of exact token counts.

    Determinism: each cell's two log terms are single mirrored double
    expressions over exact integer counts, quantized ONCE to micro-units
    (count-weighted, so magnitudes stay well above the quantum); the
    per-source reduction is all-BIGINT; the final division is one
    mirrored double expression rounded once. ln(2) enters as the integer
    micro-constant {_JS_LN2_MICRO}.

    Scale shape: token counting is a (source, word)-keyed groupBy with
    map-side partials; the corpus-frequency join keys on the word (no
    broadcast of the vocabulary — it shuffles co-keyed); per-source
    totals are a broadcast dim; the final rollup is |sources| rows."""
    from pumle_spark.operators.dedup import normalize_text

    tok = table(spark, sf_dir, "documents").select(
        "source", F.explode(normalize_text("text")).alias("w")
    )
    sw = tok.groupBy("source", "w").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    cw = sw.groupBy("w").agg(F.sum("a").cast("bigint").alias("b"))
    ns = sw.groupBy("source").agg(F.sum("a").cast("bigint").alias("n_s"))
    nt = sw.agg(F.sum("a").cast("bigint").alias("n_t"))
    denom = F.col("a").cast("double") * F.col("n_t") + F.col("b").cast("double") * F.col("n_s")
    cells = (
        sw.join(cw, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            "a",
            "b",
            "n_s",
            "n_t",
            F.round(F.col("a") * F.log(2.0 * F.col("a") * F.col("n_t") / denom) * 1_000_000)
            .cast("bigint")
            .alias("x1"),
            F.round(F.col("b") * F.log(2.0 * F.col("b") * F.col("n_s") / denom) * 1_000_000)
            .cast("bigint")
            .alias("x2"),
        )
    )
    return (
        cells.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(
                0.5 * F.sum("x1") / (1_000_000.0 * F.max("n_s"))
                + 0.5
                * (
                    F.sum("x2")
                    + F.lit(_JS_LN2_MICRO).cast("bigint") * (F.max("n_t") - F.sum("b"))
                )
                / (1_000_000.0 * F.max("n_t")),
                6,
            ).alias("js_r6"),
        )
        .orderBy("source")
    )


_FD_CANDIDATES = (
    # (table, lhs, rhs) — a mix of FDs that HOLD (n_name determines region;
    # every part name maps to one brand in this corpus) and ones that are
    # genuinely violated, so the report exercises both branches.
    ("nation", "n_name", "n_regionkey"),
    ("part", "p_name", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_size"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("lineitem", "l_orderkey", "l_shipdate"),
)


def _fd_sql_block(tbl: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{tbl}.{lhs}->{rhs}' AS fd,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN c ELSE 0 END) AS BIGINT)
             AS violating_rows,
           CAST(SUM(CASE WHEN nd > 1 THEN c ELSE 0 END) * 1000000
                // SUM(c) AS BIGINT) AS violation_ppm
    FROM (SELECT COUNT(DISTINCT {rhs}) AS nd, COUNT(*) AS c
          FROM {tbl} GROUP BY {lhs})
    """


@register(
    "profile_fd_candidates",
    sql="WITH u AS ("
    + "\nUNION ALL\n".join(_fd_sql_block(*c) for c in _FD_CANDIDATES)
    + ") SELECT * FROM u ORDER BY fd",
    tags=("profile", "quality", "fd"),
)
def profile_fd_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery report (TANE-style candidate check):
    for each candidate A→B, how many A-groups map to more than one B value,
    and what fraction of rows live in those violating groups (exact integer
    ppm). An FD with violation_ppm = 0 HOLDS and is a usable integrity
    constraint / normalization hint; a near-zero one is an approximate FD
    whose violating rows are prime data-quality suspects.

    Plan shape per candidate: one groupBy(A) with a countDistinct(B) —
    Spark compiles it to the standard two-phase distinct-expand; the
    per-group frame then collapses to a single stats row, so the union
    output is |candidates| rows total. Each candidate is an independent
    subtree — at 100 TB they run as parallel stages over the shared scan,
    and a candidate on a pre-bucketed key (l_orderkey) shuffles nothing.

    Integer discipline: violation_ppm = violating_rows·10⁶ div n_rows,
    exact on both engines; no doubles anywhere in the result."""
    out = None
    for tbl, lhs, rhs in _FD_CANDIDATES:
        df = table(spark, sf_dir, tbl)
        g = df.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("nd"), F.count(F.lit(1)).alias("c")
        )
        stats = g.agg(
            F.lit(f"{tbl}.{lhs}->{rhs}").alias("fd"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_groups"),
            F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("violating_rows"),
        ).withColumn(
            "violation_ppm", F.expr("violating_rows * 1000000 div n_rows").cast("bigint")
        )
        out = stats if out is None else out.unionAll(stats)
    return out.orderBy("fd")


_MMD_DIM = 64


@register(
    "drift_embedding_mmd",
    sql=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cnt AS (SELECT label, COUNT(*) AS n FROM v GROUP BY label),
    t AS (
      -- the second-moment matrix is symmetric: materialize only i <= j
      -- ({_MMD_DIM * (_MMD_DIM + 1) // 2} of {_MMD_DIM * _MMD_DIM} cells) and
      -- weight off-diagonal terms x2 in the Frobenius sum below
      SELECT label, i.i, j.j,
             CAST(ROUND(v.v[i.i + 1] * v.v[j.j + 1] * 1000000000) AS BIGINT) AS p
      FROM v
      CROSS JOIN generate_series(0, {_MMD_DIM - 1}) i(i)
      CROSS JOIN generate_series(0, {_MMD_DIM - 1}) j(j)
      WHERE j.j >= i.i  -- duckdb generate_series can't take lateral args
    ),
    s AS (SELECT label, i, j, SUM(p) AS sp FROM t GROUP BY label, i, j),
    d AS (
      SELECT a.label AS la, b.label AS lb, a.i, a.j,
             ROUND(CAST(a.sp AS DOUBLE) / 1000000000 / ca.n
                   - CAST(b.sp AS DOUBLE) / 1000000000 / cb.n, 9) AS md
      FROM s a
      JOIN s b ON b.i = a.i AND b.j = a.j AND a.label < b.label
      JOIN cnt ca ON ca.label = a.label
      JOIN cnt cb ON cb.label = b.label
    ),
    m AS (
      SELECT la, lb,
             ROUND(CAST(SUM(CAST(md * md AS DECIMAL(38,18)))
                        + SUM(CASE WHEN i < j
                                   THEN CAST(md * md AS DECIMAL(38,18))
                                   ELSE CAST(0 AS DECIMAL(38,18)) END)
                        AS DOUBLE), 9) AS mmd2
      FROM d GROUP BY la, lb
    )
    SELECT CAST(m.la AS INTEGER) AS label_a, CAST(m.lb AS INTEGER) AS label_b,
           CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b, m.mmd2
    FROM m JOIN cnt ca ON ca.label = m.la JOIN cnt cb ON cb.label = m.lb
    ORDER BY label_a, label_b
    """,
    tags=("drift", "embedding", "mmd"),
)
def drift_embedding_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel MMD² between every pair of label populations in embedding
    space, degree-2 polynomial kernel k(x,y) = (x·y)² — the two-sample
    test ML monitoring uses to answer "did this slice's embedding
    distribution move?" without assuming any parametric form.

    The scale trick: for k(x,y) = (x·y)², E[k(x,x')] = ‖E[xxᵀ]‖²_F, so
    MMD² = ‖M_A − M_B‖²_F over the groups' SECOND-MOMENT matrices — each
    group folds to a fixed mergeable state in ONE pass, and no cross-group
    pair is ever formed (the textbook U-statistic is O(n²) pairs; this is
    O(n·d²/2) map work: M is symmetric, so only the upper triangle's
    {_MMD_DIM * (_MMD_DIM + 1) // 2} of {_MMD_DIM * _MMD_DIM} cells
    materialize and off-diagonal terms count twice in the Frobenius sum).

    Exactness: each xᵢxⱼ term is one deterministic double product
    quantized to nano-units as round(x·1e9) BIGINT (round-9 kernel: the
    per-term DECIMAL(28,9) form measured 7.9s vs 4.5s at sf0.1 — scaled
    integers carry the same 1e-9 term contract through plain codegen'd
    longs, exact here to ~9e9 rows per (label, cell)); each
    mean-difference is a mirrored pair of double divisions rounded to
    1e-9; the low-volume Frobenius accumulation (cells x label pairs)
    stays exact decimal. Identical on every engine and partitioning."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    cnt = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    # symmetry: x_i*x_j == x_j*x_i bit-exactly, so explode only the upper
    # triangle (i <= j: 2080 of 4096 cells) and double off-diagonal terms in
    # the Frobenius accumulation — same value, half the explode+decimal work.
    # r11 (guide §4): two chained explodes + a plain projection instead of
    # the nested transform/flatten lambda building a 2080-struct array per
    # row — Generate and the arithmetic stay in whole-stage codegen, the
    # interpreted HOF (and its per-row array allocation) is gone; identical
    # cells, and the per-cell bigint is unchanged so the sum is
    # order-independent.
    t = (
        e.select("label", "v", F.explode(F.expr(f"sequence(0, {_MMD_DIM - 1})")).alias("i"))
        .select("label", "v", "i", F.explode(F.expr(f"sequence(i, {_MMD_DIM - 1})")).alias("j"))
        .select(
            "label",
            "i",
            "j",
            F.expr("cast(round(v[i] * v[j] * 1000000000) as bigint)").alias("p"),
        )
    )
    # pin: both sides of the label-pair join read the moment table (PERF.md "Pins")
    s = (
        t.groupBy("label", "i", "j")
        .agg(F.sum("p").alias("sp"))
        .localCheckpoint(eager=True)
    )
    a = s.select(
        F.col("label").alias("la"), "i", "j", F.col("sp").alias("spa")
    ).join(cnt.select(F.col("label").alias("la"), F.col("n").alias("na")), "la")
    b = s.select(
        F.col("label").alias("lb"), "i", "j", F.col("sp").alias("spb")
    ).join(cnt.select(F.col("label").alias("lb"), F.col("n").alias("nb")), "lb")
    d = (
        a.join(b, ["i", "j"])
        .filter(F.col("la") < F.col("lb"))
        .select(
            "la",
            "lb",
            "na",
            "nb",
            "i",
            "j",
            F.round(
                F.col("spa").cast("double") / F.lit(1000000000) / F.col("na")
                - F.col("spb").cast("double") / F.lit(1000000000) / F.col("nb"),
                9,
            ).alias("md"),
        )
    )
    return (
        d.groupBy("la", "lb", "na", "nb")
        .agg(
            # upper triangle only: add the off-diagonal sum once more (exact
            # decimal + decimal), identical to the full-matrix Frobenius sum
            F.round(
                (
                    F.sum(F.expr("cast(md * md as decimal(38,18))"))
                    + F.sum(
                        F.expr(
                            "case when i < j then cast(md * md as decimal(38,18))"
                            " else cast(0 as decimal(38,18)) end"
                        )
                    )
                ).cast("double"),
                9,
            ).alias("mmd2")
        )
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            "mmd2",
        )
        .orderBy("label_a", "label_b")
    )


_IW_Y_SRC, _IW_Y_TGT = 1997, 1998


@register(
    "drift_importance_weights",
    sql=f"""
    WITH b AS (
      SELECT month(o_orderdate) AS m, o_orderpriority AS priority,
             year(o_orderdate) AS y
      FROM orders WHERE year(o_orderdate) IN ({_IW_Y_SRC}, {_IW_Y_TGT})
    ),
    src AS (SELECT m, priority, COUNT(*) AS ns FROM b WHERE y = {_IW_Y_SRC} GROUP BY 1, 2),
    tgt AS (SELECT m, priority, COUNT(*) AS nt FROM b WHERE y = {_IW_Y_TGT} GROUP BY 1, 2),
    tots AS (
      SELECT (SELECT SUM(ns) FROM src) AS s_tot, (SELECT SUM(nt) FROM tgt) AS t_tot
    ),
    w AS (
      SELECT s.m, s.priority, s.ns, COALESCE(t.nt, 0) AS nt,
             -- w = (nt/t_tot) / (ns/s_tot), exact micro via cross-multiplication
             CAST(COALESCE(t.nt, 0) * tots.s_tot * 1000000
                  // (s.ns * tots.t_tot) AS BIGINT) AS w_micro
      FROM src s LEFT JOIN tgt t ON t.m = s.m AND t.priority = s.priority
      CROSS JOIN tots
    ),
    ess AS (
      -- ESS = (Σ ns·w)² / (Σ ns·w²); exact integers in micro² space
      SELECT CAST(SUM(ns) AS BIGINT) AS n_src,
             CAST(SUM(ns * w_micro) AS BIGINT) AS sw,
             SUM(CAST(ns AS DECIMAL(38,0)) * w_micro * w_micro) AS sww
      FROM w
    )
    SELECT w.m AS month, w.priority, CAST(w.ns AS BIGINT) AS n_src,
           CAST(w.nt AS BIGINT) AS n_tgt, w.w_micro,
           CAST(ROUND(CAST(ess.sw AS DOUBLE) * CAST(ess.sw AS DOUBLE)
                      / CAST(ess.sww AS DOUBLE), 3) AS DOUBLE) AS ess_overall
    FROM w CROSS JOIN ess
    ORDER BY month, priority
    """,
    tags=("drift", "importance-weighting", "covariate-shift"),
)
def drift_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-shift importance weights: reweight the {_IW_Y_SRC} source
    sample to match the {_IW_Y_TGT} target distribution over the
    (month × priority) grid — w(x) = p_tgt(x)/p_src(x), the standard fix
    when a model trains on last year's mix but serves this year's. Every
    row carries the overall EFFECTIVE SAMPLE SIZE (Kish: (Σnw)²/Σnw²) —
    the honesty metric: a tiny ESS says the shift is too large to fix by
    reweighting, retrain instead.

    Exactness: weights are one cross-multiplied integer micro-div per
    cell (no float ratios); ESS numerator/denominator accumulate in
    DECIMAL(38,0) (micro² terms overflow bigint), with one final integer
    div. Cells present in source but absent in target get weight 0 —
    exactly right: target has no such data.

    Scale: two year-filtered keyed aggs (partition-prunable), a
    grid-sized join, and a scalar fold. The grid is bounded by
    12 × |priorities| regardless of order volume."""
    o = table(spark, sf_dir, "orders")
    b = o.filter(F.year("o_orderdate").isin(_IW_Y_SRC, _IW_Y_TGT)).select(
        F.month("o_orderdate").alias("m"),
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").alias("y"),
    )
    src = b.filter(F.col("y") == _IW_Y_SRC).groupBy("m", "priority").agg(
        F.count(F.lit(1)).alias("ns")
    )
    tgt = b.filter(F.col("y") == _IW_Y_TGT).groupBy("m", "priority").agg(
        F.count(F.lit(1)).alias("nt")
    )
    tots = src.agg(F.sum("ns").alias("s_tot")).crossJoin(
        tgt.agg(F.sum("nt").alias("t_tot"))
    )
    w = (
        src.join(tgt, ["m", "priority"], "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "m",
            "priority",
            "ns",
            F.coalesce("nt", F.lit(0)).alias("nt"),
            F.expr("coalesce(nt, 0) * s_tot * 1000000 div (ns * t_tot)")
            .cast("bigint")
            .alias("w_micro"),
        )
    )
    ess = w.agg(
        F.sum("ns").cast("bigint").alias("n_src"),
        F.sum(F.col("ns") * F.col("w_micro")).cast("bigint").alias("sw"),
        F.sum(F.col("ns").cast("decimal(38,0)") * F.col("w_micro") * F.col("w_micro")).alias(
            "sww"
        ),
    )
    return (
        w.crossJoin(F.broadcast(ess))
        .select(
            F.col("m").alias("month"),
            "priority",
            F.col("ns").cast("bigint").alias("n_src"),
            F.col("nt").cast("bigint").alias("n_tgt"),
            "w_micro",
            F.round(
                F.col("sw").cast("double") * F.col("sw").cast("double")
                / F.col("sww").cast("double"),
                3,
            ).alias("ess_overall"),
        )
        .orderBy("month", "priority")
    )


# --------------------------------------------------------------------------
# per-dimension embedding PSI: which coordinates moved between populations
# --------------------------------------------------------------------------

# fixed bin edges shared by both engines (double comparisons are exact):
# (-inf,-1], (-1,-0.5], (-0.5,-0.25], (-0.25,0], (0,0.25], (0.25,0.5],
# (0.5,1], (1,inf) — symmetric around 0, tuned to unit-ish embeddings
_DPSI_EDGES = (-1.0, -0.5, -0.25, 0.0, 0.25, 0.5, 1.0)
_DPSI_FLAG = 0.2  # the standard "investigate" PSI threshold


def _dpsi_bin_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} <= {e} THEN {i}" for i, e in enumerate(_DPSI_EDGES)
    )
    return f"CASE {whens} ELSE {len(_DPSI_EDGES)} END"


@register(
    "drift_embedding_dim_psi",
    sql=f"""
    WITH v AS (
      SELECT vec_id, label % 2 AS pop, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cells AS (
      SELECT pop, d.d AS dim, {_dpsi_bin_sql("v.v[d.d + 1]")} AS bin
      FROM v CROSS JOIN generate_series(0, {_MMD_DIM - 1}) d(d)
    ),
    c AS (
      SELECT dim, bin,
             CAST(SUM(CASE WHEN pop = 0 THEN 1 ELSE 0 END) AS BIGINT) + 1 AS a,
             CAST(SUM(CASE WHEN pop = 1 THEN 1 ELSE 0 END) AS BIGINT) + 1 AS b
      FROM cells GROUP BY dim, bin
    ),
    tot AS (
      SELECT dim, CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
      FROM c GROUP BY dim
    ),
    terms AS (
      SELECT c.dim,
             ROUND((CAST(c.a AS DOUBLE) / t.ta - CAST(c.b AS DOUBLE) / t.tb)
                   * LN((CAST(c.a AS DOUBLE) / t.ta)
                        / (CAST(c.b AS DOUBLE) / t.tb)), 9) AS term
      FROM c JOIN tot t ON t.dim = c.dim
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS psi,
           CAST(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE) > {_DPSI_FLAG}
                AS BOOLEAN) AS drift_flag
    FROM terms GROUP BY dim
    ORDER BY dim
    """,
    tags=("drift", "embedding", "psi", "profiling"),
)
def drift_embedding_dim_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION population stability index between two embedding
    populations (even vs odd labels): each of the {_MMD_DIM} coordinates
    is binned on a fixed symmetric grid and scored with the same smoothed
    PSI as drift_psi_totalprice. Where drift_embedding_mmd answers "did
    the distribution move" with one kernel number, this query answers
    "WHICH coordinates moved" — the drill-down that tells you whether a
    drift alarm is one rotated feature or a broad shift, and the
    per-feature monitoring table model-observability stacks keep.

    Exactness: bin assignment compares doubles against shared literal
    edges (exact on both engines); counts are exact integers with +1
    smoothing per observed (dim, bin); each PSI term is ONE double
    expression rounded to 1e-9; the per-dim total follows the module
    decimal-sum contract (partition-count-invariant), surfaced at 1e-6.

    Scale: the explode is corpus × {_MMD_DIM} rows of map work feeding a
    (dim, bin) rollup — map-side combinable, ≤{_MMD_DIM} × {len(_DPSI_EDGES) + 1}
    groups; no joins wider than the dim-sized totals."""
    whens = None
    col = F.col("x")
    for i, e in enumerate(_DPSI_EDGES):
        whens = (
            F.when(col <= e, i) if whens is None else whens.when(col <= e, i)
        )
    bin_expr = whens.otherwise(len(_DPSI_EDGES))
    v = table(spark, sf_dir, "embeddings").select(
        (F.col("label") % 2).alias("pop"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    cells = v.select(
        "pop", F.posexplode("v").alias("dim", "x")
    ).select("pop", "dim", bin_expr.alias("bin"))
    c = cells.groupBy("dim", "bin").agg(
        (F.sum(F.when(F.col("pop") == 0, 1).otherwise(0)) + 1)
        .cast("bigint")
        .alias("a"),
        (F.sum(F.when(F.col("pop") == 1, 1).otherwise(0)) + 1)
        .cast("bigint")
        .alias("b"),
    )
    tot = c.groupBy("dim").agg(
        F.sum("a").cast("bigint").alias("ta"), F.sum("b").cast("bigint").alias("tb")
    )
    terms = c.join(tot, "dim").select(
        "dim",
        F.round(
            (F.col("a").cast("double") / F.col("ta") - F.col("b").cast("double") / F.col("tb"))
            * F.log(
                (F.col("a").cast("double") / F.col("ta"))
                / (F.col("b").cast("double") / F.col("tb"))
            ),
            9,
        ).alias("term"),
    )
    psi = F.sum(F.expr("cast(term as decimal(28,9))")).cast("double")
    return (
        terms.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.round(psi, 6).alias("psi"),
            (psi > _DPSI_FLAG).alias("drift_flag"),
        )
        .select(F.col("dim").cast("int").alias("dim"), "n_bins", "psi", "drift_flag")
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Page–Hinkley sequential drift detector over the hourly event-rate series
# ---------------------------------------------------------------------------

_PH_DELTA = 2_000_000  # tolerance delta (micro-events): ~0.5 sigma of the hourly rate
_PH_FAST = 12_000_000  # lambda (micro): sensitive threshold — pages the on-call
_PH_SLOW = 25_000_000  # lambda (micro): conservative threshold — opens an incident


@register(
    "drift_page_hinkley",
    sql=f"""
    WITH hourly AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    seq AS (
      SELECT hour_ts, x,
             ROW_NUMBER() OVER (ORDER BY hour_ts) AS t,
             SUM(x) OVER (ORDER BY hour_ts ROWS UNBOUNDED PRECEDING) AS cum
      FROM hourly
    ),
    terms AS (
      SELECT hour_ts, x, t,
             x * 1000000 - (cum * 1000000 // t) AS dev
      FROM seq
    ),
    walk AS (
      SELECT hour_ts, x,
             SUM(dev - {_PH_DELTA}) OVER (ORDER BY hour_ts ROWS UNBOUNDED PRECEDING)
               AS mu,
             SUM(dev + {_PH_DELTA}) OVER (ORDER BY hour_ts ROWS UNBOUNDED PRECEDING)
               AS md
      FROM terms
    ),
    ph AS (
      SELECT hour_ts, x,
             mu - LEAST(0, MIN(mu) OVER (ORDER BY hour_ts ROWS UNBOUNDED PRECEDING))
               AS ph_up,
             GREATEST(0, MAX(md) OVER (ORDER BY hour_ts ROWS UNBOUNDED PRECEDING)) - md
               AS ph_down
      FROM walk
    )
    SELECT hour_ts, x,
           CAST(ph_up AS BIGINT) AS ph_up_micro,
           CAST(ph_down AS BIGINT) AS ph_down_micro,
           CAST(CASE WHEN ph_up > {_PH_FAST} OR ph_down > {_PH_FAST}
                     THEN 1 ELSE 0 END AS INTEGER) AS alert_fast,
           CAST(CASE WHEN ph_up > {_PH_SLOW} OR ph_down > {_PH_SLOW}
                     THEN 1 ELSE 0 END AS INTEGER) AS alert_slow
    FROM ph
    ORDER BY hour_ts
    """,
    tags=("drift", "sequential", "page-hinkley", "monitoring"),
)
def drift_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided Page–Hinkley drift detector (Page 1954; the sequential
    test stream-monitoring frameworks run per metric) over the hourly
    event-rate series. Each side keeps its own deviation walk with a
    ±delta tolerance (delta = {_PH_DELTA / 1_000_000:.0f} events ≈ 0.5
    sigma of the hourly rate): PH_up = m − running-min flags a sustained
    rate INCREASE past lambda, PH_down = running-max − m a sustained
    DECREASE — at two thresholds (page at {_PH_FAST / 1_000_000:.0f},
    incident at {_PH_SLOW / 1_000_000:.0f}, the slo_burn_rate multi-policy
    shape). Unlike the fixed-window KS/PSI family this is an ANYTIME
    detector: one row per hour, alertable mid-stream, no reference window
    to curate; delta is what keeps a stationary series quiet (with
    delta=0 a random walk crosses any lambda eventually).

    Exactness: the recurrence is the prefix identity PH_up,t = m_t −
    min_(i≤t) m_i (the orders_cusum_changepoint trick), so no iteration
    exists; x̄ quantizes once per step via integer division and
    everything downstream is exact BIGINT — bit-identical cross-engine.

    Scale: one hourly rollup, then windows over the CALENDAR-bounded
    hour series (plan_lint class a). At stream scale the same statistic
    updates in O(1) state per metric — this batch form is its audit/
    backtest twin."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_ts"
        )
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w_ord = Window.orderBy("hour_ts")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = hourly.select(
        "hour_ts",
        "x",
        F.row_number().over(w_ord).alias("t"),
        F.sum("x").over(w_cum).alias("cum"),
    )
    terms = seq.select(
        "hour_ts",
        "x",
        (F.col("x") * 1_000_000 - F.expr("cum * 1000000 div t")).alias("dev"),
    )
    walk = terms.select(
        "hour_ts",
        "x",
        F.sum(F.col("dev") - _PH_DELTA).over(w_cum).alias("mu"),
        F.sum(F.col("dev") + _PH_DELTA).over(w_cum).alias("md"),
    )
    ph = walk.select(
        "hour_ts",
        "x",
        (F.col("mu") - F.least(F.lit(0), F.min("mu").over(w_cum))).alias("ph_up"),
        (F.greatest(F.lit(0), F.max("md").over(w_cum)) - F.col("md")).alias("ph_down"),
    )

    def alert(lam: int) -> F.Column:
        return ((F.col("ph_up") > lam) | (F.col("ph_down") > lam)).cast("int")

    return ph.select(
        "hour_ts",
        "x",
        F.col("ph_up").cast("bigint").alias("ph_up_micro"),
        F.col("ph_down").cast("bigint").alias("ph_down_micro"),
        alert(_PH_FAST).alias("alert_fast"),
        alert(_PH_SLOW).alias("alert_slow"),
    ).orderBy("hour_ts")


# --------------------------------------------------------------------------
# 1-D Wasserstein (earth mover) distance — the drift metric with units
# --------------------------------------------------------------------------


@register(
    "drift_wasserstein_1d",
    sql="""
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS vc,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS isf
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    pv AS (
      SELECT vc, CAST(SUM(isf) AS BIGINT) AS ca,
             CAST(SUM(1 - isf) AS BIGINT) AS cb
      FROM s GROUP BY vc
    ),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM pv),
    cum AS (
      SELECT vc,
             CAST(SUM(ca) OVER w AS BIGINT) AS cfa,
             CAST(SUM(cb) OVER w AS BIGINT) AS cfb,
             LEAD(vc) OVER (ORDER BY vc) AS next_vc
      FROM pv
      WINDOW w AS (ORDER BY vc ROWS UNBOUNDED PRECEDING)
    ),
    terms AS (
      SELECT CAST(ABS(cfa * tot.nb - cfb * tot.na) AS DECIMAL(19,0))
               * CAST(next_vc - vc AS DECIMAL(19,0)) AS contrib,
             tot.na, tot.nb
      FROM cum CROSS JOIN tot
      WHERE next_vc IS NOT NULL
    )
    SELECT na, nb,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_values,
           ROUND(CAST(CAST(SUM(contrib) AS DECIMAL(38,0)) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 4) AS w1_cents
    FROM terms GROUP BY na, nb
    """,
    tags=("drift", "wasserstein", "distribution"),
)
def drift_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover) distance between the price
    distributions of finished and open orders: W1 = ∫|F_A − F_B| dv over
    the observed cent grid — the drift metric with UNITS (cents of price
    mass to move), completing the suite's KS (sup metric), PSI (binned
    log-ratio), JS (token mass) and MMD (kernel) family. Same split as
    drift_ks_two_sample, so the two reports read together.

    Exactness: each segment contributes |cumA·nb − cumB·na|·gap_cents, an
    exact DECIMAL(38,0) product of BIGINTs summed exactly; ONE mirrored
    double division by na·nb at the end. No float accumulation exists.

    Scale: per-value counts are one keyed groupBy; the cumulative and the
    next-value LEAD reuse drift_ks_two_sample's two-level prefix idiom —
    bucket carry-ins via a domain-bounded window, the heavy cumsum
    partitioned BY bucket, and the bucket-crossing gap recovered from the
    broadcast first-value-per-bucket table. The DuckDB oracle uses the
    equivalent single window — engine equivalence, not plan equivalence."""
    s = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("isf"),
        )
    )
    pv = s.groupBy("vc").agg(
        F.sum("isf").cast("bigint").alias("ca"),
        F.sum(1 - F.col("isf")).cast("bigint").alias("cb"),
    ).withColumn("bkt", F.floor(F.col("vc") / (_KS_BUCKET_W * 100)).cast("bigint"))
    tot = pv.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    # level 1: bucket subtotals -> exclusive carry-ins + the NEXT bucket's
    # first value (to close the bucket-crossing gap) — all domain-bounded
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    wnext = Window.orderBy("bkt")
    boff = (
        pv.groupBy("bkt")
        .agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb"), F.min("vc").alias("first_vc"))
        .select(
            "bkt",
            F.coalesce(F.sum("ba").over(wb), F.lit(0)).cast("bigint").alias("oa"),
            F.coalesce(F.sum("bb").over(wb), F.lit(0)).cast("bigint").alias("ob"),
            F.lead("first_vc").over(wnext).alias("next_bucket_first"),
        )
    )
    # level 2: heavy cumsum + in-bucket lead, partitioned by bucket
    wl = Window.partitionBy("bkt").orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlead = Window.partitionBy("bkt").orderBy("vc")
    cum = pv.join(F.broadcast(boff), "bkt").select(
        "vc",
        (F.col("oa") + F.sum("ca").over(wl)).cast("bigint").alias("cfa"),
        (F.col("ob") + F.sum("cb").over(wl)).cast("bigint").alias("cfb"),
        F.coalesce(F.lead("vc").over(wlead), F.col("next_bucket_first")).alias("next_vc"),
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("next_vc").isNotNull())
        .select(
            (
                F.abs(F.col("cfa") * F.col("nb") - F.col("cfb") * F.col("na"))
                .cast("decimal(19,0)")
                * (F.col("next_vc") - F.col("vc")).cast("decimal(19,0)")
            ).alias("contrib"),
            "na",
            "nb",
        )
    )
    return terms.groupBy("na", "nb").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_values"),
        F.round(
            F.sum("contrib").cast("decimal(38,0)").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double")),
            4,
        ).alias("w1_cents"),
    ).select("na", "nb", "n_values", "w1_cents")
