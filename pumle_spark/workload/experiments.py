"""Experimentation & privacy analytics: sample-ratio-mismatch audit, CUPED
variance reduction, Poisson-bootstrap confidence intervals, k-anonymity risk.

The shapes an experimentation platform (and the privacy review that gates a
training-data release) runs daily, expressed with the repo's determinism
discipline so the DuckDB oracle hash-matches bit for bit:

- ``abtest_srm_check`` — deterministic 50/30/20 hash assignment of customers
  to three arms and a chi-square sample-ratio-mismatch test. The chi-square
  is computed in EXACT integer arithmetic: (100·obs − n·w)² / (100·n·w)
  keeps every term rational until a single mirrored double division, so no
  engine-order float summation exists anywhere.
- ``abtest_cuped_adjusted`` — CUPED (Deng et al. 2013, WSDM): regress the
  post-period metric on the pre-period covariate, pooled
  θ = cov(X,Y)/var(X), and report per-arm adjusted means
  ȳ − θ·(x̄ − x̄_global). Moments are exact DECIMAL(38,0) sums of integer
  cents (bigint would overflow Σxy at sf≳1), divided once at the end.
- ``stats_bootstrap_ci`` — the Poisson bootstrap (Chamandy et al. 2012,
  Google): resample weights w ~ Poisson(1) drawn per (row, replicate) from
  a 48-bit md5 uniform against PRECOMPUTED integer thresholds
  ⌊CDF·2⁴⁸⌋, so weight assignment is pure integer comparison. This is THE
  cluster-scale bootstrap: one pass, no sampling with replacement over a
  shuffled corpus, map-side partial aggregation into B groups.
- ``privacy_k_anonymity`` — equivalence-class audit over quasi-identifiers
  (nation, market segment, $1000 balance band): for each k in {2,5,10,25},
  how many classes and rows fall below k-anonymity. Pure integer counts.

Scale notes per query in the docstrings; none of the four shuffles anything
wider than an aggregate's partial rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.sources.local import local_frame
from pumle_spark.tables import table
from pumle_spark.workload import register

# Poisson(1) inverse-CDF thresholds scaled by 2^32: weight k iff
# u32 < _POIS_T[k] (first match wins), else 6. floor(cum_cdf * 2^32) with
# cum_cdf = e^-1 * (1 + 1 + 1/2! + ...) — the literals below are exact and
# shared verbatim by the Spark expression and the DuckDB oracle, so the
# drawn weight is identical on both engines for every (row, replicate).
# Round-8 change (measured, see PERF.md): 32-bit uniforms let ONE md5
# digest serve FOUR replicates (4 x 8-hex slices of the 128-bit digest),
# quartering the hash work; the PMF quantization error moves from 2^-48
# to 2^-32 — still ~1e-10 relative, far below Monte-Carlo noise.
_POIS_T = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
)
_BOOT_SLICES = 4  # replicates per md5 digest

# B=100 replicates (round-7 change, measured): the B=200 interval at sf0.1
# was [24943532.63, 25092859.54] (width 149327 cents), B=100 gives
# [24943532.63, 25090250.01] (width 146717, -1.7%) at HALF the md5-draw
# cost — the Monte-Carlo noise of the 2.5%/97.5% order statistics grows
# ~sqrt(2) but stays ~2% of the interval width. B is the cost knob the
# round-6 verdict said to turn instead of another kernel rewrite.
_BOOT_B = 100  # bootstrap replicates
_BOOT_LO = 4  # rank of the 2.5% order statistic among 100 (ceil(0.025*100)+1)
_BOOT_HI = 97  # rank of the 97.5% order statistic (floor(0.975*100))

_CHI2_CRIT_DF2 = 5.991464547107979  # chi-square 0.95 quantile, df = 2

# pre-period strictly before, post-period on/after. The driver's orders span
# 1995-01-01..2001-08-01 (TESTDATA.md), so the midpoint split gives every
# customer a populated covariate window.
_CUPED_SPLIT = "1998-07-01"


def _weight_case_sql(u32: str) -> str:
    """CASE expression mapping a 32-bit uniform to a Poisson(1) weight —
    identical text works in both Spark SQL and DuckDB."""
    arms = " ".join(f"WHEN {u32} < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    return f"CASE {arms} ELSE 6 END"


# The SAME thresholds as 8-hex-char string constants: a fixed-width
# lowercase hex slice compares lexicographically exactly as its numeric
# value (0-9 < a-f in ASCII), so the weight draw needs NO conv()/UBIGINT
# parse at all — the round-9 kernel change that, with BIGINT replicate
# sums, took the sf0.1 time 14.2 -> 4.7s (min-of-3, idle). Weights are
# bit-identical to the numeric form; the replay test checks them against
# the integer _POIS_T.
_POIS_T_HEX = tuple(format(t, "08x") for t in _POIS_T)


def _weight_case_hex(s: str) -> str:
    """CASE mapping an 8-hex-char digest slice to a Poisson(1) weight by
    string comparison — identical text works in Spark SQL and DuckDB."""
    arms = " ".join(f"WHEN {s} < '{h}' THEN {k}" for k, h in enumerate(_POIS_T_HEX))
    return f"CASE {arms} ELSE 6 END"


def _boot_digest_sql(d: int) -> str:
    """The d-th per-row bootstrap digest (DuckDB text)."""
    return f"md5('boot|' || CAST(o_orderkey AS VARCHAR) || '|' || {d})"


def _boot_w_sql(b: int, spark_side: bool = False) -> str:
    """Weight expression for replicate b over the sliced digest — the hex
    slice -> integer step differs per engine ('0x'-cast vs conv), the CASE
    thresholds are the shared _POIS_T literals."""
    d, j = b // _BOOT_SLICES, b % _BOOT_SLICES
    if spark_side:
        u32 = f"CAST(conv(substring(dg{d}, {1 + 8 * j}, 8), 16, 10) AS BIGINT)"
    else:
        u32 = f"('0x' || substr(dg{d}, {1 + 8 * j}, 8))::BIGINT"
    return _weight_case_sql(u32)


# --------------------------------------------------------------------------
# sample-ratio-mismatch chi-square audit
# --------------------------------------------------------------------------


@register(
    "abtest_srm_check",
    sql=f"""
    WITH assigned AS (
      SELECT CASE WHEN bucket < 50 THEN 'control'
                  WHEN bucket < 80 THEN 'variant_a'
                  ELSE 'variant_b' END AS arm,
             CASE WHEN bucket < 50 THEN 50 WHEN bucket < 80 THEN 30
                  ELSE 20 END AS weight_pct
      FROM (SELECT ('0x' || substr(md5('srm|' || CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT % 100
                     AS bucket
            FROM customer)
    ),
    per_arm AS (
      SELECT arm, weight_pct, CAST(COUNT(*) AS BIGINT) AS n_units
      FROM assigned GROUP BY arm, weight_pct
    ),
    tot AS (SELECT CAST(SUM(n_units) AS BIGINT) AS n FROM per_arm),
    terms AS (
      SELECT arm, weight_pct, n_units, tot.n,
             CAST(100 * n_units - tot.n * weight_pct AS DECIMAL(19,0))
               * CAST(100 * n_units - tot.n * weight_pct AS DECIMAL(19,0)) AS numer
      FROM per_arm CROSS JOIN tot
    ),
    total AS (
      SELECT CAST(SUM(numer * (300 // weight_pct)) AS DECIMAL(38,0)) AS numer_all,
             CAST(MAX(n) AS BIGINT) AS n
      FROM terms
    )
    SELECT t.arm,
           CAST(t.weight_pct AS INTEGER) AS weight_pct,
           t.n_units,
           ROUND(CAST(t.n * t.weight_pct AS DOUBLE) / 100.0, 4) AS expected_units,
           ROUND(CAST(t.numer AS DOUBLE) / CAST(100 * t.n * t.weight_pct AS DOUBLE), 6)
             AS chi2_contrib,
           ROUND(CAST(total.numer_all AS DOUBLE) / CAST(100 * total.n * 300 AS DOUBLE), 6)
             AS chi2_total,
           CAST(CAST(total.numer_all AS DOUBLE) / CAST(100 * total.n * 300 AS DOUBLE)
                  > {_CHI2_CRIT_DF2} AS BOOLEAN) AS srm_flag
    FROM terms t CROSS JOIN total
    ORDER BY t.arm
    """,
    tags=("experiments", "abtest", "chi-square"),
)
def abtest_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit for a 50/30/20 experiment: customers are
    hash-assigned (md5('srm|'||key) mod 100 — content-free, stable under
    corpus growth), observed arm sizes are tested against the design ratios
    with a chi-square. SRM is the first gate every experimentation platform
    runs: a biased assignment invalidates the experiment before any metric
    is read.

    Exactness: chi-square terms are kept rational — the numerator
    (100·obs − n·w)² is an exact DECIMAL(19,0)², the total re-scales each
    term by 300/w (integer for w ∈ {50,30,20}) onto the common denominator
    100·n·300, and each statistic is ONE double division of exact integers.
    No float sum exists, so engine aggregation order cannot perturb the
    rounded output.

    Scale: assignment is per-row map work; the only shuffle carries 3
    partial-aggregated rows. The chi-square is computed on a 3-row table.
    """
    c = table(spark, sf_dir, "customer")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("srm|"), F.col("c_custkey").cast("string"))), 1, 4), 16, 10)
        .cast("bigint")
        % 100
    )
    assigned = c.select(
        F.when(bucket < 50, "control").when(bucket < 80, "variant_a").otherwise("variant_b").alias("arm"),
        F.when(bucket < 50, 50).when(bucket < 80, 30).otherwise(20).alias("weight_pct"),
    )
    per_arm = assigned.groupBy("arm", "weight_pct").agg(F.count(F.lit(1)).cast("bigint").alias("n_units"))
    tot = per_arm.agg(F.sum("n_units").cast("bigint").alias("n"))
    terms = per_arm.crossJoin(F.broadcast(tot)).withColumn(
        "numer",
        F.expr("CAST(100 * n_units - n * weight_pct AS DECIMAL(19,0))")
        * F.expr("CAST(100 * n_units - n * weight_pct AS DECIMAL(19,0))"),
    )
    total = terms.agg(
        F.sum(F.col("numer") * F.expr("300 div weight_pct")).cast("decimal(38,0)").alias("numer_all"),
        F.max("n").cast("bigint").alias("n_all"),
    )
    chi2_total = F.col("numer_all").cast("double") / (F.lit(100) * F.col("n_all") * F.lit(300)).cast("double")
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "arm",
            F.col("weight_pct").cast("int").alias("weight_pct"),
            "n_units",
            F.round((F.col("n") * F.col("weight_pct")).cast("double") / 100.0, 4).alias("expected_units"),
            F.round(
                F.col("numer").cast("double") / (F.lit(100) * F.col("n") * F.col("weight_pct")).cast("double"),
                6,
            ).alias("chi2_contrib"),
            F.round(chi2_total, 6).alias("chi2_total"),
            (chi2_total > _CHI2_CRIT_DF2).alias("srm_flag"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# CUPED adjusted means
# --------------------------------------------------------------------------


@register(
    "abtest_cuped_adjusted",
    sql=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(COALESCE(SUM(CASE WHEN o_orderdate <  DATE '{_CUPED_SPLIT}'
                   THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS x_cents,
             CAST(COALESCE(SUM(CASE WHEN o_orderdate >= DATE '{_CUPED_SPLIT}'
                   THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS y_cents
      FROM orders GROUP BY o_custkey
    ),
    assigned AS (
      SELECT x_cents, y_cents,
             CASE WHEN ('0x' || substr(md5('cuped|' || CAST(o_custkey AS VARCHAR)), 1, 4))::BIGINT % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM per_cust
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x_cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(y_cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x_cents AS DECIMAL(19,0)) * CAST(x_cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(x_cents AS DECIMAL(19,0)) * CAST(y_cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy
      FROM assigned
    ),
    th AS (
      SELECT n, sx,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               AS theta
      FROM mom
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(CAST(x_cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS asx,
             CAST(SUM(CAST(y_cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS asy
      FROM assigned GROUP BY arm
    )
    SELECT arm, n_units,
           ROUND(CAST(asy AS DOUBLE) / n_units, 2) AS mean_y_cents,
           ROUND(CAST(asx AS DOUBLE) / n_units, 2) AS mean_x_cents,
           ROUND(CAST(asy AS DOUBLE) / n_units
                 - th.theta * (CAST(asx AS DOUBLE) / n_units
                               - CAST(th.sx AS DOUBLE) / th.n), 2) AS mean_y_cuped_cents,
           ROUND(th.theta, 6) AS theta
    FROM arms CROSS JOIN th
    ORDER BY arm
    """,
    tags=("experiments", "abtest", "cuped", "variance-reduction"),
)
def abtest_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced treatment means (Deng et al. 2013): per
    customer, X = pre-{_CUPED_SPLIT} order cents and Y = post-period cents;
    pooled θ = cov(X,Y)/var(X) from exact DECIMAL(38,0) moment sums; per
    arm (50/50 md5 split) report raw and adjusted means
    ȳ − θ·(x̄ − x̄_global). The adjusted means preserve the treatment
    effect while shrinking variance by the pre-period correlation — the
    standard trick that cuts experiment runtimes 30-50%.

    Exactness: cents are integers; all five moments are DECIMAL(38,0) sums
    (Σxy overflows BIGINT once customer lifetime cents exceed ~3e9·3e9);
    θ and the means are single mirrored double expressions of those exact
    sums, so no engine float-sum ordering exists.

    Scale: one partial-aggregated groupBy of orders (per-customer), one
    5-column moment aggregate, one 2-row arm aggregate. Nothing wider than
    the customer rollup ever shuffles, and θ is a broadcast scalar.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = o.groupBy("o_custkey").agg(
        F.coalesce(F.sum(F.when(F.col("o_orderdate") < F.lit(_CUPED_SPLIT).cast("date"), cents)), F.lit(0))
        .cast("bigint")
        .alias("x_cents"),
        F.coalesce(F.sum(F.when(F.col("o_orderdate") >= F.lit(_CUPED_SPLIT).cast("date"), cents)), F.lit(0))
        .cast("bigint")
        .alias("y_cents"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("cuped|"), F.col("o_custkey").cast("string"))), 1, 4), 16, 10)
        .cast("bigint")
        % 100
    )
    assigned = per_cust.select(
        "x_cents", "y_cents", F.when(bucket < 50, "control").otherwise("treatment").alias("arm")
    )
    xd = F.col("x_cents").cast("decimal(19,0)")
    yd = F.col("y_cents").cast("decimal(19,0)")
    mom = assigned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
    )
    th = mom.select(
        "n",
        "sx",
        (
            (F.col("n").cast("double") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (F.col("n").cast("double") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        ).alias("theta"),
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum(xd).cast("decimal(38,0)").alias("asx"),
        F.sum(yd).cast("decimal(38,0)").alias("asy"),
    )
    mean_y = F.col("asy").cast("double") / F.col("n_units")
    mean_x = F.col("asx").cast("double") / F.col("n_units")
    gmean_x = F.col("sx").cast("double") / F.col("n")
    return (
        arms.crossJoin(F.broadcast(th))
        .select(
            "arm",
            "n_units",
            F.round(mean_y, 2).alias("mean_y_cents"),
            F.round(mean_x, 2).alias("mean_x_cents"),
            F.round(mean_y - F.col("theta") * (mean_x - gmean_x), 2).alias("mean_y_cuped_cents"),
            F.round("theta", 6).alias("theta"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# Poisson bootstrap confidence interval
# --------------------------------------------------------------------------


@register(
    "stats_bootstrap_ci",
    sql=f"""
    WITH base AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    hashed AS (
      SELECT cents,
             {", ".join(f"{_boot_digest_sql(d)} AS dg{d}" for d in range(_BOOT_B // _BOOT_SLICES))}
      FROM base
    ),
    weighted AS (
      SELECT cents,
             {", ".join(f"CAST({_boot_w_sql(b)} AS BIGINT) AS w{b}" for b in range(_BOOT_B))}
      FROM hashed
    ),
    wide AS (
      SELECT CAST(SUM(CAST(cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
             CAST(COUNT(*) AS BIGINT) AS n,
             {", ".join(
                 f"CAST(SUM(CAST(w{b} AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s{b},"
                 f" CAST(SUM(w{b}) AS BIGINT) AS c{b}" for b in range(_BOOT_B))}
      FROM weighted
    ),
    means AS (
      SELECT s, n, u.b,
             CASE u.b {" ".join(f"WHEN {b} THEN CAST(s{b} AS DOUBLE) / NULLIF(CAST(c{b} AS DOUBLE), 0)" for b in range(_BOOT_B))} END
               AS mean_cents
      FROM wide CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) u
    ),
    ranked AS (
      SELECT s, n, mean_cents,
             ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rk FROM means
    )
    SELECT CAST({_BOOT_B} AS INTEGER) AS n_resamples,
           n AS n_rows,
           ROUND(CAST(s AS DOUBLE) / n, 2) AS mean_obs_cents,
           ROUND(MAX(CASE WHEN rk = {_BOOT_LO} THEN mean_cents END), 2) AS ci_lo_cents,
           ROUND(MAX(CASE WHEN rk = {_BOOT_HI} THEN mean_cents END), 2) AS ci_hi_cents
    FROM ranked
    GROUP BY n, s
    """,
    tags=("experiments", "bootstrap", "statistics"),
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap confidence interval for the mean order value
    (Chamandy et al. 2012 — "Estimating uncertainty for massive data
    streams", the bootstrap Google runs at cluster scale): every (row,
    replicate) pair draws w ~ Poisson(1) from a 32-bit md5 uniform against
    precomputed integer thresholds ⌊CDF·2³²⌋ = {_POIS_T}, replicate means
    are Σw·x/Σw, and the CI is the ({_BOOT_LO},{_BOOT_HI}) order-statistic
    pair of the {_BOOT_B} means (2.5%/97.5% with explicit ranks — no
    engine-specific percentile interpolation).

    Exactness: weights are integer comparisons; per-replicate sums are
    DECIMAL(38,0); each mean is one double division; order statistics are
    rank-selected with a (mean, b) total order. Nothing float-accumulates.

    Scale: the ×{_BOOT_B} expansion is generated per-row (no shuffle) and
    collapses through map-side partial aggregation into exactly {_BOOT_B}
    groups — the canonical one-pass bootstrap that replaces resample-with-
    replacement (which would shuffle the corpus B times). 100 TB × B
    replicates never materializes: each partition emits {_BOOT_B} partial
    rows. Round-8 kernel (measured, PERF.md): the expansion runs as TWO
    plain Generates — 25 digests per row, then 4 slices per digest — so
    the md5 count is B/4 per row, and every step stays inside whole-stage
    codegen (higher-order-lambda and 2B-buffer wide-agg forms both
    measured SLOWER than the original; this form is 16.2s → 10.9s at
    sf0.1). Round-9 kernel (measured, PERF.md): the weight draw compares
    the 8-hex digest slice against STRING thresholds (fixed-width
    lowercase hex orders exactly as its numeric value — no conv parse)
    and the replicate sums are plain BIGINT (exact to ~2.5e10 rows,
    ANSI-loud beyond; bit-identical means) — 14.2 → 4.7s at sf0.1.
    """
    o = table(spark, sf_dir, "orders")
    # r11: round-robin repartition of the slim (key, cents) projection —
    # the B/4-md5-per-row expansion otherwise runs entirely inside the
    # single-row-group scan stage (measured: ONE task holding 3.4 s of the
    # query's 4.4 s; guide §2.5 input skew). 16 bytes/row crosses the
    # shuffle; the hash kernel then uses every core.
    base = o.select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    ).repartition(spark.sparkContext.defaultParallelism)
    n_digests = _BOOT_B // _BOOT_SLICES
    # ONE md5 per (row, digest): each 128-bit digest serves FOUR replicates
    # (8-hex slices), quartering the hash work vs the old per-(row,
    # replicate) digest. Every step below is a PLAIN projection/Generate —
    # no higher-order lambdas, which Spark evaluates interpreted per
    # element (measured: an inline(flatten(transform(...))) form of this
    # kernel ran 21.9s vs 12s, and a 202-buffer wide aggregate 19.5s —
    # the codegen'd explode pipeline wins).
    digests = base.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(n_digests - 1))).alias("d"),
        F.col("o_orderkey"),
    ).select(
        "cents",
        "d",
        F.md5(
            F.concat(
                F.lit("boot|"), F.col("o_orderkey").cast("string"), F.lit("|"),
                F.col("d").cast("string"),
            )
        ).alias("dg"),
    )
    slices = digests.select(
        "cents",
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("d") * _BOOT_SLICES + F.lit(j)).alias("b"),
                    F.substring("dg", 1 + 8 * j, 8).alias("s"),
                )
                for j in range(_BOOT_SLICES)
            ])
        ).alias("p"),
    ).select("cents", F.col("p.b").alias("b"), F.expr(_weight_case_hex("p.s")).alias("w"))
    # BIGINT replicate sums: w <= 6 and cents < 6e7, so each product is
    # < 3.6e8 and a per-replicate total stays exact below ~2.5e10 rows;
    # Spark 4 runs ANSI arithmetic, so past that bound the sum FAILS LOUDLY
    # instead of wrapping (the decimal(38) wide-sum fallback for >10^10-row
    # tables measured 1.6x slower end-to-end — see PERF.md round 9). The
    # division inputs are the same exact integers either way, so the
    # replicate means are bit-identical to the decimal form's.
    means = slices.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.nullif(F.sum("w").cast("double"), F.lit(0))
        ).alias("mean_cents")
    )
    obs = base.agg(
        F.sum(F.col("cents").cast("decimal(19,0)")).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ranked = means.select(
        "mean_cents", F.row_number().over(Window.orderBy("mean_cents", "b")).alias("rk")
    )
    # ungrouped agg → ALWAYS one row (even over zero replicates), so the
    # empty-input shape matches the oracle's ungrouped `wide` CTE: one row
    # of NULLs with n_rows = 0, never an empty result.
    cis = ranked.agg(
        F.max(F.when(F.col("rk") == _BOOT_LO, F.col("mean_cents"))).alias("lo"),
        F.max(F.when(F.col("rk") == _BOOT_HI, F.col("mean_cents"))).alias("hi"),
    )
    return obs.crossJoin(F.broadcast(cis)).select(
        F.lit(_BOOT_B).cast("int").alias("n_resamples"),
        F.col("n").alias("n_rows"),
        F.round(F.col("s").cast("double") / F.col("n"), 2).alias("mean_obs_cents"),
        F.round("lo", 2).alias("ci_lo_cents"),
        F.round("hi", 2).alias("ci_hi_cents"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit
# --------------------------------------------------------------------------


@register(
    "privacy_k_anonymity",
    sql="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_classes FROM qi),
    ks AS (SELECT unnest([2, 5, 10, 25]) AS k)
    SELECT CAST(ks.k AS INTEGER) AS k,
           tot.n_classes,
           CAST(COALESCE(COUNT(*) FILTER (WHERE qi.class_size < ks.k), 0) AS BIGINT)
             AS n_classes_below,
           CAST(COALESCE(SUM(qi.class_size) FILTER (WHERE qi.class_size < ks.k), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(COALESCE(SUM(qi.class_size) FILTER (WHERE qi.class_size < ks.k), 0)
                  * 1000000 // tot.n_rows AS BIGINT) AS risk_ppm
    FROM qi CROSS JOIN tot CROSS JOIN ks
    GROUP BY ks.k, tot.n_classes, tot.n_rows
    ORDER BY k
    """,
    tags=("privacy", "k-anonymity", "audit"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk audit (Sweeney 2002) over the quasi-identifier
    tuple (nation, market segment, $1000 account-balance band): an
    equivalence class smaller than k means those customers are
    re-identifiable by joining the quasi-identifiers against an external
    dataset. For each k in {2, 5, 10, 25} the report counts classes and
    rows below the threshold plus the at-risk fraction in exact integer
    ppm — the release gate a privacy review runs before a dataset ships.

    Scale: one partial-aggregated groupBy builds the class table (bounded
    by the QI-space cardinality, ~25·5·bands, NOT the row count); the k
    fan-out and rollup run over that small table. Band division is
    truncating integer div, identical across engines for negatives too.
    """
    c = table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100000").alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    tot = qi.agg(
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
    )
    ks = [2, 5, 10, 25]
    at_risk = F.sum(F.when(F.col("class_size") < F.col("k"), F.col("class_size")))
    return (
        qi.crossJoin(F.broadcast(tot))
        .select("class_size", "n_rows", "n_classes", F.explode(F.array(*[F.lit(k) for k in ks])).alias("k"))
        .groupBy("k", "n_classes", "n_rows")
        .agg(
            F.coalesce(F.count(F.when(F.col("class_size") < F.col("k"), F.lit(1))), F.lit(0))
            .cast("bigint")
            .alias("n_classes_below"),
            F.coalesce(at_risk, F.lit(0)).cast("bigint").alias("rows_at_risk"),
            F.expr(
                "CAST(COALESCE(SUM(CASE WHEN class_size < k THEN class_size END), 0) * 1000000"
                " div MAX(n_rows) AS BIGINT)"
            ).alias("risk_ppm"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_classes",
            "n_classes_below",
            "rows_at_risk",
            "risk_ppm",
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# difference-in-differences estimate
# --------------------------------------------------------------------------


@register(
    "abtest_diff_in_diff",
    sql=f"""
    WITH cells AS (
      SELECT CASE WHEN ('0x' || substr(md5('did|' || CAST(o_custkey AS VARCHAR)), 1, 4))::BIGINT % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS arm,
             CASE WHEN o_orderdate < DATE '{_CUPED_SPLIT}' THEN 'pre' ELSE 'post' END AS period,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    agg AS (
      SELECT arm, period, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM cells GROUP BY arm, period
    ),
    did AS (
      SELECT ROUND(
               (CAST(SUM(CASE WHEN arm = 'treatment' AND period = 'post' THEN sum_cents END) AS DOUBLE)
                / SUM(CASE WHEN arm = 'treatment' AND period = 'post' THEN n_orders END)
                - CAST(SUM(CASE WHEN arm = 'treatment' AND period = 'pre' THEN sum_cents END) AS DOUBLE)
                  / SUM(CASE WHEN arm = 'treatment' AND period = 'pre' THEN n_orders END))
               - (CAST(SUM(CASE WHEN arm = 'control' AND period = 'post' THEN sum_cents END) AS DOUBLE)
                  / SUM(CASE WHEN arm = 'control' AND period = 'post' THEN n_orders END)
                  - CAST(SUM(CASE WHEN arm = 'control' AND period = 'pre' THEN sum_cents END) AS DOUBLE)
                    / SUM(CASE WHEN arm = 'control' AND period = 'pre' THEN n_orders END)),
               2) AS did_cents
      FROM agg
    )
    SELECT agg.arm, agg.period, agg.n_orders, agg.sum_cents,
           ROUND(CAST(agg.sum_cents AS DOUBLE) / agg.n_orders, 2) AS mean_cents,
           did.did_cents
    FROM agg, did
    ORDER BY arm, period
    """,
    tags=("experiments", "abtest", "causal"),
)
def abtest_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (Card & Krueger 1994 shape): a
    deterministic 50/50 md5 arm assignment crossed with the
    pre/post-{_CUPED_SPLIT} period split gives the four DiD cells over
    order value; the estimate is (ΔT) − (ΔC) of cell means — the
    workhorse causal read-out when treatment lands at a known date and a
    concurrent control group absorbs the secular trend (here ≈ 0 by
    construction, since the md5 arms are exchangeable — the A/A shape a
    platform uses to validate the pipeline itself).

    Exactness: cells aggregate integer cents and counts; the four means
    and the DiD contrast are ONE mirrored double expression of those
    exact sums, rounded once.

    Scale shape: a single conditional aggregation pass over the fact
    table into 4 cells (map-side partials — the groupBy state is 4
    rows), then single-row scalar math broadcast back onto the cells."""
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("did|"), F.col("o_custkey").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    cells = o.select(
        F.when(bucket < 50, "control").otherwise("treatment").alias("arm"),
        F.when(
            F.col("o_orderdate") < F.lit(_CUPED_SPLIT).cast("date"), "pre"
        )
        .otherwise("post")
        .alias("period"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    agg = cells.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )

    def _cell(arm: str, period: str, col: str):
        return F.sum(
            F.when((F.col("arm") == arm) & (F.col("period") == period), F.col(col))
        )

    did = agg.agg(
        F.round(
            (
                _cell("treatment", "post", "sum_cents").cast("double")
                / _cell("treatment", "post", "n_orders")
                - _cell("treatment", "pre", "sum_cents").cast("double")
                / _cell("treatment", "pre", "n_orders")
            )
            - (
                _cell("control", "post", "sum_cents").cast("double")
                / _cell("control", "post", "n_orders")
                - _cell("control", "pre", "sum_cents").cast("double")
                / _cell("control", "pre", "n_orders")
            ),
            2,
        ).alias("did_cents")
    )
    return (
        agg.crossJoin(F.broadcast(did))
        .select(
            "arm",
            "period",
            "n_orders",
            "sum_cents",
            F.round(F.col("sum_cents").cast("double") / F.col("n_orders"), 2).alias(
                "mean_cents"
            ),
            "did_cents",
        )
        .orderBy("arm", "period")
    )


# --------------------------------------------------------------------------
# l-diversity (sensitive-attribute diversity within QI classes)
# --------------------------------------------------------------------------

_LDIV_LS = (2, 3, 5)


@register(
    "privacy_l_diversity",
    sql=f"""
    WITH qi AS (
      SELECT c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
      FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_classes FROM qi),
    ls AS (SELECT unnest([{", ".join(str(l) for l in _LDIV_LS)}]) AS l)
    SELECT CAST(ls.l AS INTEGER) AS l,
           tot.n_classes,
           CAST(COALESCE(COUNT(*) FILTER (WHERE qi.n_sensitive < ls.l), 0) AS BIGINT)
             AS n_classes_below,
           CAST(COALESCE(SUM(qi.class_size) FILTER (WHERE qi.n_sensitive < ls.l), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(COALESCE(SUM(qi.class_size) FILTER (WHERE qi.n_sensitive < ls.l), 0)
                  * 1000000 // tot.n_rows AS BIGINT) AS risk_ppm
    FROM qi CROSS JOIN tot CROSS JOIN ls
    GROUP BY ls.l, tot.n_classes, tot.n_rows
    ORDER BY l
    """,
    tags=("privacy", "l-diversity", "audit"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala 2007) — the attack
    k-anonymity misses: a class can be large yet UNIFORM in its
    sensitive attribute, so membership alone discloses it. Over the
    quasi-identifier (nation, $1000 balance band) with market segment
    as the sensitive attribute, for each l in {_LDIV_LS}: classes with
    fewer than l distinct sensitive values, rows in them, and the
    at-risk fraction in exact ppm. Complements `privacy_k_anonymity`
    (same release gate, orthogonal failure mode).

    Scale: one groupBy bounded by QI-space cardinality (the distinct
    count is over a 5-value attribute — tiny exact state per class);
    the l fan-out runs over that small class table. All integers."""
    c = table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        F.expr("cast(round(c_acctbal * 100) as bigint) div 100000").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("n_sensitive"),
    )
    tot = qi.agg(
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
    )
    ls = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in _LDIV_LS])).alias("l")
    )
    below = F.when(F.col("n_sensitive") < F.col("l"), F.col("class_size"))
    return (
        qi.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ls))
        .groupBy("l", "n_classes", "n_rows")
        .agg(
            F.coalesce(F.count(below), F.lit(0)).cast("bigint").alias("n_classes_below"),
            F.coalesce(F.sum(below), F.lit(0)).cast("bigint").alias("rows_at_risk"),
        )
        .select(
            F.col("l").cast("int").alias("l"),
            "n_classes",
            "n_classes_below",
            "rows_at_risk",
            F.expr("rows_at_risk * 1000000 div n_rows").cast("bigint").alias("risk_ppm"),
        )
        .orderBy("l")
    )


# --------------------------------------------------------------------------
# t-closeness audit (ordered-attribute EMD, exact cross-multiplied prefix)
# --------------------------------------------------------------------------

_TC_BANDS = 10           # sensitive spend bands ($1000-wide, top-capped)
_TC_BAND_CENTS = 100_000_00
_TC_THRESH_MICRO = (50_000, 100_000, 200_000)  # t in micro-EMD units


@register(
    "privacy_t_closeness",
    sql=f"""
    WITH spend AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             LEAST({_TC_BANDS - 1},
                   COALESCE(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT), 0)
                     // {_TC_BAND_CENTS}) AS sband
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3, 4
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, bal_band, sband, COUNT(*) AS cnt
      FROM spend GROUP BY 1, 2, 3, 4
    ),
    csz AS (SELECT c_nationkey, c_mktsegment, bal_band, CAST(SUM(cnt) AS BIGINT) AS n_c
            FROM cls GROUP BY 1, 2, 3),
    g AS (SELECT sband, CAST(SUM(cnt) AS BIGINT) AS g_cnt FROM cls GROUP BY 1),
    nt AS (SELECT CAST(SUM(g_cnt) AS BIGINT) AS n FROM g),
    grid AS (
      SELECT z.c_nationkey, z.c_mktsegment, z.bal_band, z.n_c, b.sband,
             COALESCE(cl.cnt, 0) AS cnt, COALESCE(gg.g_cnt, 0) AS g_cnt, nt.n
      FROM csz z
      CROSS JOIN (SELECT unnest(range({_TC_BANDS})) AS sband) b
      LEFT JOIN cls cl ON cl.c_nationkey = z.c_nationkey
                      AND cl.c_mktsegment = z.c_mktsegment
                      AND cl.bal_band = z.bal_band AND cl.sband = b.sband
      LEFT JOIN g gg ON gg.sband = b.sband
      CROSS JOIN nt
    ),
    pre AS (
      SELECT c_nationkey, c_mktsegment, bal_band, n_c, n, sband,
             SUM(n * cnt - n_c * g_cnt)
               OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                     ORDER BY sband ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM grid
    ),
    emd AS (
      SELECT c_nationkey, c_mktsegment, bal_band, MAX(n_c) AS n_c,
             CAST(SUM(ABS(p)) * 1000000
                  // (({_TC_BANDS} - 1) * MAX(n_c) * MAX(n)) AS BIGINT) AS emd_micro
      FROM pre GROUP BY 1, 2, 3
    ),
    ts AS (SELECT unnest([{", ".join(str(t) for t in _TC_THRESH_MICRO)}]) AS t_micro),
    tot AS (SELECT CAST(SUM(n_c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_classes
            FROM emd)
    SELECT CAST(ts.t_micro AS BIGINT) AS t_micro,
           tot.n_classes,
           CAST(COALESCE(COUNT(*) FILTER (WHERE emd.emd_micro > ts.t_micro), 0) AS BIGINT)
             AS n_violating,
           CAST(COALESCE(SUM(emd.n_c) FILTER (WHERE emd.emd_micro > ts.t_micro), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(COALESCE(SUM(emd.n_c) FILTER (WHERE emd.emd_micro > ts.t_micro), 0)
                * 1000000 // tot.n_rows AS BIGINT) AS risk_ppm,
           CAST(MAX(emd.emd_micro) AS BIGINT) AS max_emd_micro
    FROM emd CROSS JOIN ts CROSS JOIN tot
    GROUP BY ts.t_micro, tot.n_classes, tot.n_rows
    ORDER BY t_micro
    """,
    tags=("privacy", "t-closeness", "emd"),
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — the third rung of the release
    ladder after privacy_k_anonymity and privacy_l_diversity: within each
    QI equivalence class (nation, segment, $1000 balance band), the
    distribution of the ORDERED sensitive attribute (lifetime spend band,
    {_TC_BANDS} bands) must sit within EMD t of the global distribution —
    k-anonymous, l-diverse classes can still leak when their sensitive
    values skew (everyone in the class is a top spender).

    Ordered-category EMD = mean |prefix difference|, computed EXACTLY by
    cross-multiplication: p_i = Σ_{{j<=i}}(N·cnt_j − n_c·G_j) is an integer,
    EMD_micro = 10⁶·Σ|p_i| div ((m−1)·n_c·N). The final prefix is zero by
    construction, so the window needs no exclusion. No doubles anywhere.

    Scale: the fact side collapses to per-customer spend (one keyed agg),
    classes to the QI-space cardinality; the prefix window partitions per
    class over exactly {_TC_BANDS} rows. Thresholds ride as a 3-element
    broadcast."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy(
            "c_custkey",
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100000").alias("bal_band"),
        )
        .agg(
            F.expr(
                f"least({_TC_BANDS - 1}, "
                f"coalesce(sum(cast(round(o_totalprice * 100) as bigint)), 0)"
                f" div {_TC_BAND_CENTS})"
            )
            .cast("bigint")
            .alias("sband")
        )
    )
    cls = spend.groupBy("c_nationkey", "c_mktsegment", "bal_band", "sband").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    csz = cls.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.sum("cnt").cast("bigint").alias("n_c")
    )
    g = cls.groupBy("sband").agg(F.sum("cnt").cast("bigint").alias("g_cnt"))
    nt = g.agg(F.sum("g_cnt").cast("bigint").alias("n"))
    bands = spark.range(_TC_BANDS).select(F.col("id").cast("bigint").alias("sband"))
    grid = (
        csz.crossJoin(F.broadcast(bands))
        .join(cls, ["c_nationkey", "c_mktsegment", "bal_band", "sband"], "left")
        .join(F.broadcast(g), "sband", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "n_c",
            "n",
            "sband",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("g_cnt", F.lit(0)).alias("g_cnt"),
        )
    )
    wpre = (
        Window.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
        .orderBy("sband")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "n_c",
        "n",
        F.sum(F.col("n") * F.col("cnt") - F.col("n_c") * F.col("g_cnt")).over(wpre).alias("p"),
    )
    emd = pre.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.max("n_c").alias("n_c"),
        F.expr(
            f"CAST(sum(abs(p)) * 1000000 div (({_TC_BANDS} - 1) * max(n_c) * max(n)) AS BIGINT)"
        ).alias("emd_micro"),
    )
    tot = emd.agg(
        F.sum("n_c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
    )
    return (
        emd.crossJoin(F.broadcast(tot))
        .select(
            "n_c",
            "emd_micro",
            "n_rows",
            "n_classes",
            F.explode(F.array(*[F.lit(t) for t in _TC_THRESH_MICRO])).alias("t_micro"),
        )
        .groupBy("t_micro", "n_classes", "n_rows")
        .agg(
            F.coalesce(F.count(F.when(F.col("emd_micro") > F.col("t_micro"), F.lit(1))), F.lit(0))
            .cast("bigint")
            .alias("n_violating"),
            F.coalesce(F.sum(F.when(F.col("emd_micro") > F.col("t_micro"), F.col("n_c"))), F.lit(0))
            .cast("bigint")
            .alias("rows_at_risk"),
            F.expr(
                "CAST(COALESCE(SUM(CASE WHEN emd_micro > t_micro THEN n_c END), 0) * 1000000"
                " div MAX(n_rows) AS BIGINT)"
            ).alias("risk_ppm"),
            F.max("emd_micro").cast("bigint").alias("max_emd_micro"),
        )
        .select(
            F.col("t_micro").cast("bigint").alias("t_micro"),
            "n_classes",
            "n_violating",
            "rows_at_risk",
            "risk_ppm",
            "max_emd_micro",
        )
        .orderBy("t_micro")
    )


# --------------------------------------------------------------------------
# sequential probability ratio test (Wald SPRT, exact integer trajectory)
# --------------------------------------------------------------------------

import math as _math

_SPRT_P0, _SPRT_P1 = 0.40, 0.55   # H0 vs H1 heavy-buyer rate
_SPRT_WIN = round(_math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000)          # +318454
_SPRT_LOSE = round(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000)  # -287682
_SPRT_A = round(_math.log(19) * 1_000_000)   # accept H1 at ln((1-b)/a), a=b=0.05
_SPRT_B = -_SPRT_A                           # accept H0


@register(
    "abtest_sprt_sequential",
    sql=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('did|' || CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 < 50 THEN 'control' ELSE 'treatment' END AS arm,
             MIN(epoch_us(ts)) AS first_tus,
             CASE WHEN 5 * COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                       > COUNT(*) THEN 1 ELSE 0 END AS heavy
      FROM events GROUP BY user_id
    ),
    seq AS (
      SELECT arm, heavy,
             ROW_NUMBER() OVER (PARTITION BY arm ORDER BY first_tus, user_id) AS i,
             SUM(CASE WHEN heavy = 1 THEN {_SPRT_WIN} ELSE {_SPRT_LOSE} END)
               OVER (PARTITION BY arm ORDER BY first_tus, user_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
      FROM u
    ),
    crossed AS (
      SELECT arm,
             MIN(CASE WHEN llr >= {_SPRT_A} THEN i END) AS i_h1,
             MIN(CASE WHEN llr <= {_SPRT_B} THEN i END) AS i_h0,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(heavy) AS BIGINT) AS n_heavy,
             CAST(MAX(CASE WHEN i = (SELECT MAX(i) FROM seq s2 WHERE s2.arm = seq.arm)
                           THEN llr END) AS BIGINT) AS llr_final
      FROM seq GROUP BY arm
    )
    SELECT arm, n_users, n_heavy,
           CASE WHEN i_h1 IS NOT NULL AND (i_h0 IS NULL OR i_h1 < i_h0) THEN 'accept_h1'
                WHEN i_h0 IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CAST(COALESCE(LEAST(COALESCE(i_h1, i_h0), COALESCE(i_h0, i_h1)), 0)
                AS BIGINT) AS n_at_decision,
           llr_final AS llr_final_micro
    FROM crossed
    ORDER BY arm
    """,
    tags=("experiments", "sprt", "sequential"),
)
def abtest_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test per experiment arm:
    process users in arrival order (first event time) and accumulate the
    exact log-likelihood-ratio trajectory for "heavy buyer" rate
    H1: p={_SPRT_P1} vs H0: p={_SPRT_P0}; stop the moment the trajectory
    crosses ln((1−β)/α) — the always-valid early-stopping discipline that
    lets an experiment end in days instead of its planned horizon without
    inflating false positives (the sequential complement of the fixed-
    horizon abtest_srm_check / abtest_cuped_adjusted pair).

    Exactness: the two LLR increments are micro-quantized CONSTANTS
    embedded in both engines ({_SPRT_WIN} / {_SPRT_LOSE}); the trajectory
    is an integer prefix sum under the total (first_tus, user_id) order;
    crossing indices are exact MINs over the flagged rows. Nothing
    depends on float summation order.

    Scale: users fold to one row each (the keyed agg does the heavy
    lifting); the per-arm prefix is a window over users-per-arm — at
    extreme user counts the two-level bucket prefix
    (stream_watermark_policy_audit's shape) replaces it, same algebra."""
    e = table(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("did|"), F.col("user_id").cast("string"))), 1, 4),
            16,
            10,
        ).cast("bigint")
        % 100
        < 50,
        "control",
    ).otherwise("treatment")
    u = e.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_tus"),
        F.when(
            5 * F.count(F.when(F.col("event_type") == "purchase", 1)) > F.count(F.lit(1)), 1
        )
        .otherwise(0)
        .alias("heavy"),
    ).select("user_id", arm.alias("arm"), "first_tus", "heavy")
    wseq = Window.partitionBy("arm").orderBy("first_tus", "user_id")
    seq = u.select(
        "arm",
        "heavy",
        F.row_number().over(wseq).alias("i"),
        F.sum(
            F.when(F.col("heavy") == 1, F.lit(_SPRT_WIN)).otherwise(F.lit(_SPRT_LOSE))
        )
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .alias("llr"),
    )
    wall = Window.partitionBy("arm")
    crossed = seq.withColumn("max_i", F.max("i").over(wall)).groupBy("arm").agg(
        F.min(F.when(F.col("llr") >= _SPRT_A, F.col("i"))).alias("i_h1"),
        F.min(F.when(F.col("llr") <= _SPRT_B, F.col("i"))).alias("i_h0"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("heavy").cast("bigint").alias("n_heavy"),
        F.max(F.when(F.col("i") == F.col("max_i"), F.col("llr")))
        .cast("bigint")
        .alias("llr_final_micro"),
    )
    return crossed.select(
        "arm",
        "n_users",
        "n_heavy",
        F.when(
            F.col("i_h1").isNotNull()
            & (F.col("i_h0").isNull() | (F.col("i_h1") < F.col("i_h0"))),
            "accept_h1",
        )
        .when(F.col("i_h0").isNotNull(), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
        F.coalesce(
            F.least(
                F.coalesce("i_h1", "i_h0"), F.coalesce("i_h0", "i_h1")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_at_decision"),
        "llr_final_micro",
    ).orderBy("arm")


# --------------------------------------------------------------------------
# differential-privacy release planning (sensitivity + Laplace scales)
# --------------------------------------------------------------------------

_DP_EPS_MICRO = (100_000, 1_000_000)  # epsilon = 0.1, 1.0


@register(
    "privacy_dp_budget_plan",
    sql=f"""
    WITH spend AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS user_cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    nat AS (
      SELECT s.c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(user_cents) AS BIGINT) AS sum_cents,
             CAST(MAX(user_cents) AS BIGINT) AS sens_cents
      FROM spend s GROUP BY 1
    ),
    eps AS (SELECT unnest([{", ".join(str(e) for e in _DP_EPS_MICRO)}]) AS eps_micro)
    SELECT n.n_name AS nation, nat.n_users, nat.sum_cents, nat.sens_cents,
           CAST(eps.eps_micro AS BIGINT) AS eps_micro,
           CAST(nat.sens_cents * 1000000 // eps.eps_micro AS BIGINT)
             AS laplace_scale_cents,
           CAST(nat.sens_cents * 1000000 // eps.eps_micro * 1000000
                // nat.sum_cents AS BIGINT) AS noise_to_signal_ppm
    FROM nat
    JOIN nation n ON n.n_nationkey = nat.c_nationkey
    CROSS JOIN eps
    ORDER BY nation, eps_micro
    """,
    tags=("privacy", "differential-privacy", "planning"),
)
def privacy_dp_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release plan for per-nation revenue totals:
    the L1 SENSITIVITY of each SUM release (the max single customer's
    lifetime spend — what one person's presence can change), the Laplace
    scale b = sensitivity/ε each candidate ε requires, and the
    noise-to-signal ratio that tells you whether the released total is
    still usable. This is the planning table a privacy review produces
    BEFORE any noise is drawn — deliberately deterministic (the draw
    itself happens at release time, outside the engine), completing the
    privacy ladder: k-anonymity → l-diversity → t-closeness → DP budget.

    A nation with high noise_to_signal_ppm at the target ε must be
    coarsened (merge nations, clip contributions) — and because
    sensitivity here is the observed max, the table also shows exactly
    how much a contribution CLIP would buy.

    Exactness: integer cents throughout; scales and ratios are integer
    micro-divs. Scale: one custkey agg, one nation rollup, 25×|ε| rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    nat_tbl = table(spark, sf_dir, "nation")
    spend = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("user_cents")
        )
    )
    nat = spend.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("user_cents").cast("bigint").alias("sum_cents"),
        F.max("user_cents").cast("bigint").alias("sens_cents"),
    )
    eps = local_frame(spark, [(e,) for e in _DP_EPS_MICRO], "eps_micro bigint")
    return (
        nat.join(F.broadcast(nat_tbl), nat["c_nationkey"] == nat_tbl["n_nationkey"])
        .crossJoin(F.broadcast(eps))
        .select(
            F.col("n_name").alias("nation"),
            "n_users",
            "sum_cents",
            "sens_cents",
            "eps_micro",
            F.expr("sens_cents * 1000000 div eps_micro")
            .cast("bigint")
            .alias("laplace_scale_cents"),
            F.expr("sens_cents * 1000000 div eps_micro * 1000000 div sum_cents")
            .cast("bigint")
            .alias("noise_to_signal_ppm"),
        )
        .orderBy("nation", "eps_micro")
    )


# --------------------------------------------------------------------------
# power analysis / MDE planning for the hash-assigned experiment
# --------------------------------------------------------------------------

_MDE_PM = (10, 20, 50)  # minimum detectable effects, per-mille of arm mean


@register(
    "abtest_power_mde",
    sql=f"""
    WITH assigned AS (
      SELECT CASE WHEN bucket < 50 THEN 'control'
                  WHEN bucket < 80 THEN 'variant_a'
                  ELSE 'variant_b' END AS arm,
             c_custkey
      FROM (SELECT c_custkey,
                   ('0x' || substr(md5('srm|' || CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT % 100
                     AS bucket
            FROM customer)
    ),
    spend AS (
      SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    units AS (
      SELECT a.arm, COALESCE(s.cents, 0) AS x
      FROM assigned a LEFT JOIN spend s ON s.o_custkey = a.c_custkey
    ),
    moments AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
      FROM units GROUP BY arm
    ),
    grid AS (SELECT * FROM (VALUES {", ".join(f"({m})" for m in _MDE_PM)}) g(mde_pm))
    SELECT m.arm, CAST(g.mde_pm AS INTEGER) AS mde_pm, m.n AS n_units,
           CAST(m.sx // m.n AS BIGINT) AS mean_cents,
           CAST(CEIL(
             CAST(16000000 * (CAST(m.n AS DECIMAL(38,0)) * m.sxx
                              - CAST(m.sx AS DECIMAL(38,0)) * m.sx) AS DOUBLE)
             / CAST(CAST(g.mde_pm AS DECIMAL(38,0)) * g.mde_pm
                    * CAST(m.sx AS DECIMAL(38,0)) * m.sx AS DOUBLE)
           ) AS BIGINT) AS required_n,
           CAST(m.n >= CEIL(
             CAST(16000000 * (CAST(m.n AS DECIMAL(38,0)) * m.sxx
                              - CAST(m.sx AS DECIMAL(38,0)) * m.sx) AS DOUBLE)
             / CAST(CAST(g.mde_pm AS DECIMAL(38,0)) * g.mde_pm
                    * CAST(m.sx AS DECIMAL(38,0)) * m.sx AS DOUBLE)
           ) AS BOOLEAN) AS sufficient
    FROM moments m CROSS JOIN grid g
    ORDER BY m.arm, mde_pm
    """,
    tags=("experiments", "abtest", "power-analysis", "planning"),
)
def abtest_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power / sample-size planning for the hash-assigned experiment: for
    each arm and each minimum-detectable-effect on the {_MDE_PM} per-mille
    grid, the required n per arm under the standard two-sided
    alpha=5% / power=80% normal approximation n ≈ 16·sigma²/delta²
    (the '16 rule': (z_0.975 + z_0.80)² ≈ 15.7 rounded up), with
    delta = mde·mean. The planning table every experimentation platform
    shows BEFORE a test runs — SRM (abtest_srm_check) and CUPED
    (abtest_cuped_adjusted) audit it after.

    Exactness: per-arm moments are exact (bigint cents, DECIMAL(38,0)
    for sum-of-squares — the CUPED overflow contract); the closed form
    required_n = ceil(16e6·(n·Sxx − Sx²) / (mde_pm²·Sx²)) divides two
    EXACT decimals in one mirrored double division (both engines cast the
    same exact integers, so the quotient and its ceiling are identical).

    Scale: one keyed rollup per arm (map-side combinable) + a 3×3
    constant-grid crossJoin — nothing wider than the customer→spend join
    ever shuffles."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("srm|"), F.col("c_custkey").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    assigned = cust.select(
        F.when(bucket < 50, "control")
        .when(bucket < 80, "variant_a")
        .otherwise("variant_b")
        .alias("arm"),
        "c_custkey",
    )
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    units = assigned.join(
        spend, assigned["c_custkey"] == spend["o_custkey"], "left"
    ).select("arm", F.coalesce("cents", F.lit(0)).alias("x"))
    moments = units.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
    )
    grid = local_frame(spark, [(m,) for m in _MDE_PM], "mde_pm int")
    req = F.ceil(
        F.expr(
            "cast(16000000 * (cast(n as decimal(38,0)) * sxx"
            " - cast(sx as decimal(38,0)) * sx) as double)"
            " / cast(cast(mde_pm as decimal(38,0)) * mde_pm"
            " * cast(sx as decimal(38,0)) * sx as double)"
        )
    ).cast("bigint")
    return (
        moments.crossJoin(F.broadcast(grid))
        .select(
            "arm",
            F.col("mde_pm").cast("int").alias("mde_pm"),
            F.col("n").alias("n_units"),
            F.expr("sx div n").cast("bigint").alias("mean_cents"),
            req.alias("required_n"),
            (F.col("n") >= req).alias("sufficient"),
        )
        .orderBy("arm", "mde_pm")
    )


# ---------------------------------------------------------------------------
# differentially-private noisy marginals: discrete-Laplace release audit
# ---------------------------------------------------------------------------

_DPN_EPS = (500, 1000)  # epsilon in milli-units: 0.5 (cautious), 1.0 (standard)


def _dlap_inverse_cdf(eps_milli: int, u: float) -> int:
    """Integer noise k with P(k) ∝ exp(-eps|k|) (discrete Laplace / two-sided
    geometric), by inverting the CDF at u. Runs once in Python per table
    entry — never inside an engine."""
    eps = eps_milli / 1000.0
    a = _math.exp(-eps)
    # P(0) = (1-a)/(1+a); tails split the rest symmetrically
    p0 = (1.0 - a) / (1.0 + a)
    if u < 0.5:
        # negative side: walk down from 0 on the mirrored residual
        target = 0.5 - u
        k, acc = 0, p0 / 2.0
        while acc < target and k < 64:
            k += 1
            acc += (1.0 - a) / (1.0 + a) * a**k
        return -k
    target = u - 0.5
    k, acc = 0, p0 / 2.0
    while acc < target and k < 64:
        k += 1
        acc += (1.0 - a) / (1.0 + a) * a**k
    return k


_DPN_TABLE = [
    (e, i, _dlap_inverse_cdf(e, (i + 0.5) / 256.0))
    for e in _DPN_EPS
    for i in range(256)
]
_DPN_TABLE_SQL = ", ".join(f"({e}, {i}, {k})" for e, i, k in _DPN_TABLE)


@register(
    "privacy_dp_noisy_marginals",
    sql=f"""
    WITH noise(eps_milli, idx, k) AS (VALUES {_DPN_TABLE_SQL}),
    cells AS (
      SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM orders GROUP BY 1
    ),
    keyed AS (
      SELECT c.priority, c.true_n, n.eps_milli, n.k
      FROM cells c
      JOIN noise n
        ON n.idx = ('0x' || substr(md5(c.priority || '|' || n.eps_milli), 1, 2))::BIGINT
    )
    SELECT priority, CAST(eps_milli AS INTEGER) AS eps_milli, true_n,
           CAST(GREATEST(true_n + k, 0) AS BIGINT) AS noisy_n,
           CAST(ABS(GREATEST(true_n + k, 0) - true_n) AS BIGINT) AS abs_err,
           CAST(ABS(GREATEST(true_n + k, 0) - true_n) * 1000000 // true_n AS BIGINT)
             AS err_ppm
    FROM keyed
    ORDER BY priority, eps_milli
    """,
    tags=("privacy", "differential-privacy", "noise", "audit"),
)
def privacy_dp_noisy_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the order-priority marginal —
    the mechanism privacy_dp_budget_plan only PLANS, executed: per cell,
    count + discrete-Laplace noise (two-sided geometric, the integer
    mechanism of Ghosh–Roughgarden–Sundararajan 2012) at ε ∈
    {{0.5, 1.0}}, clamped at zero, with the exact per-cell error next to
    it (this is the calibration AUDIT a data steward runs before wiring
    the release; the released view is the noisy_n column alone).

    Determinism (the sample_weighted_aes / HLL literal rule): the noise
    integer comes from a 256-entry inverse-CDF table PRECOMPUTED in
    python per ε (exp never crosses the oracle boundary) indexed by
    md5(cell|ε) — so the "draw" is reproducible across engines, reruns,
    and cluster sizes, which is exactly what a DP release audit needs
    (the production release swaps the md5 index for a sealed RNG seed;
    the mechanism and table stay identical).

    Scale: one marginal rollup, then a |cells|×|ε| broadcast-table join —
    dim-sized end to end."""
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    noise = local_frame(spark, _DPN_TABLE, "eps_milli bigint, idx bigint, k bigint")
    # derive the (eps, idx) key on the cells side FIRST so the noise lookup
    # is a pure equi broadcast-hash join (a key expression mixing both
    # sides' columns would degrade to a nested-loop join)
    fanned = cells.select(
        "*",
        F.explode(F.array(*[F.lit(e).cast("bigint") for e in _DPN_EPS])).alias(
            "eps_milli"
        ),
    ).withColumn(
        "idx",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("priority"), F.lit("|"), F.col("eps_milli").cast("string")
                    )
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    keyed = fanned.join(F.broadcast(noise), ["eps_milli", "idx"])
    noisy = F.greatest(F.col("true_n") + F.col("k"), F.lit(0))
    return keyed.select(
        "priority",
        F.col("eps_milli").cast("int").alias("eps_milli"),
        "true_n",
        noisy.cast("bigint").alias("noisy_n"),
        F.abs(noisy - F.col("true_n")).cast("bigint").alias("abs_err"),
        F.expr(
            "abs(greatest(true_n + k, 0) - true_n) * 1000000 div true_n"
        )
        .cast("bigint")
        .alias("err_ppm"),
    ).orderBy("priority", "eps_milli")


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over a metric family (the multiple-testing gate)
# --------------------------------------------------------------------------

# Two-sided normal p-values as a python-computed literal table (the module's
# transcendental rule: erfc never crosses the oracle boundary — both engines
# read the same repr() doubles). |z| quantizes to 1/50 steps, capped at 6.
_BH_ALPHA = 0.1
_BH_CONV_CENTS = 50000  # conversion: user's per-type spend exceeds $500
_PHI2 = [(zq, _math.erfc((zq / 50.0) / _math.sqrt(2.0))) for zq in range(301)]
_PHI2_SQL = ", ".join(f"({zq}, {p!r})" for zq, p in _PHI2)


@register(
    "abtest_fdr_bh",
    sql=f"""
    WITH phi(zq, p2) AS (VALUES {_PHI2_SQL}),
    assigned AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('fdr|' || CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN arm = 'control'   THEN 1 ELSE 0 END) AS BIGINT) AS n_c
      FROM assigned
    ),
    per_user AS (
      SELECT e.event_type, a.arm, e.user_id,
             CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events e JOIN assigned a USING (user_id)
      GROUP BY 1, 2, 3
    ),
    wide AS (  -- one conditional-aggregation rollup; no cells self-join
      SELECT event_type,
             CAST(SUM(CASE WHEN arm = 'treatment' AND v > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS u_t,
             CAST(SUM(CASE WHEN arm = 'treatment' THEN CAST(v AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS s1_t,
             CAST(SUM(CASE WHEN arm = 'treatment' THEN CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS s2_t,
             CAST(SUM(CASE WHEN arm = 'control' AND v > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS u_c,
             CAST(SUM(CASE WHEN arm = 'control' THEN CAST(v AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS s1_c,
             CAST(SUM(CASE WHEN arm = 'control' THEN CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS s2_c,
             arms.n_t, arms.n_c
      FROM per_user CROSS JOIN arms
      GROUP BY event_type, arms.n_t, arms.n_c
    ),
    hyps AS (
      SELECT 'mean_value' AS metric_kind, event_type,
             CASE WHEN
                 ((CAST(n_t AS DOUBLE) * CAST(s2_t AS DOUBLE)
                   - CAST(s1_t AS DOUBLE) * CAST(s1_t AS DOUBLE))
                  / (CAST(n_t AS DOUBLE) * CAST(n_t AS DOUBLE))) / n_t
                 + ((CAST(n_c AS DOUBLE) * CAST(s2_c AS DOUBLE)
                     - CAST(s1_c AS DOUBLE) * CAST(s1_c AS DOUBLE))
                    / (CAST(n_c AS DOUBLE) * CAST(n_c AS DOUBLE))) / n_c > 0
             THEN
             ((CAST(s1_t AS DOUBLE) / n_t) - (CAST(s1_c AS DOUBLE) / n_c))
             / sqrt(
                 ((CAST(n_t AS DOUBLE) * CAST(s2_t AS DOUBLE)
                   - CAST(s1_t AS DOUBLE) * CAST(s1_t AS DOUBLE))
                  / (CAST(n_t AS DOUBLE) * CAST(n_t AS DOUBLE))) / n_t
                 + ((CAST(n_c AS DOUBLE) * CAST(s2_c AS DOUBLE)
                     - CAST(s1_c AS DOUBLE) * CAST(s1_c AS DOUBLE))
                    / (CAST(n_c AS DOUBLE) * CAST(n_c AS DOUBLE))) / n_c
               ) END AS z
      FROM wide
      UNION ALL
      SELECT 'conversion' AS metric_kind, event_type,
             CASE WHEN u_t + u_c > 0 AND u_t + u_c < n_t + n_c
             THEN
             ((CAST(u_t AS DOUBLE) / n_t) - (CAST(u_c AS DOUBLE) / n_c))
             / sqrt(
                 (CAST(u_t + u_c AS DOUBLE) / (n_t + n_c))
                 * (1.0 - CAST(u_t + u_c AS DOUBLE) / (n_t + n_c))
                 * (1.0 / n_t + 1.0 / n_c)
               ) END AS z
      FROM wide
    ),
    live AS (SELECT * FROM hyps WHERE z IS NOT NULL),
    pvals AS (
      SELECT h.metric_kind, h.event_type, h.z, phi.p2
      FROM live h
      JOIN phi ON phi.zq = LEAST(CAST(ROUND(ABS(h.z) * 50) AS BIGINT), 300)
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY p2, metric_kind, event_type) AS rnk,
             COUNT(*) OVER () AS m
      FROM pvals
    ),
    cut AS (
      SELECT *,
             MAX(CASE WHEN p2 * m <= {_BH_ALPHA} * rnk THEN rnk END) OVER () AS kstar
      FROM ranked
    )
    SELECT metric_kind, event_type,
           ROUND(z, 6) AS z,
           ROUND(p2, 8) AS p_two,
           CAST(rnk AS INTEGER) AS rnk,
           CAST(m AS INTEGER) AS m_tests,
           CAST(rnk <= COALESCE(kstar, 0) AS BOOLEAN) AS rejected
    FROM cut
    """,
    tags=("experiments", "abtest", "fdr", "multiple-testing"),
)
def abtest_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up (Benjamini & Hochberg 1995) over the
    metric family an experimentation platform reads every morning: per
    event_type, a Welch z on the per-user value metric AND a two-proportion
    z on conversion, users hash-split 50/50 (md5('fdr|'||user_id), the
    module's assignment convention). Zero-users are handled WITHOUT
    materializing zero rows: a user absent from (type, arm) contributes 0
    to Σv and Σv², so means/variances over all n_arm users come from the
    present-user sums alone. BH: rank p ascending, k* = max over i with
    p_i <= α·i/m, reject ranks <= k* (α = {_BH_ALPHA}).

    Exactness: the metric is integer cents; Σv and Σv² are exact
    DECIMAL(38,0); every z is a single mirrored double expression of exact
    integers (no float sums), so both engines compute bit-identical z. The
    normal tail p = erfc(|z|/√2) NEVER crosses the engine boundary — it is
    a 301-entry python-literal table keyed on round(|z|·50) capped at 6σ,
    joined identically on both sides.

    Scale: assignment and cents are map work; per_user is ONE
    hash-partitioned groupBy read by the arm-universe count and the
    per-type rollup; both arms pivot in a
    single conditional aggregation (a cells self-join would re-evaluate
    per_user per side). The BH windows run over the m-row hypothesis
    table (m = 2·|event types| — bounded, see plan_lint adjudication).
    The phi table is a 301-row broadcast; the arm counts a single-row
    broadcast."""
    e = table(spark, sf_dir, "events")
    assigned = (
        e.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("fdr|"), F.col("user_id").cast("string"))), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 100
                < 50,
                "control",
            )
            .otherwise("treatment")
            .alias("arm"),
        )
    )
    per_user = (
        e.join(assigned, "user_id")
        .groupBy("event_type", "arm", "user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("v"))
    )
    # every user has >= 1 event, so the per_user user set IS the assigned
    # universe; counting it here avoids a second events scan
    arms = (
        per_user.select("user_id", "arm")
        .distinct()
        .agg(
            F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0)).cast("bigint").alias("n_t"),
            F.sum(F.when(F.col("arm") == "control", 1).otherwise(0)).cast("bigint").alias("n_c"),
        )
    )
    vd = F.col("v").cast("decimal(19,0)")

    def _arm(a, expr):
        return F.when(F.col("arm") == a, expr)

    # one conditional-aggregation rollup pivots both arms — a cells
    # self-join would re-evaluate the per_user aggregate once per side
    wide = (
        per_user.crossJoin(F.broadcast(arms))
        .groupBy("event_type", "n_t", "n_c")
        .agg(
            F.sum(_arm("treatment", F.when(F.col("v") > _BH_CONV_CENTS, 1).otherwise(0)))
            .cast("bigint").alias("u_t"),
            F.sum(_arm("treatment", vd)).cast("decimal(38,0)").alias("s1_t"),
            F.sum(_arm("treatment", vd * vd)).cast("decimal(38,0)").alias("s2_t"),
            F.sum(_arm("control", F.when(F.col("v") > _BH_CONV_CENTS, 1).otherwise(0)))
            .cast("bigint").alias("u_c"),
            F.sum(_arm("control", vd)).cast("decimal(38,0)").alias("s1_c"),
            F.sum(_arm("control", vd * vd)).cast("decimal(38,0)").alias("s2_c"),
        )
    )

    def _var(s1, s2, n):
        nd = F.col(n).cast("double")
        return (
            (nd * F.col(s2).cast("double") - F.col(s1).cast("double") * F.col(s1).cast("double"))
            / (nd * nd)
        )

    se2_mean = _var("s1_t", "s2_t", "n_t") / F.col("n_t") + _var("s1_c", "s2_c", "n_c") / F.col("n_c")
    z_mean = F.when(
        se2_mean > 0,
        (
            (F.col("s1_t").cast("double") / F.col("n_t"))
            - (F.col("s1_c").cast("double") / F.col("n_c"))
        )
        / F.sqrt(se2_mean),
    )
    pooled = (F.col("u_t") + F.col("u_c")).cast("double") / (F.col("n_t") + F.col("n_c"))
    z_prop = F.when(
        (F.col("u_t") + F.col("u_c") > 0) & (F.col("u_t") + F.col("u_c") < F.col("n_t") + F.col("n_c")),
        (
            (F.col("u_t").cast("double") / F.col("n_t"))
            - (F.col("u_c").cast("double") / F.col("n_c"))
        )
        / F.sqrt(pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / F.col("n_t") + F.lit(1.0) / F.col("n_c"))),
    )
    # one pass over `wide`: a UNION ALL would re-evaluate the whole cells
    # subtree (and its scalar broadcasts) once per metric kind
    hyps = (
        wide.select(
            "event_type",
            F.explode(
                F.array(
                    F.struct(F.lit("mean_value").alias("metric_kind"), z_mean.alias("z")),
                    F.struct(F.lit("conversion").alias("metric_kind"), z_prop.alias("z")),
                )
            ).alias("h"),
        )
        .select(F.col("h.metric_kind").alias("metric_kind"), "event_type", F.col("h.z").alias("z"))
        .filter(F.col("z").isNotNull())
    )
    phi = local_frame(spark, _PHI2, "zq bigint, p2 double")
    pvals = hyps.join(
        F.broadcast(phi),
        F.col("zq") == F.least(F.round(F.abs(F.col("z")) * 50).cast("bigint"), F.lit(300)),
    ).select("metric_kind", "event_type", "z", "p2")
    w_rank = Window.orderBy("p2", "metric_kind", "event_type")
    w_all = Window.partitionBy()
    ranked = pvals.select(
        "*",
        F.row_number().over(w_rank).alias("rnk"),
        F.count(F.lit(1)).over(w_all).alias("m"),
    )
    cut = ranked.select(
        "*",
        F.max(
            F.when(F.col("p2") * F.col("m") <= F.lit(_BH_ALPHA) * F.col("rnk"), F.col("rnk"))
        ).over(w_all).alias("kstar"),
    )
    return cut.select(
        "metric_kind",
        "event_type",
        F.round("z", 6).alias("z"),
        F.round("p2", 8).alias("p_two"),
        F.col("rnk").cast("int").alias("rnk"),
        F.col("m").cast("int").alias("m_tests"),
        (F.col("rnk") <= F.coalesce(F.col("kstar"), F.lit(0))).alias("rejected"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) — the nonparametric two-sample test
# --------------------------------------------------------------------------

_MW_A, _MW_B = "R", "A"  # compared l_returnflag populations (returned vs accepted)
_MW_Z_CRIT = 1.96


@register(
    "stats_mann_whitney",
    sql=f"""
    WITH s AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS grp
      FROM lineitem WHERE l_returnflag IN ('{_MW_A}', '{_MW_B}')
    ),
    per_v AS (
      SELECT qty,
             CAST(SUM(CASE WHEN grp = '{_MW_A}' THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
             CAST(SUM(CASE WHEN grp = '{_MW_B}' THEN 1 ELSE 0 END) AS BIGINT) AS n2v
      FROM s GROUP BY qty
    ),
    walked AS (
      SELECT qty, n1v, n2v, n1v + n2v AS tv,
             CAST(COALESCE(SUM(n1v + n2v) OVER (ORDER BY qty
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM per_v
    ),
    agg AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(n2v) AS BIGINT) AS n2,
             CAST(SUM(n1v * (2 * cum_before + tv + 1)) AS BIGINT) AS w1_twice,
             CAST(SUM(tv * tv * tv - tv) AS BIGINT) AS tie_cubes
      FROM walked
    )
    SELECT n1, n2,
           CAST((w1_twice - n1 * (n1 + 1)) // 2 AS BIGINT) AS u1,
           ROUND(
             (CAST(w1_twice - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
             / (2.0 * sqrt(
                 (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tie_cubes AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))
               )),
             6) AS z,
           CAST(ABS(
             (CAST(w1_twice - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
             / (2.0 * sqrt(
                 (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tie_cubes AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))
               ))) > {_MW_Z_CRIT} AS BOOLEAN) AS significant
    FROM agg
    """,
    tags=("experiments", "stats", "nonparametric", "rank-sum"),
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) with the tie-corrected normal
    approximation (Mann & Whitney 1947; tie correction per Lehmann 1975):
    does l_quantity differ in distribution between returned ('{_MW_A}')
    and accepted ('{_MW_B}') line items? The nonparametric complement to the suite's parametric and
    KS tests — the test a metrics platform reaches for when values are
    heavy-tailed and a mean test is untrustworthy.

    NO global sort: l_quantity is discrete, so average ranks come from the
    value-frequency table. For value v with below-count b and tie-count t,
    the shared average rank is b + (t+1)/2; kept exact as 2·rank =
    2b + t + 1, so the rank-sum 2·W1 = Σ n1v·(2b+t+1) is exact BIGINT.
    U1 = W1 − n1(n1+1)/2; Var(U) = (n1·n2/12)·((n+1) − Σ(t³−t)/(n(n−1))).
    z is one mirrored double expression of exact integers — bit-identical
    across engines; the only window walks the ~50-row distinct-value table
    (bounded, see plan_lint adjudication).

    Scale: one partial-aggregated groupBy(qty) over the filtered scan (the
    returnflag predicate pushes to parquet), a 50-row window, a single-row
    reduce. Works unchanged when the two samples have billions of rows,
    BECAUSE the rank computation never materializes per-row ranks."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag").isin(_MW_A, _MW_B))
    per_v = li.groupBy(F.col("l_quantity").cast("bigint").alias("qty")).agg(
        F.sum(F.when(F.col("l_returnflag") == _MW_A, 1).otherwise(0)).cast("bigint").alias("n1v"),
        F.sum(F.when(F.col("l_returnflag") == _MW_B, 1).otherwise(0)).cast("bigint").alias("n2v"),
    )
    w = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, -1)
    walked = per_v.select(
        "qty", "n1v", "n2v",
        (F.col("n1v") + F.col("n2v")).alias("tv"),
        F.coalesce(F.sum(F.col("n1v") + F.col("n2v")).over(w), F.lit(0)).cast("bigint").alias("cum_before"),
    )
    agg = walked.agg(
        F.sum("n1v").cast("bigint").alias("n1"),
        F.sum("n2v").cast("bigint").alias("n2"),
        F.sum(F.col("n1v") * (2 * F.col("cum_before") + F.col("tv") + 1)).cast("bigint").alias("w1_twice"),
        F.sum(F.col("tv") * F.col("tv") * F.col("tv") - F.col("tv")).cast("bigint").alias("tie_cubes"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    num = (F.col("w1_twice") - F.col("n1") * (F.col("n1") + 1)).cast("double") - (
        F.col("n1") * F.col("n2")
    ).cast("double")
    var_u = (n1d * n2d / F.lit(12.0)) * (
        (F.col("n1") + F.col("n2") + 1).cast("double")
        - F.col("tie_cubes").cast("double")
        / ((F.col("n1") + F.col("n2")).cast("double") * (F.col("n1") + F.col("n2") - 1).cast("double"))
    )
    z = num / (F.lit(2.0) * F.sqrt(var_u))
    return agg.select(
        "n1",
        "n2",
        F.expr("(w1_twice - n1 * (n1 + 1)) div 2").cast("bigint").alias("u1"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > _MW_Z_CRIT).alias("significant"),
    )


# --------------------------------------------------------------------------
# randomized response (Warner 1965) — local-DP collection audit
# --------------------------------------------------------------------------

_RR_TRUTH_PCT = 75  # answer truthfully with prob 0.75, else a fair coin


@register(
    "privacy_randomized_response",
    sql=f"""
    WITH resp AS (
      SELECT n_name,
             CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS truth,
             CASE WHEN ('0x' || substr(md5('rr|' || CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT
                       % 100 < {_RR_TRUTH_PCT}
                  THEN CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END
                  ELSE ('0x' || substr(md5('rr|' || CAST(c_custkey AS VARCHAR)), 5, 1))::BIGINT % 2
             END AS reported
      FROM customer JOIN nation ON n_nationkey = c_nationkey
    ),
    cells AS (
      SELECT n_name,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(truth) AS BIGINT) AS true_yes,
             CAST(SUM(reported) AS BIGINT) AS reported_yes
      FROM resp GROUP BY n_name
    )
    SELECT n_name, n, true_yes, reported_yes,
           ROUND(CAST(true_yes AS DOUBLE) / n, 6) AS true_pi,
           ROUND(CAST(8 * reported_yes - n AS DOUBLE) / CAST(6 * n AS DOUBLE), 6) AS est_pi,
           ROUND(CAST(8 * reported_yes - n AS DOUBLE) / CAST(6 * n AS DOUBLE)
                 - CAST(true_yes AS DOUBLE) / n, 6) AS est_err
    FROM cells
    """,
    tags=("experiments", "privacy", "local-dp", "randomized-response"),
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized-response collection audit (Warner 1965, forced-response
    variant — the local-DP mechanism RAPPOR builds on): each customer
    reports the sensitive bit (acctbal < 0, "in debt") truthfully with
    p = {_RR_TRUTH_PCT}/100, else a fair coin, both decided by disjoint
    md5('rr|'||key) digits so the mechanism is deterministic and
    cross-engine identical. Per nation: the debiased estimate
    π̂ = (λ − (1−p)/2)/p — with p = 3/4 exactly (8·yes − n)/(6n) — against
    the ground truth the curator still holds, i.e. the estimator-error
    audit you run BEFORE trusting the mechanism on data you won't see.
    Local-DP guarantee: ε = ln(p/((1−p)/2)) = ln 6 per response.

    Exactness: counts are integers; every ratio is one mirrored double
    division of exact integers, rounded at output. No transcendental
    crosses the boundary (ln 6 appears only in this docstring).

    Scale: the mechanism is per-row map work over customer (hash digits,
    no state); nation is a broadcast dim join; one partial-aggregated
    groupBy(nation) of 3 integer sums. Nothing else shuffles."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    h = F.md5(F.concat(F.lit("rr|"), F.col("c_custkey").cast("string")))
    truth = F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
    coin = F.conv(F.substring(h, 5, 1), 16, 10).cast("bigint") % 2
    reported = F.when(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % 100 < _RR_TRUTH_PCT, truth
    ).otherwise(coin)
    cells = (
        c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(F.col("n_name"), truth.alias("truth"), reported.alias("reported"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("truth").cast("bigint").alias("true_yes"),
            F.sum("reported").cast("bigint").alias("reported_yes"),
        )
    )
    est = (8 * F.col("reported_yes") - F.col("n")).cast("double") / (6 * F.col("n")).cast("double")
    true_pi = F.col("true_yes").cast("double") / F.col("n")
    return cells.select(
        "n_name", "n", "true_yes", "reported_yes",
        F.round(true_pi, 6).alias("true_pi"),
        F.round(est, 6).alias("est_pi"),
        F.round(est - true_pi, 6).alias("est_err"),
    )


# --------------------------------------------------------------------------
# DP quantile release via the exponential mechanism (Gumbel-max form)
# --------------------------------------------------------------------------

_DPQ_EPS_MILLI = (1, 10, 1000)  # epsilon grid: 0.001 (noise-dominated), 0.01, 1.0
_DPQ_Q_MILLI = (500, 900)      # released quantiles: median, p90
# Gumbel(0,1) inverse CDF -ln(-ln(u)) on the 256-point md5 grid — the
# module's transcendental rule: ln never crosses the oracle boundary.
_GUM = [(i, -_math.log(-_math.log((i + 0.5) / 256.0))) for i in range(256)]
_GUM_SQL = ", ".join(f"({i}, {g!r})" for i, g in _GUM)


@register(
    "privacy_dp_quantile",
    sql=f"""
    WITH gum(idx, g) AS (VALUES {_GUM_SQL}),
    hist AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    walked AS (
      SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum_le,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM hist
    ),
    grid AS (
      SELECT * FROM (VALUES {", ".join(f"({e})" for e in _DPQ_EPS_MILLI)}) e(eps_milli)
      CROSS JOIN (VALUES {", ".join(f"({q})" for q in _DPQ_Q_MILLI)}) q(q_milli)
    ),
    scored AS (
      SELECT g.eps_milli, g.q_milli, w.v, w.n,
             -ABS(1000 * w.cum_le - g.q_milli * w.n) AS u_scaled,
             (CAST(g.eps_milli AS DOUBLE) / 1000.0)
               * (CAST(-ABS(1000 * w.cum_le - g.q_milli * w.n) AS DOUBLE) / 1000.0) / 2.0
               + gm.g AS score
      FROM grid g
      CROSS JOIN walked w
      JOIN gum gm ON gm.idx = ('0x' || substr(md5(
             CAST(w.v AS VARCHAR) || '|' || g.eps_milli || '|' || g.q_milli || '|dpq'),
             1, 2))::BIGINT
    ),
    released AS (
      SELECT eps_milli, q_milli, v AS released_v, n,
             ROW_NUMBER() OVER (PARTITION BY eps_milli, q_milli
                                ORDER BY score DESC, v) AS rnk
      FROM scored
    ),
    truth AS (
      SELECT eps_milli, q_milli, v AS true_v,
             ROW_NUMBER() OVER (PARTITION BY eps_milli, q_milli
                                ORDER BY -u_scaled, v) AS trnk
      FROM scored
    )
    SELECT r.eps_milli, r.q_milli, r.released_v, t.true_v,
           CAST(ABS(r.released_v - t.true_v) AS BIGINT) AS value_err,
           r.n AS n_rows
    FROM released r
    JOIN truth t ON t.eps_milli = r.eps_milli AND t.q_milli = r.q_milli AND t.trnk = 1
    WHERE r.rnk = 1
    """,
    tags=("experiments", "privacy", "dp", "exponential-mechanism"),
)
def privacy_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP quantile release by the exponential mechanism (McSherry & Talwar
    2007) in its Gumbel-max form: sampling v with P(v) ∝ exp(ε·u(v)/2)
    equals releasing argmax_v(ε·u(v)/2 + Gumbel_v) — so one deterministic
    md5-indexed Gumbel draw per candidate turns the sampler into a pure
    argmax the oracle can replay. Utility is the (scaled-exact) rank
    distance u(v) = −|1000·cum_le(v) − q‰·n|; candidates are the value
    histogram bins. Released vs true empirical quantile per (ε, q) cell —
    the accuracy-vs-ε audit a curator runs before choosing a budget.

    Exactness: utilities are exact integers (cumulative counts
    cross-multiplied against q‰·n); the score is ONE mirrored double
    expression of exact integers plus a python-literal Gumbel table (ln
    never crosses the engine boundary — the _DPN_TABLE rule); ties break
    on the value.

    Scale shape: the value histogram is one partial-aggregated groupBy
    (50 bins for l_quantity); cumulative counts and both argmax windows
    run over the |bins|×|grid| relation (bounded — plan_lint adjudicated);
    the Gumbel table is a 256-row broadcast hash join keyed on a
    candidate-side md5 digit."""
    li = table(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").cast("bigint").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = Window.orderBy("v")
    w_all = Window.partitionBy()
    walked = hist.select(
        "v",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum_le"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n"),
    )
    grid = local_frame(
        spark,
        [(e, q) for e in _DPQ_EPS_MILLI for q in _DPQ_Q_MILLI],
        "eps_milli bigint, q_milli bigint",
    )
    gum = local_frame(spark, _GUM, "idx bigint, g double")
    u_scaled = -F.abs(1000 * F.col("cum_le") - F.col("q_milli") * F.col("n"))
    gidx = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("v").cast("string"), F.lit("|"),
                    F.col("eps_milli").cast("string"), F.lit("|"),
                    F.col("q_milli").cast("string"), F.lit("|dpq"),
                )
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("bigint")
    scored = (
        F.broadcast(grid)
        .crossJoin(walked)
        .withColumn("u_scaled", u_scaled)
        .withColumn("gidx", gidx)
        .join(F.broadcast(gum), F.col("idx") == F.col("gidx"))
        .select(
            "eps_milli", "q_milli", "v", "n", "u_scaled",
            (
                (F.col("eps_milli").cast("double") / F.lit(1000.0))
                * (F.col("u_scaled").cast("double") / F.lit(1000.0))
                / F.lit(2.0)
                + F.col("g")
            ).alias("score"),
        )
    )
    w_rel = Window.partitionBy("eps_milli", "q_milli").orderBy(F.desc("score"), "v")
    w_tru = Window.partitionBy("eps_milli", "q_milli").orderBy((-F.col("u_scaled")), "v")
    released = scored.withColumn("rnk", F.row_number().over(w_rel)).filter(F.col("rnk") == 1)
    truth = scored.withColumn("trnk", F.row_number().over(w_tru)).filter(F.col("trnk") == 1)
    return (
        released.select(
            "eps_milli", "q_milli", F.col("v").alias("released_v"), F.col("n").alias("n_rows")
        )
        .join(
            F.broadcast(truth.select("eps_milli", "q_milli", F.col("v").alias("true_v"))),
            ["eps_milli", "q_milli"],
        )
        .select(
            "eps_milli",
            "q_milli",
            "released_v",
            "true_v",
            F.abs(F.col("released_v") - F.col("true_v")).cast("bigint").alias("value_err"),
            "n_rows",
        )
    )


# --------------------------------------------------------------------------
# permutation test (Fisher randomization) — the assumption-free A/B p-value
# --------------------------------------------------------------------------

_PERM_B = 64


@register(
    "stats_permutation_test",
    sql=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    reps AS (
      SELECT p.o_custkey, p.cents, b.b,
             CASE WHEN ('0x' || substr(md5('perm|' || b.b || '|' ||
                          CAST(p.o_custkey AS VARCHAR)), 1, 4))::BIGINT % 100 < 50
                  THEN 1 ELSE 0 END AS in_t
      FROM per_cust p
      CROSS JOIN (SELECT unnest(range(0, {_PERM_B + 1})) AS b) b
    ),
    diffs AS (
      SELECT b,
             CAST(SUM(CASE WHEN in_t = 1 THEN cents END) AS DOUBLE)
               / SUM(CASE WHEN in_t = 1 THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN in_t = 0 THEN cents END) AS DOUBLE)
               / SUM(CASE WHEN in_t = 0 THEN 1 ELSE 0 END) AS diff
      FROM reps GROUP BY b
    ),
    obs AS (SELECT diff AS obs_diff FROM diffs WHERE b = 0)
    SELECT ROUND(obs.obs_diff, 4) AS obs_diff_cents,
           CAST({_PERM_B} AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN d.b > 0 AND ABS(d.diff) >= ABS(obs.obs_diff)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           CAST((1 + SUM(CASE WHEN d.b > 0 AND ABS(d.diff) >= ABS(obs.obs_diff)
                              THEN 1 ELSE 0 END)) * 1000 // ({_PERM_B} + 1) AS BIGINT)
             AS p_milli
    FROM diffs d CROSS JOIN obs
    GROUP BY obs.obs_diff
    """,
    tags=("experiments", "stats", "permutation", "randomization"),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher randomization (permutation) test for the customer-spend A/B
    metric — the assumption-free companion to the suite's Welch
    (abtest_fdr_bh), rank-sum (stats_mann_whitney) and bootstrap
    (stats_bootstrap_ci) inference: b = 0 is the observed md5 assignment,
    b = 1..{_PERM_B} are re-randomized assignments (md5('perm|'||b||key)),
    and p = (1 + #extreme) / (B+1), the add-one Monte-Carlo estimator
    (Phipson & Smyth 2010) that never reports p = 0.

    Exactness: per-customer cents are exact integers; each replicate's
    mean difference is one mirrored double expression of exact integer
    sums (no float accumulation order exists); the p-value is an integer
    milli floor division.

    Scale shape: ONE pass builds the per-customer rollup; the B+1
    replicate expansion multiplies that DIM-sized rollup, not the orders
    fact, and partial aggregation collapses it map-side into B+1 groups
    before any shuffle (the stats_bootstrap_ci expansion contract). The
    diffs relation is {_PERM_B + 1} rows; obs is a single-row broadcast."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    reps = per_cust.select(
        "o_custkey",
        "cents",
        F.explode(F.array(*[F.lit(b) for b in range(_PERM_B + 1)])).alias("b"),
    ).select(
        "b",
        "cents",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("perm|"), F.col("b").cast("string"), F.lit("|"),
                            F.col("o_custkey").cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % 100
            < 50,
            1,
        ).otherwise(0).alias("in_t"),
    )
    diffs = reps.groupBy("b").agg(
        (
            F.sum(F.when(F.col("in_t") == 1, F.col("cents"))).cast("double")
            / F.sum(F.when(F.col("in_t") == 1, 1).otherwise(0))
            - F.sum(F.when(F.col("in_t") == 0, F.col("cents"))).cast("double")
            / F.sum(F.when(F.col("in_t") == 0, 1).otherwise(0))
        ).alias("diff")
    )
    obs = diffs.filter(F.col("b") == 0).select(F.col("diff").alias("obs_diff"))
    extreme = F.sum(
        F.when(
            (F.col("b") > 0) & (F.abs(F.col("diff")) >= F.abs(F.col("obs_diff"))), 1
        ).otherwise(0)
    ).cast("bigint")
    return (
        diffs.crossJoin(F.broadcast(obs))
        .groupBy("obs_diff")
        .agg(
            F.lit(_PERM_B).cast("bigint").alias("n_perms"),
            extreme.alias("n_extreme"),
            F.expr(
                f"CAST((1 + sum(CASE WHEN b > 0 AND abs(diff) >= abs(obs_diff)"
                f" THEN 1 ELSE 0 END)) * 1000 div ({_PERM_B} + 1) AS BIGINT)"
            ).alias("p_milli"),
        )
        .select(
            F.round("obs_diff", 4).alias("obs_diff_cents"),
            "n_perms",
            "n_extreme",
            "p_milli",
        )
    )
