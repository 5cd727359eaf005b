"""Training-data sampling & skew-profiling operators (driver north-star:
the selection stages of a large corpus pipeline).

All three are deterministic — sampling decisions derive from md5 of stable
keys, never from RNG state — so a 1000-executor rerun (or a DuckDB oracle)
reproduces the exact sample. That property is what makes distributed
training-data curation auditable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.operators.topk import ranked_topk
from pumle_spark.sources.local import local_frame
from pumle_spark.tables import table
from pumle_spark.workload import register

_STRATUM_K = 20

# per-source inclusion percentage for the weighted mix (upweight "books"-like
# sources, downsample the rest — the standard pretraining-mixture shape)
_MIX_WEIGHTS = {"src0": 100, "src1": 75, "src2": 50, "src3": 25, "src4": 10}
_MIX_DEFAULT = 40


@register(
    "sample_stratified_documents",
    sql=f"""
    SELECT doc_id, lang, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents)
    WHERE rnk <= {_STRATUM_K}
    """,
    tags=("sampling", "stratified"),
)
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sample: {_STRATUM_K} docs per language, chosen
    by md5-rank within the stratum — a deterministic lottery every engine
    and every rerun agrees on (class-balancing selection for eval/training
    splits).

    Scale note: the per-stratum window shuffles by lang; strata far larger
    than a partition should pre-filter with an md5-threshold pass (keep
    md5 < k/|stratum| · MAX, slightly over-sampled) before the exact rank
    — the window then runs on ~k rows per stratum instead of all of them.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _STRATUM_K)
        .select("doc_id", "lang", F.col("rnk").cast("int").alias("rnk"))
    )


def _mix_weight_sql() -> str:
    cases = " ".join(f"WHEN '{s}' THEN {w}" for s, w in _MIX_WEIGHTS.items())
    return f"CASE source {cases} ELSE {_MIX_DEFAULT} END"


@register(
    "mix_weighted_sources",
    sql=f"""
    WITH tagged AS (
      SELECT source,
             {_mix_weight_sql()} AS weight,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || source), 1, 8))::UBIGINT
              % 100) < ({_mix_weight_sql()}) AS keep
      FROM documents
    )
    SELECT source, CAST(MAX(weight) AS INTEGER) AS weight_pct,
           COUNT(*) AS n_docs,
           CAST(COUNT(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept
    FROM tagged GROUP BY source
    """,
    tags=("sampling", "mixing"),
)
def mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing — the pretraining-mixture downsampler: each
    document keeps with probability weight(source)/100, decided by
    md5(doc_id|source) so the mixture is exactly reproducible (and
    adjusting one source's weight only adds/removes that source's docs —
    no reshuffling of the others). Emits the per-source audit row; the
    kept set itself is the `keep` predicate applied to the corpus. Pure
    per-row projection + one groupBy — no sampling state, scales flat."""
    d = table(spark, sf_dir, "documents")
    weight = F.lit(_MIX_DEFAULT)
    for s, wgt in reversed(list(_MIX_WEIGHTS.items())):
        weight = F.when(F.col("source") == s, F.lit(wgt)).otherwise(weight)
    hash_pct = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("source"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    tagged = d.select(
        "source",
        weight.alias("weight"),
        (hash_pct < weight).alias("keep"),
    )
    return tagged.groupBy("source").agg(
        F.max("weight").cast("int").alias("weight_pct"),
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
    )


@register(
    "heavy_hitters_lineitem_parts",
    sql="""
    WITH counts AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM counts)
    SELECT c.l_partkey, c.cnt,
           ROUND(CAST(c.cnt AS DOUBLE) / t.total, 6) AS share,
           ROUND(CAST(c.cnt AS DOUBLE) * t.n_keys / t.total, 4) AS skew_factor
    FROM counts c CROSS JOIN tot t
    ORDER BY c.cnt DESC, c.l_partkey
    LIMIT 20
    """,
    tags=("profiling", "skew"),
)
def heavy_hitters_lineitem_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a join key: top-20 hottest l_partkey values
    with their share of rows and skew factor (count ÷ mean count). This is
    the pre-join diagnostic that decides whether a key needs
    operators/skew.salted_join — at 100 TB you profile BEFORE you shuffle.
    One groupBy + a single-row broadcast; the top-k is a heap
    (TakeOrderedAndProject), never a global sort."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias("share"),
            F.round(F.col("cnt").cast("double") * F.col("n_keys") / F.col("total"), 4).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.col("cnt").desc(), "l_partkey")
        .limit(20)
    )


@register(
    "skew_salted_brand_revenue",
    sql="""
    WITH hot AS (
      SELECT l_partkey FROM lineitem GROUP BY 1
      ORDER BY COUNT(*) DESC, l_partkey LIMIT 5
    )
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18, 6))), 2)::DOUBLE AS revenue,
           CAST(SUM(CASE WHEN l.l_partkey IN (SELECT l_partkey FROM hot)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
    tags=("skew", "join", "agg"),
)
def skew_salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware join under the driver gate: per-brand revenue where the
    lineitem→part join routes the 5 hottest part keys through
    operators.skew.salted_join (hot rows fan out over 16 salted reducers;
    cold keys join normally; results union) — the split-union plan a 100 TB
    job uses when one key exceeds an executor. The oracle is the plain
    join+agg: salting must change the DISTRIBUTION, never the result.
    Decimal-exact revenue sums cross-engine; hot keys are picked
    deterministically ((count, key)-ordered top-5) on both sides."""
    from pumle_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev_dec"),
    )
    hot = [
        r.l_partkey
        for r in li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "l_partkey")
        .limit(5)
        .collect()  # 5-row driver pull: the hot-key list is plan metadata,
        # computed once per job like any AQE statistics pass
    ]
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, p, on="l_partkey", hot_keys=hot, n_salts=16)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("rev_dec"), 2).cast("double").alias("revenue"),
        F.sum(F.when(F.col("l_partkey").isin(hot), 1).otherwise(0)).alias("n_hot_lines"),
    )


# --------------------------------------------------------------------------
# temperature-rebalanced source mixing (weights DERIVED from corpus counts)
# --------------------------------------------------------------------------

_TEMP_BUDGET = 200  # total docs the rebalanced mixture should select


@register(
    "mix_temperature_rebalance",
    sql=f"""
    WITH pc AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (
      SELECT source, n,
             CAST(ROUND(sqrt(n) * 1000000) AS BIGINT) AS w_micro
      FROM pc
    ),
    tot AS (SELECT SUM(w_micro) AS t FROM w)
    SELECT w.source,
           CAST(w.n AS BIGINT) AS n_docs,
           w.w_micro,
           CAST(({_TEMP_BUDGET} * w.w_micro) // tot.t AS BIGINT) AS take_k
    FROM w CROSS JOIN tot
    """,
    tags=("sampling", "temperature", "mixture"),
)
def mix_temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced source mixture (α = 0.5): per-source take
    quotas ∝ √count, the standard rebalancing that keeps huge sources from
    drowning small ones while still favoring them (multilingual/multi-
    domain pretraining mixes). Unlike mix_weighted_sources (operator-given
    weights) the weights here are DERIVED from the corpus itself.

    Exactness contract: √n is IEEE-exact on every engine (sqrt is
    correctly rounded, unlike pow — which is why the temperature is pinned
    at 0.5), weights are fixed at micro-precision in BIGINT, and quota =
    budget·w // Σw is pure integer arithmetic — identical take counts on
    any engine or partitioning. Two tiny aggregates; nothing scans twice.
    The quota feeds the same md5-rank top-k selection as
    sample_stratified_documents."""
    pc = table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = pc.select(
        "source",
        "n",
        F.round(F.sqrt(F.col("n")) * 1_000_000).cast("bigint").alias("w_micro"),
    )
    tot = w.agg(F.sum("w_micro").alias("t"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        "w_micro",
        F.expr(f"({_TEMP_BUDGET} * w_micro) div t").cast("bigint").alias("take_k"),
    )


# --------------------------------------------------------------------------
# sequential Poisson sampling (deterministic weighted sample without
# replacement)
# --------------------------------------------------------------------------

_SPS_K = 100


@register(
    "sample_sequential_poisson",
    sql=f"""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             -- Ohlsson's sequential Poisson rank u/w in integer form:
             -- 48-bit md5-prefix uniform over the weight; trunc division
             -- is identical on positives across engines
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               // GREATEST(n_chars, 1) AS rank_value
      FROM documents
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rank_value AS BIGINT) AS rank_value,
           CAST(rn AS INTEGER) AS rn
    FROM (SELECT doc_id, n_chars, rank_value,
                 ROW_NUMBER() OVER (ORDER BY rank_value, doc_id) AS rn
          FROM ranked)
    WHERE rn <= {_SPS_K}
    """,
    tags=("sampling", "weighted", "deterministic"),
)
def sample_sequential_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of {_SPS_K} documents without replacement by
    sequential Poisson sampling (Ohlsson): each row draws the uniform
    u = md5-prefix(doc_id)/2⁴⁸ and is ranked by u/weight — the k smallest
    ranks are the sample, with inclusion probability approximately
    proportional to the weight (here n_chars: longer documents
    oversampled, the curation posture that favors information-dense
    sources). The estimator family auditors use for PPS samples, in the
    engine's md5-deterministic form: rank = hash48 div weight in pure
    integer arithmetic, so the sample is identical on any cluster and in
    the DuckDB oracle.

    Scale: ranking is a map-side expression; the k smallest survive a
    TakeOrdered-shaped reduction (per-partition heads, driver merge of
    {_SPS_K} rows) — no global sort, no shuffle of the corpus."""
    d = table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "n_chars",
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
            " div greatest(n_chars, 1L)"
        ).alias("rank_value"),
    )
    # windowless two-phase top-k (ranked_topk): ascending rank_value ==
    # descending on its negation; no WindowExec, so the corpus-sized rank
    # table never crosses one partition
    return ranked_topk(
        ranked.withColumn("negrv", (-F.col("rank_value")).cast("bigint")),
        _SPS_K,
        "negrv",
        "doc_id",
    ).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "rank_value",
        F.col("rnk").alias("rn"),
    )


# --------------------------------------------------------------------------
# class-balanced downsampling over the embedding labels
# --------------------------------------------------------------------------


@register(
    "sample_balanced_labels",
    sql="""
    WITH sized AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_total
      FROM embeddings GROUP BY label
    ),
    m AS (SELECT CAST(MIN(n_total) AS BIGINT) AS quota FROM sized),
    ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY md5('bal|' || CAST(vec_id AS VARCHAR)),
                                         vec_id) AS rn
      FROM embeddings
    ),
    kept AS (
      SELECT r.label, r.vec_id FROM ranked r CROSS JOIN m WHERE r.rn <= m.quota
    )
    SELECT s.label, s.n_total, CAST(COUNT(k.vec_id) AS BIGINT) AS n_kept,
           CAST(SUM(k.vec_id) AS BIGINT) AS kept_id_sum,
           CAST(MIN(k.vec_id) AS BIGINT) AS min_kept_id
    FROM sized s JOIN kept k ON k.label = s.label
    GROUP BY s.label, s.n_total
    ORDER BY s.label
    """,
    tags=("sampling", "class-balance", "ml-prep"),
)
def sample_balanced_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-size rows, chosen by md5 rank — the classifier-training
    prep that neutralizes class imbalance without upsampling. The md5
    rank makes the SELECTION ITSELF deterministic and content-free: a
    row's keep/drop never changes when other rows arrive (the
    deterministic_split stability property, per class), and the oracle
    hash-checks the exact kept set via its id-sum, not just counts.

    Scale: one count per label (map-side combinable), one broadcast
    scalar (the quota), one rank window per label partition — the same
    shuffle the stratified sampler pays, with the quota replacing the
    fraction. No driver-side anything, no RNG state.
    """
    em = table(spark, sf_dir, "embeddings")
    sized = em.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    m = sized.agg(F.min("n_total").cast("bigint").alias("quota"))
    ranked = em.select(
        "label",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("label").orderBy(
                F.md5(F.concat(F.lit("bal|"), F.col("vec_id").cast("string"))), "vec_id"
            )
        )
        .alias("rn"),
    )
    kept = ranked.crossJoin(F.broadcast(m)).filter(F.col("rn") <= F.col("quota"))
    return (
        sized.join(kept.select("label", "vec_id"), "label")
        .groupBy("label", "n_total")
        .agg(
            F.count("vec_id").cast("bigint").alias("n_kept"),
            F.sum("vec_id").cast("bigint").alias("kept_id_sum"),
            F.min("vec_id").cast("bigint").alias("min_kept_id"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# purged walk-forward cross-validation split
# --------------------------------------------------------------------------

_PURGE_GAP_DAYS = 30
_WF_FOLDS = 4  # fold i tests on slice i+1 of 5 equal time slices


@register(
    "split_temporal_purged",
    sql=f"""
    WITH d AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS day
      FROM orders
    ),
    dh AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY day),
    b AS (SELECT MIN(day) AS dmin, MAX(day) - MIN(day) + 1 AS span FROM dh),
    folds AS (
      SELECT i,
             b.dmin + (i * b.span) // 5 AS test_start,
             b.dmin + ((i + 1) * b.span) // 5 AS test_end
      FROM (SELECT unnest(range(1, {_WF_FOLDS + 1})) AS i), b
    )
    SELECT CAST(f.i AS INTEGER) AS fold,
           CAST(f.test_start AS BIGINT) AS test_start_day,
           CAST(f.test_end AS BIGINT) AS test_end_day,
           CAST(COALESCE(SUM(CASE WHEN dh.day < f.test_start - {_PURGE_GAP_DAYS}
                                  THEN dh.n END), 0) AS BIGINT) AS n_train,
           CAST(COALESCE(SUM(CASE WHEN dh.day >= f.test_start - {_PURGE_GAP_DAYS}
                                   AND dh.day < f.test_start
                                  THEN dh.n END), 0) AS BIGINT) AS n_purged,
           CAST(COALESCE(SUM(CASE WHEN dh.day >= f.test_start
                                   AND dh.day < f.test_end
                                  THEN dh.n END), 0) AS BIGINT) AS n_test
    FROM folds f, dh
    GROUP BY 1, 2, 3
    ORDER BY fold
    """,
    tags=("sampling", "split", "timeseries"),
)
def split_temporal_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged walk-forward CV manifest (López de Prado 2018): the time
    axis is cut into 5 equal slices; fold i trains on everything ending
    {_PURGE_GAP_DAYS} days BEFORE test slice i+1 and embargoes the gap
    rows entirely — the split that keeps leakage out of any model whose
    labels look forward in time (backtests, churn, LTV). Complements the
    hash split (`deterministic_split`, iid) and the cluster-aware split
    (`split_cluster_aware`, near-dup leakage) with the temporal-leakage
    axis.

    Exactness: fold boundaries are integer floor divisions of the
    epoch-day span; every cell is an integer count. No floats exist.

    Scale shape: the fact table collapses to a per-day count histogram
    map-side (calendar-bounded — decades are ~10⁴ rows), so the fold
    fan-out and the boundary scalars all run on tiny relations; the big
    scan happens exactly once."""
    d = table(spark, sf_dir, "orders").select(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day")
    )
    dh = d.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    b = dh.agg(
        F.min("day").alias("dmin"),
        (F.max("day") - F.min("day") + 1).alias("span"),
    )
    folds = b.select(
        F.explode(F.sequence(F.lit(1), F.lit(_WF_FOLDS))).alias("i"), "dmin", "span"
    ).select(
        "i",
        (F.col("dmin") + F.expr("(i * span) div 5")).alias("test_start"),
        (F.col("dmin") + F.expr("((i + 1) * span) div 5")).alias("test_end"),
    )
    gap = _PURGE_GAP_DAYS
    return (
        dh.crossJoin(F.broadcast(folds))
        .groupBy("i", "test_start", "test_end")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("day") < F.col("test_start") - gap, F.col("n"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_train"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("day") >= F.col("test_start") - gap)
                        & (F.col("day") < F.col("test_start")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_purged"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("day") >= F.col("test_start"))
                        & (F.col("day") < F.col("test_end")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_test"),
        )
        .select(
            F.col("i").cast("int").alias("fold"),
            F.col("test_start").cast("bigint").alias("test_start_day"),
            F.col("test_end").cast("bigint").alias("test_end_day"),
            "n_train",
            "n_purged",
            "n_test",
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------------
# Neyman sampling allocation (largest-remainder, exact integers)
# --------------------------------------------------------------------------

_NEY_BUDGET = 1000


@register(
    "sample_neyman_allocation",
    sql=f"""
    WITH s AS (
      SELECT o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sx,
             SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      * CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS sxx
      FROM orders GROUP BY 1
    ),
    sd AS (
      SELECT priority, n_h,
             CAST(ROUND(SQRT(CAST(n_h * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
                        / n_h) AS BIGINT) AS sd_cents
      FROM s
    ),
    w AS (SELECT priority, n_h, sd_cents, n_h * sd_cents AS wt FROM sd),
    tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS wtot, CAST(SUM(n_h) AS BIGINT) AS ntot FROM w),
    alloc AS (
      SELECT w.priority, w.n_h, w.sd_cents,
             ({_NEY_BUDGET} * w.wt) // tw.wtot AS base_n,
             ({_NEY_BUDGET} * w.wt) % tw.wtot AS rem_n,
             ({_NEY_BUDGET} * w.n_h) // tw.ntot AS base_p,
             ({_NEY_BUDGET} * w.n_h) % tw.ntot AS rem_p
      FROM w CROSS JOIN tw
    ),
    lo AS (
      SELECT CAST({_NEY_BUDGET} - SUM(base_n) AS BIGINT) AS left_n,
             CAST({_NEY_BUDGET} - SUM(base_p) AS BIGINT) AS left_p
      FROM alloc
    ),
    rk AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem_n DESC, priority) AS rn_n,
             ROW_NUMBER() OVER (ORDER BY rem_p DESC, priority) AS rn_p
      FROM alloc
    )
    SELECT priority, n_h, sd_cents,
           CAST(base_n + CASE WHEN rn_n <= lo.left_n THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_neyman,
           CAST(base_p + CASE WHEN rn_p <= lo.left_p THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_proportional
    FROM rk CROSS JOIN lo
    ORDER BY priority
    """,
    tags=("sampling", "neyman", "allocation"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation for a budget of
    {_NEY_BUDGET}: each stratum (order priority) gets n_h ∝ N_h·σ_h —
    minimizing the stratified-mean variance — next to the naive
    proportional allocation (n_h ∝ N_h) for comparison. The spread
    between the two columns IS the payoff of variance-aware sampling:
    high-variance strata get oversampled exactly where a fixed-rate
    sample wastes budget.

    Integer discipline: per-stratum moments are exact (Σx² in
    DECIMAL(38,0) — bigint would overflow at sf0.01 already); σ is ONE
    deterministic sqrt of an exact-decimal variance, rounded to whole
    cents; both allocations use the LARGEST-REMAINDER method (floor
    shares + ranked remainders), which provably sums to the budget
    exactly — no float apportionment drift, identical on both engines.

    Scale: one keyed agg over the fact table; everything after operates
    on |strata| rows."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    s = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(cents).cast("bigint").alias("sx"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("sxx"),
    )
    sd = s.select(
        "priority",
        "n_h",
        F.round(
            F.sqrt(
                (
                    F.col("n_h") * F.col("sxx")
                    - F.col("sx").cast("decimal(38,0)") * F.col("sx")
                ).cast("double")
            )
            / F.col("n_h")
        )
        .cast("bigint")
        .alias("sd_cents"),
    )
    w = sd.withColumn("wt", F.col("n_h") * F.col("sd_cents"))
    tw = w.agg(
        F.sum("wt").cast("bigint").alias("wtot"),
        F.sum("n_h").cast("bigint").alias("ntot"),
    )
    alloc = w.crossJoin(F.broadcast(tw)).select(
        "priority",
        "n_h",
        "sd_cents",
        F.expr(f"({_NEY_BUDGET} * wt) div wtot").alias("base_n"),
        F.expr(f"({_NEY_BUDGET} * wt) % wtot").alias("rem_n"),
        F.expr(f"({_NEY_BUDGET} * n_h) div ntot").alias("base_p"),
        F.expr(f"({_NEY_BUDGET} * n_h) % ntot").alias("rem_p"),
    )
    lo = alloc.agg(
        (F.lit(_NEY_BUDGET) - F.sum("base_n")).cast("bigint").alias("left_n"),
        (F.lit(_NEY_BUDGET) - F.sum("base_p")).cast("bigint").alias("left_p"),
    )
    rk = alloc.select(
        "*",
        F.row_number().over(Window.orderBy(F.desc("rem_n"), "priority")).alias("rn_n"),
        F.row_number().over(Window.orderBy(F.desc("rem_p"), "priority")).alias("rn_p"),
    )
    return (
        rk.crossJoin(F.broadcast(lo))
        .select(
            "priority",
            "n_h",
            "sd_cents",
            (F.col("base_n") + F.when(F.col("rn_n") <= F.col("left_n"), 1).otherwise(0))
            .cast("bigint")
            .alias("alloc_neyman"),
            (F.col("base_p") + F.when(F.col("rn_p") <= F.col("left_p"), 1).otherwise(0))
            .cast("bigint")
            .alias("alloc_proportional"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# quality-weighted mixture optimizer (closed-form water-filling)
# --------------------------------------------------------------------------

_WF_BUDGET_TOKENS = 100_000


@register(
    "mix_waterfill_budget",
    sql=f"""
    WITH toks AS (
      SELECT source, w FROM (
        SELECT source, unnest(string_split_regex(trim(regexp_replace(lower(text),
                      '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        FROM documents) WHERE w <> ''
    ),
    q AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS avail_tokens,
             CAST(COUNT(DISTINCT w) * 1000000 // COUNT(*) AS BIGINT) AS q_micro
      FROM toks GROUP BY source
    ),
    tq AS (SELECT CAST(SUM(q_micro * q_micro) AS BIGINT) AS qq FROM q),
    alloc AS (
      SELECT q.source, q.avail_tokens, q.q_micro,
             ({_WF_BUDGET_TOKENS} * q.q_micro * q.q_micro) // tq.qq AS base,
             ({_WF_BUDGET_TOKENS} * q.q_micro * q.q_micro) % tq.qq AS rem
      FROM q CROSS JOIN tq
    ),
    lo AS (SELECT CAST({_WF_BUDGET_TOKENS} - SUM(base) AS BIGINT) AS leftn FROM alloc),
    rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn FROM alloc)
    SELECT source, avail_tokens, q_micro,
           CAST(base + CASE WHEN rn <= lo.leftn THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_tokens,
           CAST((base + CASE WHEN rn <= lo.leftn THEN 1 ELSE 0 END) * 1000000
                // {_WF_BUDGET_TOKENS} AS BIGINT) AS share_ppm
    FROM rk CROSS JOIN lo
    ORDER BY source
    """,
    tags=("sampling", "mixture", "waterfill"),
)
def mix_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted token-budget mixture: allocate a training budget of
    {_WF_BUDGET_TOKENS} tokens across sources to maximize Σ q_s·√t_s
    (diminishing returns per source — the concave utility behind
    DoReMi-style mixture tuning). The Lagrangian optimum is CLOSED FORM:
    t_s ∝ q_s², so no iterative solver runs at query time — the optimizer
    is one keyed agg plus a largest-remainder apportionment (the
    sample_neyman_allocation machinery with q² weights).

    Source quality here is the exact lexical-diversity ratio
    (distinct/total tokens, integer micro) — swap in any per-source score
    without touching the allocation algebra. The allocation provably sums
    to the budget exactly.

    Scale: one token rollup per source (the text_lexical_diversity
    shape), then |sources| rows end to end."""
    from pumle_spark.workload.text import _tokens_col

    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w") != "")
    )
    q = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("avail_tokens"),
        F.expr("count(DISTINCT w) * 1000000 div count(1)").cast("bigint").alias("q_micro"),
    )
    tq = q.agg(F.sum(F.col("q_micro") * F.col("q_micro")).cast("bigint").alias("qq"))
    alloc = q.crossJoin(F.broadcast(tq)).select(
        "source",
        "avail_tokens",
        "q_micro",
        F.expr(f"({_WF_BUDGET_TOKENS} * q_micro * q_micro) div qq").alias("base"),
        F.expr(f"({_WF_BUDGET_TOKENS} * q_micro * q_micro) % qq").alias("rem"),
    )
    lo = alloc.agg(
        (F.lit(_WF_BUDGET_TOKENS) - F.sum("base")).cast("bigint").alias("leftn")
    )
    rk = alloc.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    )
    return (
        rk.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "avail_tokens",
            "q_micro",
            (F.col("base") + F.when(F.col("rn") <= F.col("leftn"), 1).otherwise(0))
            .cast("bigint")
            .alias("alloc_tokens"),
            F.expr(
                f"(base + CASE WHEN rn <= leftn THEN 1 ELSE 0 END) * 1000000"
                f" div {_WF_BUDGET_TOKENS}"
            )
            .cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Horvitz–Thompson estimation from the stratified sample (design-unbiased)
# --------------------------------------------------------------------------


@register(
    "sample_horvitz_thompson",
    sql=f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents
    ),
    strata AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(LEAST({_STRATUM_K}, COUNT(*)) AS BIGINT) AS k_h,
             CAST(SUM(n_chars) AS BIGINT) AS exact_chars,
             CAST(SUM(CASE WHEN rnk <= {_STRATUM_K} THEN n_chars ELSE 0 END)
                  AS BIGINT) AS sample_chars
      FROM ranked GROUP BY lang
    )
    SELECT lang, n_h, k_h, exact_chars,
           CAST(sample_chars * n_h // k_h AS BIGINT) AS ht_estimate,
           CAST((sample_chars * n_h // k_h - exact_chars) * 1000000
                // exact_chars AS BIGINT) AS err_ppm
    FROM strata
    ORDER BY lang
    """,
    tags=("sampling", "horvitz-thompson", "estimation"),
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson estimation closing the sampling loop: the
    {_STRATUM_K}-per-stratum md5-lottery sample
    (sample_stratified_documents' exact design) has inclusion probability
    π = k/N_h within each language stratum, so the design-unbiased total
    estimator is T̂_h = (Σ sampled x)·N_h/k — reported beside the exact
    per-stratum character totals with a signed error ppm. Design →
    allocation (sample_neyman_allocation) → draw → ESTIMATE: this is the
    estimate, and its observed error is the honest answer to "was the
    sample big enough for this stratum?".

    Exactness: the estimator is one cross-multiplied integer div per
    stratum (no probability ever materializes as a float); strata where
    N_h ≤ k have π = 1 and reproduce the exact total with error 0 —
    asserted by the test as the design-consistency anchor.

    Scale: one md5-rank window per stratum (the sampler's own shape —
    threshold pre-filtering applies identically at scale) and a stratum-
    sized output."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select("doc_id", "lang", "n_chars").withColumn(
        "rnk", F.row_number().over(w)
    )
    strata = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.least(F.lit(_STRATUM_K), F.count(F.lit(1))).cast("bigint").alias("k_h"),
        F.sum("n_chars").cast("bigint").alias("exact_chars"),
        F.sum(F.when(F.col("rnk") <= _STRATUM_K, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sample_chars"),
    )
    return strata.select(
        "lang",
        "n_h",
        "k_h",
        "exact_chars",
        F.expr("sample_chars * n_h div k_h").cast("bigint").alias("ht_estimate"),
        F.expr("(sample_chars * n_h div k_h - exact_chars) * 1000000 div exact_chars")
        .cast("bigint")
        .alias("err_ppm"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# UniMax epoch-capped language budget allocation (arXiv:2304.09151)
# --------------------------------------------------------------------------

_UMX_EPOCH_CAP = 4  # max epochs any language may repeat
_UMX_BUDGET = 75_000  # total budget: binds the cap for low-resource langs at sf0.01

_SQL_UMX_TOKS = """
    toks AS (
      SELECT lang, w FROM (
        SELECT lang, unnest(string_split_regex(trim(regexp_replace(lower(text),
                      '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        FROM documents) WHERE w <> ''
    )
"""


@register(
    "mix_unimax_epochs",
    sql=f"""
    WITH {_SQL_UMX_TOKS},
    a AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS avail,
             CAST({_UMX_EPOCH_CAP} * COUNT(*) AS BIGINT) AS cap
      FROM toks GROUP BY lang
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cap, lang) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS nl,
             COALESCE(SUM(cap) OVER (ORDER BY cap, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      FROM a
    ),
    flagged AS (
      SELECT *, CASE WHEN cap * (nl - i + 1) + pfx <= {_UMX_BUDGET}
                     THEN 1 ELSE 0 END AS capped
      FROM rk
    ),
    tot AS (
      SELECT CAST(SUM(capped) AS BIGINT) AS k,
             CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN cap END), 0) AS BIGINT)
               AS spent,
             CAST(MAX(nl) AS BIGINT) AS nl2
      FROM flagged
    ),
    alloc AS (
      SELECT f.lang, f.avail, f.cap, f.capped,
             CASE WHEN f.capped = 1 THEN f.cap
                  WHEN t.nl2 > t.k
                    THEN ({_UMX_BUDGET} - t.spent) // (t.nl2 - t.k)
                       + CASE WHEN ROW_NUMBER() OVER (ORDER BY f.capped, f.lang)
                              <= ({_UMX_BUDGET} - t.spent) % (t.nl2 - t.k)
                              THEN 1 ELSE 0 END
                  ELSE 0 END AS alloc_tokens
      FROM flagged f CROSS JOIN tot t
    )
    SELECT lang, avail AS avail_tokens, cap AS cap_tokens,
           CAST(capped AS INTEGER) AS capped,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(alloc_tokens * 1000 // avail AS BIGINT) AS epochs_milli,
           CAST(alloc_tokens * 1000000 // {_UMX_BUDGET} AS BIGINT) AS share_ppm
    FROM alloc
    ORDER BY lang
    """,
    tags=("sampling", "mixture", "unimax", "epochs"),
)
def mix_unimax_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling (Chung et al., arXiv:2304.09151): allocate
    a {_UMX_BUDGET}-token budget across languages as UNIFORMLY as
    possible, subject to no language repeating more than {_UMX_EPOCH_CAP}
    epochs of its available tokens — the fairness-first alternative to
    temperature sampling (mix_temperature_rebalance) that provably never
    over-repeats low-resource languages.

    The paper's sequential greedy loop has a closed prefix form: sort
    languages ascending by cap_l = {_UMX_EPOCH_CAP}·avail_l; language i
    is cap-bound iff cap_i·(L−i+1) + Σ_(j<i) cap_j ≤ B (the remaining
    equal share still exceeds its cap), and because caps ascend, the
    bound set is a PREFIX — so one window rank + one prefix sum replace
    the loop. Unbound languages split the leftover exactly via
    largest-remainder apportionment (the sample_neyman_allocation
    machinery); the allocation sums to the budget unless every language
    caps (then Σ = Σ caps and the shortfall is visible in share_ppm).

    Exactness: token counts, caps, prefix sums, and the final division
    are all BIGINT; both engines truncate identically. Scale: one token
    rollup per language, then |langs| rows end to end — the windows and
    the scalar crossJoin ride dim-sized relations (plan_lint classes a)."""
    from pumle_spark.workload.text import _tokens_col

    toks = (
        table(spark, sf_dir, "documents")
        .select("lang", F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w") != "")
    )
    a = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("avail"),
        (F.lit(_UMX_EPOCH_CAP) * F.count(F.lit(1))).cast("bigint").alias("cap"),
    )
    w_cap = Window.orderBy("cap", "lang")
    rk = a.select(
        "*",
        F.row_number().over(w_cap).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("nl"),
        F.coalesce(
            F.sum("cap").over(w_cap.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("bigint").alias("pfx"),
    )
    flagged = rk.withColumn(
        "capped",
        F.when(
            F.col("cap") * (F.col("nl") - F.col("i") + 1) + F.col("pfx")
            <= _UMX_BUDGET,
            1,
        ).otherwise(0),
    )
    tot = flagged.agg(
        F.sum("capped").cast("bigint").alias("k"),
        F.coalesce(
            F.sum(F.when(F.col("capped") == 1, F.col("cap"))), F.lit(0)
        ).cast("bigint").alias("spent"),
        F.max("nl").cast("bigint").alias("nl2"),
    )
    w_u = Window.orderBy("capped", "lang")
    alloc = (
        flagged.crossJoin(F.broadcast(tot))
        .withColumn("rn_u", F.row_number().over(w_u))
        .select(
            "lang",
            "avail",
            "cap",
            "capped",
            F.when(F.col("capped") == 1, F.col("cap"))
            .when(
                F.col("nl2") > F.col("k"),
                F.expr(f"({_UMX_BUDGET} - spent) div (nl2 - k)")
                + F.when(
                    F.col("rn_u")
                    <= F.expr(f"({_UMX_BUDGET} - spent) % (nl2 - k)"),
                    1,
                ).otherwise(0),
            )
            .otherwise(0)
            .cast("bigint")
            .alias("alloc_tokens"),
        )
    )
    return alloc.select(
        "lang",
        F.col("avail").alias("avail_tokens"),
        F.col("cap").alias("cap_tokens"),
        F.col("capped").cast("int").alias("capped"),
        "alloc_tokens",
        F.expr("alloc_tokens * 1000 div avail").cast("bigint").alias("epochs_milli"),
        F.expr(f"alloc_tokens * 1000000 div {_UMX_BUDGET}")
        .cast("bigint")
        .alias("share_ppm"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# weighted sampling without replacement: Efraimidis–Spirakis exponential race
# --------------------------------------------------------------------------

_AES_K = 8  # sample size per source
# -ln(u) lookup over 256 midpoint-quantized uniforms: transcendentals differ
# between libm and the JVM in the last ulp, so ln() can never appear in an
# oracle-compared expression (the HLL linear-counting rule). The table ships
# as literals computed once in Python; repr() round-trips the exact doubles,
# and everything after the lookup is IEEE-exact (one divide, one multiply,
# one round) — bit-identical on both engines.
import math as _math  # noqa: E402

_AES_LNU = [(i, -_math.log((i + 0.5) / 256.0)) for i in range(256)]
_AES_LNU_SQL = ", ".join(f"({i}, {v!r})" for i, v in _AES_LNU)


@register(
    "sample_weighted_aes",
    sql=f"""
    WITH lnu(idx, v) AS (VALUES {_AES_LNU_SQL}),
    d AS (
      SELECT source, doc_id, GREATEST(n_chars, 1) AS w,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|aes'), 1, 2))::BIGINT
               AS idx
      FROM documents
    ),
    keyed AS (
      SELECT d.source, d.doc_id, d.w,
             CAST(ROUND(l.v / d.w * 1000000000) AS BIGINT) AS e_nano
      FROM d JOIN lnu l ON l.idx = d.idx
    )
    SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id,
           CAST(w AS BIGINT) AS weight_chars, e_nano
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY e_nano, doc_id) AS rnk
          FROM keyed)
    WHERE rnk <= {_AES_K}
    ORDER BY source, rnk
    """,
    tags=("sampling", "weighted", "reservoir"),
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement per source — the
    Efraimidis–Spirakis reservoir (A-ES, IPL 2006): item i wins with the
    smallest exponential clock e_i = −ln(u_i)/w_i, which makes inclusion
    exactly size-proportional without replacement; here w = document
    chars, so the sample is a tokens-proportional audit draw (the
    standard "inspect what training actually sees" picker, vs the
    unweighted md5 lottery of sample_stratified_documents).

    Determinism: u_i quantizes to 256 md5-derived midpoint uniforms whose
    −ln values are PRECOMPUTED PYTHON LITERALS (the HLL linear-counting
    table rule — transcendentals never cross the oracle boundary); the
    clock is then one IEEE-exact divide+multiply rounded ONCE to
    nano-units, and the race is an integer rank with doc_id tiebreak.
    A 1000-executor run, a rerun, and the DuckDB oracle pick the same
    sample byte for byte.

    Scale: one 256-row broadcast join + a per-source top-{_AES_K} window
    — the reservoir never materializes; at 100 TB the same plan holds
    with the window replaced by per-partition top-k + re-rank (Spark
    does this automatically via partial TakeOrdered under the rank
    filter)."""
    d = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.greatest(F.col("n_chars"), F.lit(1)).cast("bigint").alias("w"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|aes"))), 1, 2
            ),
            16,
            10,
        ).cast("bigint").alias("idx"),
    )
    lnu = local_frame(spark, _AES_LNU, "idx bigint, v double")
    keyed = d.join(F.broadcast(lnu), "idx").select(
        "source",
        "doc_id",
        "w",
        F.round(F.col("v") / F.col("w") * 1_000_000_000).cast("bigint").alias("e_nano"),
    )
    wr = Window.partitionBy("source").orderBy("e_nano", "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _AES_K)
        .select(
            "source",
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            F.col("w").alias("weight_chars"),
            "e_nano",
        )
        .orderBy("source", "rnk")
    )


# --------------------------------------------------------------------------
# grouped K-fold assignment (leakage-safe cross-validation folds)
# --------------------------------------------------------------------------

_GKF_K = 5


@register(
    "split_group_kfold",
    sql=f"""
    WITH assigned AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
             CAST(('0x' || substr(md5('gkf|' || CAST(o.o_custkey AS VARCHAR)), 1, 8))::BIGINT
                  % {_GKF_K} AS BIGINT) AS fold
      FROM orders o
    ),
    per_fold AS (
      SELECT fold,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM assigned GROUP BY fold
    ),
    tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS all_rows,
             CAST(SUM(value_cents) AS BIGINT) AS all_cents
      FROM per_fold
    )
    SELECT p.fold, p.n_groups, p.n_rows,
           CAST(p.n_rows * 1000000 // t.all_rows AS BIGINT) AS row_share_ppm,
           CAST(p.value_cents * 1000000 // t.all_cents AS BIGINT) AS value_share_ppm,
           CAST(p.n_rows * {_GKF_K} - t.all_rows AS BIGINT) AS row_excess_vs_uniform
    FROM per_fold p CROSS JOIN tot t
    """,
    tags=("sampling", "split", "cross-validation"),
)
def split_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped {_GKF_K}-fold assignment: every order of a customer lands in
    the SAME fold (fold = md5('gkf|'||custkey) mod {_GKF_K}), the grouping
    that keeps cross-validation honest when rows within a group are
    correlated — a random row split would leak a customer's behavior from
    train into validation (the GroupKFold contract, Pedregosa et al. 2011
    §sklearn.model_selection). Reported per fold: group count, row count,
    row/value shares in ppm, and the deviation from a uniform row split —
    the balance audit that tells you whether hash-fold imbalance is small
    enough to ignore at your scale.

    Exactness: fold assignment is pure integer hash arithmetic; shares are
    integer-ppm floor divisions of exact cent/row sums — no floats at all.

    Scale: assignment is map work (no shuffle to form folds — that is the
    POINT of hash-fold vs sorted/dealt folds); the audit is one
    {_GKF_K}-row partial-aggregated groupBy. COUNT(DISTINCT custkey) is
    the only expensive term and Spark's partial-distinct handles it; at
    100 TB you would swap it for an HLL sketch (see sketch_hll_distinct)
    without touching the fold semantics."""
    o = table(spark, sf_dir, "orders")
    fold = (
        F.conv(F.substring(F.md5(F.concat(F.lit("gkf|"), F.col("o_custkey").cast("string"))), 1, 8), 16, 10)
        .cast("bigint")
        % _GKF_K
    )
    assigned = o.select(
        "o_orderkey", "o_custkey", "o_totalprice", fold.alias("fold")
    )
    per_fold = assigned.groupBy("fold").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_groups"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("value_cents"),
    )
    tot = per_fold.agg(
        F.sum("n_rows").cast("bigint").alias("all_rows"),
        F.sum("value_cents").cast("bigint").alias("all_cents"),
    )
    return per_fold.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_groups",
        "n_rows",
        F.expr("n_rows * 1000000 div all_rows").cast("bigint").alias("row_share_ppm"),
        F.expr("value_cents * 1000000 div all_cents").cast("bigint").alias("value_share_ppm"),
        (F.col("n_rows") * _GKF_K - F.col("all_rows")).cast("bigint").alias("row_excess_vs_uniform"),
    )


# --------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023, exponentiated gradient)
# --------------------------------------------------------------------------

_DRM_ROUNDS = 4
# Step size chosen so this corpus's centered excess (~ +/-5e3 micro-nats;
# the synthetic sources are near-identical, ~1000x tighter than real
# domain losses) maps to O(0.5) exponent steps — the dynamic range the
# real algorithm operates in. The exponent is clipped to +/-_DRM_CLIP on
# BOTH engines: with e^2 = 7.39, q <= 7.39e6 and the integer normalize
# alpha*q*1e6 <= 7.4e18 stays under 2^63 by construction.
_DRM_ETA_PER_MICRO = 0.0001
_DRM_CLIP = 2.0
_DRM_SMOOTH_PPM = 10000  # 1% uniform smoothing mass per round (DoReMi's c)

_SQL_DRM_LOSS = """
    toks AS (
      SELECT source, w FROM (
        SELECT source, unnest(string_split_regex(trim(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        FROM documents
      ) WHERE w <> ''
    ),
    gm AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    gt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM gm),
    gcost AS MATERIALIZED (
      SELECT w, CAST(ROUND(-1000000 * ln(CAST(c AS DOUBLE) / CAST(gt.n AS DOUBLE)))
                     AS BIGINT) AS gc
      FROM gm, gt
    ),
    lm AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM toks GROUP BY source, w),
    lt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM lm GROUP BY source),
    lcost AS MATERIALIZED (
      SELECT lm.source, lm.w,
             CAST(ROUND(-1000000 * ln(CAST(lm.c AS DOUBLE) / CAST(lt.n AS DOUBLE)))
                  AS BIGINT) AS lc
      FROM lm JOIN lt ON lt.source = lm.source
    ),
    sc AS MATERIALIZED (
      SELECT t.source,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(g.gc) AS BIGINT) AS gsum,
             CAST(SUM(l.lc) AS BIGINT) AS lsum
      FROM toks t
      JOIN gcost g ON g.w = t.w
      JOIN lcost l ON l.source = t.source AND l.w = t.w
      GROUP BY t.source
    ),
    ex AS MATERIALIZED (
      SELECT source, n_toks, GREATEST(gsum // n_toks - lsum // n_toks, 0) AS e
      FROM sc
    ),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ex),
    a0 AS MATERIALIZED (SELECT source, e, CAST(1000000 // ns.k AS BIGINT) AS alpha FROM ex, ns)"""


def _sql_drm_round(r: int) -> str:
    """One exponentiated-gradient round of the oracle: centered excess →
    quantized multiplicative update → integer normalize → uniform smooth."""
    return f"""
    w{r} AS MATERIALIZED (
      SELECT source, e, alpha,
             CAST(ROUND(1000000 * exp(LEAST(GREATEST(
                    CAST(e - (SELECT SUM(alpha * e) // SUM(alpha)
                              FROM a{r - 1}) AS DOUBLE)
                    * {_DRM_ETA_PER_MICRO}, -{_DRM_CLIP}), {_DRM_CLIP})))
                  AS BIGINT) AS q
      FROM a{r - 1}
    ),
    n{r} AS (SELECT CAST(SUM(alpha * q) AS BIGINT) AS s FROM w{r}),
    a{r} AS MATERIALIZED (
      SELECT source, e,
             CAST((alpha * q * 1000000 // n{r}.s) * {1000000 - _DRM_SMOOTH_PPM}
                  // 1000000 + {_DRM_SMOOTH_PPM} // ns.k AS BIGINT) AS alpha
      FROM w{r}, n{r}, ns
    ),
    rep{r} AS (SELECT {r} AS round, source, e AS excess_micro,
                      alpha AS alpha_ppm FROM a{r})"""


def _drm_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame], DataFrame]:
    """The DoReMi loss + exponentiated-gradient chain, ONE definition
    shared by `mix_doremi_weights` (per-round trajectory report) and
    `mix_anneal_schedule` (final-weight consumer): returns (ex, reps, a)
    — ex the checkpointed (source, n_toks, e) excess-loss table, reps
    the per-round (round, source, excess_micro, alpha_ppm) report
    frames, and a the final (source, e, alpha, k) weights after
    _DRM_ROUNDS exponentiated-gradient rounds. Semantics, determinism,
    and scale shape are documented on `mix_doremi_weights`; the SQL
    twin is _SQL_DRM_LOSS + _sql_drm_round, shared the same way."""
    from pumle_spark.workload.text import _tokens_col

    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select("source", F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w") != "")
    )
    gm = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    gt = gm.agg(F.sum("c").cast("bigint").alias("n"))
    gcost = gm.crossJoin(F.broadcast(gt)).select(
        "w",
        F.round(
            F.lit(-1000000)
            * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
        )
        .cast("bigint")
        .alias("gc"),
    )
    lm = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lt = lm.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    lcost = lm.join(lt, "source").select(
        "source",
        "w",
        F.round(
            F.lit(-1000000)
            * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
        )
        .cast("bigint")
        .alias("lc"),
    )
    sc = (
        toks.join(gcost, "w")
        .join(lcost, ["source", "w"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("gc").cast("bigint").alias("gsum"),
            F.sum("lc").cast("bigint").alias("lsum"),
        )
    )
    # pin: every EG round re-runs the token-stream LM joins without it (PERF.md "Pins")
    ex = sc.select(
        "source",
        "n_toks",
        F.greatest(
            F.expr("gsum div n_toks - lsum div n_toks"), F.lit(0)
        )
        .cast("bigint")
        .alias("e"),
    ).localCheckpoint(eager=False)
    ns = ex.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    a = (
        ex.crossJoin(F.broadcast(ns))
        .select(
            "source",
            "e",
            F.expr("1000000 div k").cast("bigint").alias("alpha"),
            "k",
        )
    )
    reps = []
    for r in range(1, _DRM_ROUNDS + 1):
        avg = a.agg(F.expr("sum(alpha * e) div sum(alpha)").cast("bigint").alias("avg_e"))
        w = a.crossJoin(F.broadcast(avg)).select(
            "source",
            "e",
            "alpha",
            "k",
            F.round(
                F.lit(1000000)
                * F.exp(
                    F.least(
                        F.greatest(
                            (F.col("e") - F.col("avg_e")).cast("double")
                            * F.lit(_DRM_ETA_PER_MICRO),
                            F.lit(-_DRM_CLIP),
                        ),
                        F.lit(_DRM_CLIP),
                    )
                )
            )
            .cast("bigint")
            .alias("q"),
        )
        nrm = w.agg(F.sum(F.col("alpha") * F.col("q")).cast("bigint").alias("s"))
        a = (
            w.crossJoin(F.broadcast(nrm))
            .select(
                "source",
                "e",
                (
                    F.expr(
                        f"(alpha * q * 1000000 div s) * {1000000 - _DRM_SMOOTH_PPM} "
                        f"div 1000000 + {_DRM_SMOOTH_PPM} div k"
                    )
                )
                .cast("bigint")
                .alias("alpha"),
                "k",
            )
            # pin: round k+1 reads round k several times (PERF.md "Pins")
            .localCheckpoint(eager=False)
        )
        reps.append(
            a.select(
                F.lit(r).cast("int").alias("round"),
                "source",
                F.col("e").alias("excess_micro"),
                F.col("alpha").alias("alpha_ppm"),
            )
        )
    return ex, reps, a


@register(
    "mix_doremi_weights",
    sql=f"""
    WITH {_SQL_DRM_LOSS},
    {", ".join(_sql_drm_round(r) for r in range(1, _DRM_ROUNDS + 1))}
    SELECT CAST(round AS INTEGER) AS round, source, excess_micro, alpha_ppm
    FROM ({" UNION ALL ".join(f"SELECT * FROM rep{r}" for r in range(1, _DRM_ROUNDS + 1))})
    ORDER BY round, source
    """,
    tags=("sampling", "mixture", "doremi", "iterative"),
)
def mix_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain-mixture reweighting (Xie et al. 2023,
    arXiv:2305.10429): upweight the domains the reference model fits
    WORST. Each source's excess loss is its corpus-global unigram-LM avg
    token NLL minus its in-domain unigram-LM avg NLL (the per-domain gap a
    proxy-vs-reference pair measures; both models are token-count tables,
    clipped at 0 like DoReMi's max(excess, 0)), then a fixed
    {_DRM_ROUNDS}-round exponentiated-gradient unroll on the Group-DRO
    objective: alpha <- alpha * exp(eta * (excess - weighted avg)),
    integer-normalized to ppm, then smoothed with {_DRM_SMOOTH_PPM} ppm of
    uniform mass (DoReMi's c). Emits the full per-round weight trajectory.

    Determinism: per-vocabulary-entry costs are micro-nat-quantized before
    any sum (the module contract); every dp is exact BIGINT. The one
    double per (round, source) is the exp() of a centered excess bounded
    by ln|V| nats (|V| = corpus vocabulary), so q <= ~5.5e6 and the
    normalize product alpha*q*1e6 stays under 2^63 by construction.

    Scale shape: both LMs are keyed count rollups (vocab / source x vocab
    sized — broadcastable); scoring is two keyed joins on the token
    stream, then everything downstream is |sources|-sized: the EG rounds
    are arithmetic over a 20-row table with single-row broadcast scalars.
    At 100 TB the token-stream joins are the only heavy stages and both
    are map-side-combinable counts."""
    _ex, reps, _a = _drm_chain(spark, sf_dir)
    out = reps[0]
    for s in reps[1:]:
        out = out.unionAll(s)
    return out.orderBy("round", "source")


# --------------------------------------------------------------------------
# multi-epoch annealing schedule: natural mixture -> DoReMi weights
# --------------------------------------------------------------------------

_ANNEAL_EPOCHS = 4      # pretraining epochs the schedule spans
_ANNEAL_MAX_REPEAT = 2  # UniMax-style per-source repeat budget (epochs)

# The annealing-schedule CTE chain (DoReMi chain -> per-epoch interpolated
# weights), ONE definition shared by `mix_anneal_schedule` (the schedule
# report) and `curriculum_quality_anneal` (the document-selection consumer)
# — same never-a-restatement rule as _SQL_DRM_LOSS itself.
_SQL_ANNEAL_SCHED = f"""{_SQL_DRM_LOSS},
    {", ".join(_sql_drm_round(r) for r in range(1, _DRM_ROUNDS + 1))},
    tgt AS (SELECT source, alpha AS tgt_ppm FROM a{_DRM_ROUNDS}),
    tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS b FROM ex),
    nat AS (SELECT source, n_toks,
                   CAST(n_toks * 1000000 // tot.b AS BIGINT) AS nat_ppm
            FROM ex, tot),
    ep AS (SELECT unnest(range(1, {_ANNEAL_EPOCHS + 1})) AS epoch),
    sched AS (
      SELECT ep.epoch, n.source, n.n_toks, tot.b,
             CAST((n.nat_ppm * ({_ANNEAL_EPOCHS} - ep.epoch)
                   + t.tgt_ppm * (ep.epoch - 1))
                  // {_ANNEAL_EPOCHS - 1} AS BIGINT) AS weight_ppm
      FROM nat n JOIN tgt t ON t.source = n.source, ep, tot
    )"""


@register(
    "mix_anneal_schedule",
    sql=f"""
    WITH {_SQL_ANNEAL_SCHED}
    SELECT CAST(epoch AS INTEGER) AS epoch, source, weight_ppm,
           CAST((b * weight_ppm) // 1000000 AS BIGINT) AS tokens_budget,
           CAST(((b * weight_ppm) // 1000000) * 1000 // n_toks AS BIGINT)
             AS repeat_milli,
           CAST(CASE WHEN ((b * weight_ppm) // 1000000) * 1000 // n_toks
                          > {_ANNEAL_MAX_REPEAT * 1000}
                     THEN 1 ELSE 0 END AS INTEGER) AS capped
    FROM sched
    ORDER BY epoch, source
    """,
    tags=("sampling", "mixture", "doremi", "annealing"),
)
def mix_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch data-mixing ANNEALING schedule: epoch 1 samples each
    source at its natural token share and the last epoch at the DoReMi
    weights, interpolating linearly in exact ppm between them — the
    two-stage curriculum production pretraining runs (start on the raw
    web mixture, anneal onto the quality-reweighted mixture late in
    training; cf. Llama 3, arXiv:2407.21783 §3.4.3 "annealing data", and
    MiniCPM, arXiv:2404.06395's decay-phase mixture shift). The DoReMi
    target is THE registered trainer's output (`_drm_chain`, shared with
    `mix_doremi_weights` — one definition, never a re-statement).

    Per (epoch, source): the interpolated weight_ppm, the epoch's token
    draw against a one-corpus-pass budget (tokens_budget), the implied
    repeat factor over the source's own corpus in milli-epochs
    (repeat_milli), and a UniMax-style cap audit (Chung et al. 2023,
    arXiv:2304.09151): capped=1 where the draw would repeat a source more
    than {_ANNEAL_MAX_REPEAT}x — the rows a budget redistribution
    (`mix_waterfill_budget`'s class) would re-spread.

    Determinism: the interpolation is (nat*(E-e) + tgt*(e-1)) div (E-1)
    with every term non-negative, so DuckDB floor-`//` and Spark
    truncating-`div` agree; budgets and repeat factors are BIGINT floor
    divisions of non-negative products (b * ppm <= 2^63 by corpus size).

    Scale shape: the corpus-sized work is _drm_chain's token-stream scoring
    (map-side-combinable counts, documented there); everything here is
    |sources|-sized arithmetic crossed with a constant {_ANNEAL_EPOCHS}-row
    epoch grid and two single-row broadcast scalars."""
    ex, _reps, a = _drm_chain(spark, sf_dir)
    tot = ex.agg(F.sum("n_toks").cast("bigint").alias("b"))
    nat = ex.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_toks",
        "b",
        F.expr("n_toks * 1000000 div b").cast("bigint").alias("nat_ppm"),
    )
    tgt = a.select("source", F.col("alpha").alias("tgt_ppm"))
    epochs = spark.range(1, _ANNEAL_EPOCHS + 1).select(
        F.col("id").cast("int").alias("epoch")
    )
    sched = (
        nat.join(tgt, "source")
        .crossJoin(F.broadcast(epochs))
        .select(
            "epoch",
            "source",
            "n_toks",
            "b",
            F.expr(
                f"(nat_ppm * ({_ANNEAL_EPOCHS} - epoch) + tgt_ppm * (epoch - 1)) "
                f"div {_ANNEAL_EPOCHS - 1}"
            )
            .cast("bigint")
            .alias("weight_ppm"),
        )
    )
    return (
        sched.select(
            "epoch",
            "source",
            "weight_ppm",
            F.expr("(b * weight_ppm) div 1000000").cast("bigint").alias("tokens_budget"),
            F.expr("((b * weight_ppm) div 1000000) * 1000 div n_toks")
            .cast("bigint")
            .alias("repeat_milli"),
        )
        .withColumn(
            "capped",
            F.when(F.col("repeat_milli") > _ANNEAL_MAX_REPEAT * 1000, 1)
            .otherwise(0)
            .cast("int"),
        )
        .orderBy("epoch", "source")
    )


# --------------------------------------------------------------------------
# curriculum ordering: quality buckets filled under the annealed budgets
# --------------------------------------------------------------------------

# tokenizer and stopword inventory come from the text module — one
# definition engine-wide (same rule as _tokens_col in _drm_chain).
from pumle_spark.workload.text import _SQL_TOKENS, _STOPWORDS, _sql_in  # noqa: E402

_CURRICULUM_BUCKET = 1000  # quality bucket width (micro -> milli granularity)
_SQL_STOP_EN = _sql_in(_STOPWORDS["en"])


@register(
    "curriculum_quality_anneal",
    sql=f"""
    WITH {_SQL_ANNEAL_SCHED},
    dq0 AS (
      SELECT source, doc_id,
             list_filter({_SQL_TOKENS}, w -> w <> '') AS ws
      FROM documents
    ),
    dq AS (
      SELECT source, doc_id, CAST(LEN(ws) AS BIGINT) AS n_toks_doc,
             CAST((LEN(list_filter(ws, t -> t IN ({_SQL_STOP_EN})))
                   * 1000000 // LEN(ws)
                   + LEN(list_distinct(ws)) * 1000000 // LEN(ws))
                  // {_CURRICULUM_BUCKET} AS BIGINT) AS q_milli
      FROM dq0 WHERE LEN(ws) > 0
    ),
    hist AS (
      SELECT source, q_milli,
             CAST(SUM(n_toks_doc) AS BIGINT) AS tok_b,
             CAST(COUNT(*) AS BIGINT) AS doc_b
      FROM dq GROUP BY source, q_milli
    ),
    cum AS (
      SELECT source, q_milli, tok_b, doc_b,
             CAST(SUM(tok_b) OVER (PARTITION BY source ORDER BY q_milli DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_toks
      FROM hist
    ),
    budg AS (
      SELECT CAST(epoch AS INTEGER) AS epoch, source,
             CAST((b * weight_ppm) // 1000000 AS BIGINT) AS tokens_budget
      FROM sched
    )
    SELECT s.epoch, s.source, s.tokens_budget,
           CAST(COALESCE(SUM(c.doc_b), 0) AS BIGINT) AS n_docs_sel,
           CAST(COALESCE(SUM(c.tok_b), 0) AS BIGINT) AS tokens_sel,
           CAST(COALESCE(SUM(c.tok_b), 0) * 1000000
                // NULLIF(s.tokens_budget, 0) AS BIGINT) AS fill_ppm,
           CAST(MIN(c.q_milli) AS BIGINT) AS cutoff_quality_milli
    FROM budg s
    LEFT JOIN cum c ON c.source = s.source AND c.cum_toks <= s.tokens_budget
    GROUP BY s.epoch, s.source, s.tokens_budget
    ORDER BY s.epoch, s.source
    """,
    tags=("sampling", "curriculum", "quality", "annealing"),
)
def curriculum_quality_anneal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum DOCUMENT SELECTION under the annealed mixture: for each
    (epoch, source) the anneal schedule (`mix_anneal_schedule` — THE
    registered schedule, reused not restated via _SQL_ANNEAL_SCHED) grants
    a token budget; this operator fills that budget from the TOP of a
    per-document quality ordering, bucket-granular — the pairing of a
    quality curriculum with a late-training mixture shift (the
    anneal-onto-quality recipe of Llama 3, arXiv:2407.21783 §3.4.3; the
    quality-bucket pacing in DeepSeek LLM, arXiv:2401.02954 §2.1). Per
    (epoch, source): the budget, documents/tokens selected, exact-ppm fill
    ratio, and the realized quality floor (lowest bucket admitted).

    Quality score: exact-integer micro-units — English stopword density
    (the Gopher "natural prose" gate, arXiv:2112.11446 Table A1) plus
    distinct-token ratio (repetition penalty), floor-divided into
    {_CURRICULUM_BUCKET}-micro buckets. Bucket granularity is the point:
    selection is by quality CLASS, so the operator never needs a total
    order over documents.

    Scale shape: ONE corpus pass builds per-document scores (pure map),
    collapsed to a (source, bucket) histogram (map-side combinable); the
    cumulative fill runs over that |sources| x |buckets| table (a
    partitioned window over POST-AGGREGATION rows, never over documents);
    the budget join is |sources| x {_ANNEAL_EPOCHS} rows. At 100 TB the
    document pass stays embarrassingly parallel and nothing downstream
    grows with the corpus. Materializing the per-epoch document lists is
    then a broadcast-join of the cutoffs back against the scored documents
    — deliberately NOT done here, so the report stays |sources|-sized.

    Exactness: integer counts; BIGINT floor divisions mirrored by DuckDB
    `//`; NULLIF-guarded zero budgets on both engines; the window's
    ORDER BY q_milli DESC is total within a source because q_milli is the
    grouping key (no tie ambiguity)."""
    from pumle_spark.workload.text import _tokens_col

    sched = mix_anneal_schedule(spark, sf_dir).select(
        "epoch", "source", "tokens_budget"
    )
    dq0 = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.filter(_tokens_col(), lambda w: w != "").alias("ws"),
    ).filter(F.size("ws") > 0)
    dq = dq0.select(
        "source",
        F.size("ws").cast("bigint").alias("n_toks_doc"),
        F.expr(
            f"((size(filter(ws, t -> t IN ({_SQL_STOP_EN}))) * 1000000L"
            f" div size(ws))"
            f" + (size(array_distinct(ws)) * 1000000L div size(ws)))"
            f" div {_CURRICULUM_BUCKET}"
        )
        .cast("bigint")
        .alias("q_milli"),
    )
    hist = dq.groupBy("source", "q_milli").agg(
        F.sum("n_toks_doc").cast("bigint").alias("tok_b"),
        F.count(F.lit(1)).cast("bigint").alias("doc_b"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("q_milli"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum_toks", F.sum("tok_b").over(w).cast("bigint"))
    # equi-join on source ONLY (a BroadcastHashJoin — the budget range as a
    # join conjunct degrades the plan to BroadcastNestedLoopJoin); the
    # budget cut moves into conditional aggregation, which preserves the
    # left-join "keep empty (epoch, source)" semantics exactly.
    sel = sched.alias("s").join(
        cum.alias("c"), F.col("c.source") == F.col("s.source"), "left"
    )
    inb = F.col("c.cum_toks") <= F.col("s.tokens_budget")
    return (
        sel.groupBy("s.epoch", "s.source", "s.tokens_budget")
        .agg(
            F.coalesce(F.sum(F.when(inb, F.col("c.doc_b"))), F.lit(0))
            .cast("bigint")
            .alias("n_docs_sel"),
            F.coalesce(F.sum(F.when(inb, F.col("c.tok_b"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_sel"),
            F.min(F.when(inb, F.col("c.q_milli")))
            .cast("bigint")
            .alias("cutoff_quality_milli"),
        )
        .select(
            "epoch",
            "source",
            "tokens_budget",
            "n_docs_sel",
            "tokens_sel",
            F.expr("(tokens_sel * 1000000) div nullif(tokens_budget, 0)")
            .cast("bigint")
            .alias("fill_ppm"),
            "cutoff_quality_milli",
        )
        .orderBy("epoch", "source")
    )
