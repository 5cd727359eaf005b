"""Embedding clustering + cluster-blocked semantic dedup (SemDeDup-style).

The reference has no clustering (its grouping needs stop at trap labels,
`/root/reference/simulation/co2lab3DPUMLE.m:141-144`); this module is part of
the beyond-reference training-data surface (SURVEY.md §2.13): cluster a corpus
of embeddings, profile the clusters, and use cluster membership as the
*blocking key* for semantic near-dedup — the SemDeDup recipe (Abbas et al.
2023: k-means the embeddings, then dedup only within clusters, never across).

Determinism is the whole game for a distributed pipeline, so this is
**fixed-point spherical k-means**:

- init centroids = strided vec_ids (no RNG state; same trick as IVF,
  `workload/similarity.py`);
- assignment = argmax cosine, ranked on the 6-decimal-rounded similarity with
  centroid-id tiebreak (cross-engine ties resolve identically);
- the Lloyd mean update runs in **fixed-point integer arithmetic**: each
  coordinate is scaled by 1e6 and summed as BIGINT, then divided back in
  double. Integer sums are exact and associative, so the recomputed centroid
  is bit-identical regardless of partition count, reduce order, or engine —
  float means are not (fp addition is non-associative), and a one-ulp
  centroid wobble can flip an argmax near a tie. This is what makes a
  1000-executor retrain reproduce the oracle bit-for-bit.

Scale shape (100 TB): assignment is map-side only — K centroids broadcast,
no shuffle of the corpus; the update is a partial-aggregated groupBy on
(cluster, dim) — K·D rows out of the map side per partition; iterations are a
driver-side loop of bounded depth (checkpoint the assignment each round at
real scale to cap lineage). SemDeDup then inherits IVF economics: pairs form
only inside a cluster, Σ_c |c|² instead of n²/2, and K grows with n to hold
|c| constant.

All vector math is JVM expression-tree (zip_with/aggregate); no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.functions.vectors import as_double, dot
from pumle_spark.tables import table
from pumle_spark.workload import register

_K = 8                 # MINIMUM cluster count; actual K scales with the corpus
_K_TARGET = 250        # target members per cluster: K = max(_K, n DIV _K_TARGET)
_STRIDE = 61           # init centroids = vec_id % 61 == 0, vec_id < K*61
_ITERS = 2             # Lloyd iterations (unrolled in the SQL oracle)
_FP = 1_000_000        # fixed-point scale for the mean update
_DIM = 64
_SEM_THRESHOLD = 0.4   # SemDeDup within-cluster cosine threshold

# K = GREATEST(_K, n // _K_TARGET) holds |cluster| ≈ _K_TARGET as the corpus
# grows, which is what keeps SemDeDup's Σ_c |c|² pair space LINEAR in n
# (n·_K_TARGET, not n²/K for fixed K — the sf1 probe measured exponent 1.42
# with K pinned at 8). At every driver-checked SF (n ≤ 2000) the formula
# yields exactly _K, so oracle results there are bit-unchanged.
_SQL_KVAL = f"(SELECT GREATEST({_K}, COUNT(*) // {_K_TARGET}) FROM embeddings)"


# ---------------------------------------------------------------- SQL oracle

def _sql_kmeans_ctes() -> str:
    """CTE chain: v, c0, (a1, m1, c1) … unrolled _ITERS times, then `final`
    = assignment against the last centroid set."""
    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"""c0 AS (SELECT vec_id AS cid, emb AS cemb FROM v
              WHERE vec_id % {_STRIDE} = 0 AND vec_id < {_SQL_KVAL} * {_STRIDE})""",
    ]

    def assign(name: str, cents: str) -> str:
        return f"""{name} AS (
          SELECT vec_id, cid, cos_sim FROM (
            SELECT v.vec_id, c.cid,
                   ROUND(list_cosine_similarity(v.emb, c.cemb), 6) AS cos_sim,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY ROUND(list_cosine_similarity(v.emb, c.cemb), 6) DESC,
                              c.cid) AS rn
            FROM v CROSS JOIN {cents} c)
          WHERE rn = 1)"""

    for i in range(1, _ITERS + 1):
        parts.append(assign(f"a{i}", f"c{i - 1}"))
        parts.append(f"""m{i} AS (
          SELECT a.cid, g.d,
                 SUM(CAST(ROUND(v.emb[g.d + 1] * {_FP}) AS BIGINT)) AS s,
                 COUNT(*) AS n
          FROM a{i} a JOIN v USING (vec_id)
          CROSS JOIN generate_series(0, {_DIM - 1}) g(d)
          GROUP BY a.cid, g.d)""")
        # empty-cluster fallback: a centroid that captured no members keeps
        # its previous position (mirrors the Spark-side left-anti union)
        parts.append(f"""c{i} AS (
          SELECT cid, list(s / ({_FP}.0 * n) ORDER BY d) AS cemb
          FROM m{i} GROUP BY cid
          UNION ALL
          SELECT cid, cemb FROM c{i - 1}
          WHERE cid NOT IN (SELECT cid FROM m{i}))""")
    parts.append(assign("final", f"c{_ITERS}"))
    return ",\n".join(parts)


_SQL_KMEANS_ASSIGN = f"""
    WITH {_sql_kmeans_ctes()}
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id, cos_sim
    FROM final
"""

_SQL_KMEANS_PROFILE = f"""
    WITH {_sql_kmeans_ctes()}
    SELECT CAST(cid AS INTEGER) AS cluster_id,
           COUNT(*) AS n_members,
           ROUND(SUM(CAST(ROUND(cos_sim * {_FP}) AS BIGINT)) / ({_FP}.0 * COUNT(*)), 6)
             AS mean_cos
    FROM final
    GROUP BY cid
"""

_SQL_SEMDEDUP = f"""
    WITH {_sql_kmeans_ctes()},
    pairs AS (
      SELECT fa.cid, fa.vec_id AS keeper_id, fb.vec_id AS vec_id,
             ROUND(list_cosine_similarity(va.emb, vb.emb), 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY fb.vec_id ORDER BY fa.vec_id) AS rn
      FROM final fa
      JOIN final fb ON fa.cid = fb.cid AND fa.vec_id < fb.vec_id
      JOIN v va ON va.vec_id = fa.vec_id
      JOIN v vb ON vb.vec_id = fb.vec_id
      WHERE list_cosine_similarity(va.emb, vb.emb) >= {_SEM_THRESHOLD}
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id, keeper_id, cos_sim
    FROM pairs WHERE rn = 1
"""


# ---------------------------------------------------------------- Spark side

def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 negative result: a round-robin repartition here (the
    # _shingle_sets idiom) regressed the whole family ~+1 s each — v is
    # consumed by every Lloyd-iteration job, so the un-materialized
    # exchange re-executed per job, and the 64-float array payload shuffle
    # costs more than the small HOF dot kernel saves.
    return table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))


def _init_centroids(v: DataFrame) -> DataFrame:
    # K = max(_K, n DIV _K_TARGET) as a single-row broadcast scalar: the
    # corpus-size-scaled cluster count (see _SQL_KVAL) without a driver
    # collect — the same bounds-scalar shape layout_zorder_* uses
    kn = v.agg(
        F.greatest(F.lit(_K).cast("long"), F.expr(f"count(1) div {_K_TARGET}")).alias("kk")
    )
    return (
        v.crossJoin(F.broadcast(kn))
        .filter((F.col("vec_id") % _STRIDE == 0) & (F.col("vec_id") < F.col("kk") * _STRIDE))
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"))
    )


def _assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, cos_sim): nearest centroid by rounded cosine; the
    centroid side is always broadcast — the corpus never shuffles. `v` may
    already carry a `vn` squared-norm column (computed once per pipeline,
    not once per iteration)."""
    cn = cents.withColumn("cn", dot(F.col("cemb"), F.col("cemb")))
    vn = v if "vn" in v.columns else v.withColumn("vn", dot(F.col("emb"), F.col("emb")))
    cos = dot(F.col("emb"), F.col("cemb")) / F.sqrt(F.col("vn") * F.col("cn"))
    scored = vn.crossJoin(F.broadcast(cn)).select(
        "vec_id", "cid", F.round(cos, 6).alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def _update(v: DataFrame, asg: DataFrame, cents_prev: DataFrame) -> DataFrame:
    """Fixed-point Lloyd update: per-(cluster, dim) exact BIGINT sums of
    1e6-scaled coordinates, divided back in double. Bit-reproducible under
    any partitioning (integer addition is associative). Empty clusters keep
    their previous centroid."""
    memb = asg.select("vec_id", "cid").join(v, "vec_id")
    per_dim = (
        memb.select("cid", F.posexplode("emb").alias("d", "x"))
        .groupBy("cid", "d")
        .agg(
            F.sum(F.round(F.col("x") * _FP).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("val", F.col("s") / (F.lit(float(_FP)) * F.col("n")))
    )
    new_c = per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "val"))), lambda s: s["val"]
        ).alias("cemb")
    )
    kept = cents_prev.join(new_c.select("cid"), "cid", "left_anti").select("cid", "cemb")
    return new_c.unionByName(kept)


def _kmeans_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _corpus(spark, sf_dir).withColumn("vn", dot(F.col("emb"), F.col("emb")))
    cents = _init_centroids(v)
    for _ in range(_ITERS):
        asg = _assign(v, cents)
        # pin: iteration k+1 re-runs every earlier assignment without it (PERF.md "Pins")
        cents = _update(v, asg, cents).localCheckpoint(eager=True)
    return _assign(v, cents)


@register("cluster_kmeans_embeddings", sql=_SQL_KMEANS_ASSIGN, tags=("clustering", "kmeans"))
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means assignment after {_ITERS} fixed-point Lloyd
    iterations: (vec_id, cluster_id, cos_sim). See module docstring for the
    determinism contract; the DuckDB oracle unrolls the identical iterations
    as CTEs and hash-matches bit-for-bit."""
    return _kmeans_final(spark, sf_dir).select(
        "vec_id", F.col("cid").cast("int").alias("cluster_id"), "cos_sim"
    )


@register("cluster_kmeans_profile", sql=_SQL_KMEANS_PROFILE, tags=("clustering", "kmeans"))
def cluster_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality profile: size + mean member-to-centroid cosine per
    cluster. The mean pools via exact BIGINT sums of the 6-decimal cosines
    (group-sum fold order is engine-dependent for doubles, never for ints) —
    the same fixed-point pooling rule the multimodal fake codec uses."""
    final = _kmeans_final(spark, sf_dir)
    return final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.round(F.col("cos_sim") * _FP).cast("long")) / (F.lit(float(_FP)) * F.count(F.lit(1))),
            6,
        ).alias("mean_cos"),
    ).select(F.col("cid").cast("int").alias("cluster_id"), "n_members", "mean_cos")


@register("cluster_semdedup_pairs", sql=_SQL_SEMDEDUP, tags=("clustering", "dedup", "semdedup"))
def cluster_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: drop a vector when a lower-id vector in the SAME k-means
    cluster is cosine-similar above {_SEM_THRESHOLD}; report each dropped
    vector with its smallest keeper. Cluster membership is the blocking key —
    candidate pairs are Σ_c |c|², not n²/2, and K scales with corpus size to
    hold |c| constant (the 100 TB path). Chains collapse leftward like the
    min-label rule in dedup_minhash_clusters: a keeper may itself be dropped
    by a still-smaller keeper."""
    v = _corpus(spark, sf_dir)
    # attach embedding + squared norm ONCE per vector before the pair join:
    # per-pair work is then a single dot product, not three (the norms of a
    # vector are invariant across the |c| pairs it appears in)
    # r11 negative result: an eager checkpoint here (both pair-join sides
    # reference this relation) measured 3.7→5.1 s — the self-join sides
    # already share one computation via ReusedExchange, so the barrier only
    # added cost. Checkpoints pay ONLY where the plan shows the reuse
    # failing (duplicate parquet scans), not on every branching relation.
    memb = (
        _kmeans_final(spark, sf_dir)
        .select("vec_id", "cid")
        .join(v, "vec_id")
        .withColumn("nn", dot(F.col("emb"), F.col("emb")))
    )
    a = memb.select(
        F.col("cid"),
        F.col("vec_id").alias("ka"),
        F.col("emb").alias("ea"),
        F.col("nn").alias("na"),
    )
    b = memb.select(
        F.col("cid"),
        F.col("vec_id").alias("kb"),
        F.col("emb").alias("eb"),
        F.col("nn").alias("nb"),
    )
    pairs = (
        a.join(b, ["cid"])
        .filter(F.col("ka") < F.col("kb"))
        .withColumn("cos_raw", dot(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na") * F.col("nb")))
        .filter(F.col("cos_raw") >= _SEM_THRESHOLD)
        .select(
            F.col("kb").alias("vec_id"),
            F.col("cid"),
            F.col("ka").alias("keeper_id"),
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("keeper_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").cast("int").alias("cluster_id"), "keeper_id", "cos_sim")
    )


# --------------------------------------------------------------------------
# power iteration: top principal direction of the embedding matrix
# --------------------------------------------------------------------------

_PI_ITERS = 3
_PI_FP = 1_000_000  # micro-unit quantization scale


def _sql_sdiv(a: str, m: str) -> str:
    """Sign-symmetric scaled division: sign(a)·(|a| // m). Keeps the
    integer recurrence identical across engines — Spark's `div` truncates
    toward zero while DuckDB's `//` floors, and they differ exactly on
    negative dividends, so every division runs on the absolute value."""
    return f"CASE WHEN {a} < 0 THEN -((-({a})) // {m}) ELSE ({a}) // {m} END"


def _sql_power_iter(k: int) -> str:
    prev = f"v{k - 1}"
    return f"""
    w{k} AS (SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS w
             FROM g JOIN {prev} v ON v.j = g.j GROUP BY g.i),
    m{k} AS (SELECT GREATEST(MAX(ABS(w)) // {_PI_FP}, 1) AS m FROM w{k}),
    v{k} AS (SELECT i AS j, CAST({_sql_sdiv("w", f"m{k}.m")} AS BIGINT) AS v
             FROM w{k} CROSS JOIN m{k})"""


_SQL_POWER = (
    f"""
    WITH e AS (
      SELECT vec_id, d, CAST(ROUND(v * {_PI_FP}) AS BIGINT) AS x
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
                   generate_subscripts(embedding, 1) AS d
            FROM embeddings)
    ),
    g0 AS (SELECT a.d AS i, b.d AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS s
           FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
    g AS (SELECT i, j, CAST({_sql_sdiv("s", str(_PI_FP))} AS BIGINT) AS g FROM g0),
    v0 AS (SELECT DISTINCT i AS j, CAST({_PI_FP} AS BIGINT) AS v FROM g),"""
    + ",".join(_sql_power_iter(k) for k in range(1, _PI_ITERS + 1))
    + f"""
    SELECT CAST(j AS INTEGER) AS dim, v AS component_micro FROM v{_PI_ITERS}
    """
)


@register(
    "embedding_power_iteration",
    sql=_SQL_POWER,
    tags=("embeddings", "linear-algebra", "iterative"),
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding matrix by
    {_PI_ITERS} power iterations on the Gram matrix — the building block of
    PCA whitening, spectral ordering, and embedding-drift monitors,
    expressed as pure DataFrame joins/aggregations.

    Determinism (same contract as fixed-point k-means and integer
    PageRank): embeddings are quantized once to micro-unit BIGINTs, the
    d×d Gram matrix G = Σ x·xᵀ is an exact integer aggregation (then
    uniformly down-scaled by {_PI_FP}), and each iteration is the exact
    recurrence w = G·v, v' = sign(w)·(|w| // max(|w|)//{_PI_FP}) — all
    sign-symmetric integer division, so trunc-vs-floor can never diverge
    and the result is bit-identical under any partitioning. v₀ is the
    all-ones vector (fixed, never orthogonal to the top direction in
    practice for non-centered real embeddings). Convergence RATE is a data
    property: on a near-isotropic corpus (this synthetic one has eigengap
    ratio ~0.93) {_PI_ITERS} steps improve the Rayleigh quotient ~1.5×
    without fully aligning — real embedding matrices with a dominant
    direction converge geometrically; raise _PI_ITERS for tighter spectra.

    Scale shape: the N×d matrix appears ONLY in the Gram build — one
    equi-join on vec_id producing d² partial products per row, partially
    aggregated map-side into a d×d = {64 * 64}-entry result; every
    iteration thereafter touches d² rows, independent of corpus size (the
    economics that make power iteration the distributed-PCA kernel).
    Integer headroom bounds the registered form to ~5M vectors; larger
    corpora re-scale the Gram divisor (documented, not silent)."""
    e = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double"))).alias(
                "pos", "v"
            ),
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("d"),  # 1-based like generate_subscripts
            F.round(F.col("v") * _PI_FP).cast("bigint").alias("x"),
        )
    )

    ea = e.select("vec_id", F.col("d").alias("i"), F.col("x").alias("xi"))
    eb = e.select("vec_id", F.col("d").alias("j"), F.col("x").alias("xj"))
    g = (
        ea.join(eb, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("s"))
        .select("i", "j", F.expr(_sql_sdiv("s", str(_PI_FP)).replace("//", "div")).alias("g"))
        .localCheckpoint(eager=True)  # pin: d² rows every iteration reads (PERF.md "Pins")
    )
    v = g.select(F.col("i").alias("j")).distinct().withColumn("v", F.lit(_PI_FP).cast("bigint"))
    for _ in range(_PI_ITERS):
        w = (
            g.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
        )
        m = w.agg(
            F.greatest(F.expr(f"max(abs(w)) div {_PI_FP}"), F.lit(1).cast("bigint")).alias("m")
        )
        v = w.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("j"),
            F.expr(_sql_sdiv("w", "m").replace("//", "div")).cast("bigint").alias("v"),
        )
    return v.select(F.col("j").cast("int").alias("dim"), F.col("v").alias("component_micro"))


# --------------------------------------------------------------------------
# assignment-margin audit for the k-means clustering
# --------------------------------------------------------------------------

_SQL_MARGIN = f"""
    WITH {_sql_kmeans_ctes()},
    ranked AS (
      SELECT v.vec_id, c.cid,
             ROUND(list_cosine_similarity(v.emb, c.cemb), 6) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY ROUND(list_cosine_similarity(v.emb, c.cemb), 6) DESC,
                        c.cid) AS rn
      FROM v CROSS JOIN c{_ITERS} c
    ),
    top2 AS (
      SELECT a.vec_id, a.cid,
             CAST(ROUND(a.cos_sim * {_FP}) AS BIGINT)
               - CAST(ROUND(b.cos_sim * {_FP}) AS BIGINT) AS margin_fp
      FROM ranked a JOIN ranked b ON b.vec_id = a.vec_id
      WHERE a.rn = 1 AND b.rn = 2
    )
    SELECT CAST(cid AS INTEGER) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(SUM(margin_fp) / ({_FP}.0 * COUNT(*)), 6) AS mean_margin,
           ROUND(MIN(margin_fp) / {_FP}.0, 6) AS min_margin
    FROM top2 GROUP BY cid ORDER BY cluster_id
"""


@register("cluster_assignment_margin", sql=_SQL_MARGIN, tags=("clustering", "kmeans", "audit"))
def cluster_assignment_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment-confidence audit for the k-means clustering: per cluster,
    the mean and minimum MARGIN between each member's best and second-best
    centroid cosine — the silhouette-style ambiguity signal computed
    against centroids only (O(n·K), never member-to-member). A cluster
    whose margins hug zero is a boundary artifact: its members would flip
    under tiny drift, so SemDeDup blocking (cluster_semdedup_pairs) and
    IVF probe settings (ann_ivf_assign) should not trust it with
    single-probe traffic.

    Margins are exact integers by construction: both cosines are already
    6-decimal-rounded (the module's assignment contract), so the
    difference is computed on their micro-unit BIGINT forms and pooled
    with exact sums — engine- and partitioning-invariant, like
    cluster_kmeans_profile's fixed-point mean.

    Scale: the scoring relation is corpus × K broadcast centroids (the
    assignment pass the pipeline already pays), plus one rank window per
    vec_id over K rows; nothing quadratic in members.
    """
    v = _corpus(spark, sf_dir).withColumn("vn", dot(F.col("emb"), F.col("emb")))
    cents = _init_centroids(v)
    for _ in range(_ITERS):
        asg = _assign(v, cents)
        # pin: iteration k+1 re-runs every earlier assignment without it (PERF.md "Pins")
        cents = _update(v, asg, cents).localCheckpoint(eager=True)
    cn = cents.withColumn("cn", dot(F.col("cemb"), F.col("cemb")))
    cos = dot(F.col("emb"), F.col("cemb")) / F.sqrt(F.col("vn") * F.col("cn"))
    scored = v.crossJoin(F.broadcast(cn)).select(
        "vec_id", "cid", F.round(cos, 6).alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    a = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "cid", F.round(F.col("cos_sim") * _FP).cast("long").alias("c1")
    )
    b = ranked.filter(F.col("rn") == 2).select(
        "vec_id", F.round(F.col("cos_sim") * _FP).cast("long").alias("c2")
    )
    top2 = a.join(b, "vec_id").select(
        "cid", (F.col("c1") - F.col("c2")).alias("margin_fp")
    )
    return (
        top2.groupBy(F.col("cid").cast("int").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(
                F.sum("margin_fp") / (F.lit(float(_FP)) * F.count(F.lit(1))), 6
            ).alias("mean_margin"),
            F.round(F.min("margin_fp") / F.lit(float(_FP)), 6).alias("min_margin"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# MAUVE-style cluster-histogram JS divergence between sources
# --------------------------------------------------------------------------

_SQL_CLUSTER_JS = f"""
    WITH {_sql_kmeans_ctes()},
    asg AS (SELECT vec_id, cid FROM final),
    src AS (
      SELECT a.cid, d.source
      FROM asg a JOIN documents d ON d.doc_id = a.vec_id
    ),
    hist AS (SELECT source, cid, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY 1, 2),
    ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1),
    pairs AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
              FROM ns a JOIN ns b ON a.source < b.source),
    cells AS (
      SELECT p.sa, p.sb, p.na, p.nb,
             COALESCE(ha.c, 0) AS a_c, COALESCE(hb.c, 0) AS b_c
      FROM pairs p
      CROSS JOIN (SELECT DISTINCT cid FROM hist) k
      LEFT JOIN hist ha ON ha.source = p.sa AND ha.cid = k.cid
      LEFT JOIN hist hb ON hb.source = p.sb AND hb.cid = k.cid
    ),
    terms AS (
      SELECT sa, sb, na, nb,
             CASE WHEN a_c > 0 THEN a_c * CAST(ROUND(log2(
                    2.0 * a_c * nb / (a_c * nb + b_c * na)) * 1000000) AS BIGINT)
                  ELSE 0 END AS ta,
             CASE WHEN b_c > 0 THEN b_c * CAST(ROUND(log2(
                    2.0 * b_c * na / (a_c * nb + b_c * na)) * 1000000) AS BIGINT)
                  ELSE 0 END AS tb
      FROM cells
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST((GREATEST(SUM(ta) // MAX(na), 0)
                 + GREATEST(SUM(tb) // MAX(nb), 0)) // 2 AS BIGINT)
             AS js_micro
    FROM terms GROUP BY sa, sb
    ORDER BY source_a, source_b
"""


@register("text_cluster_js_mauve", sql=_SQL_CLUSTER_JS, tags=("clustering", "mauve", "divergence"))
def text_cluster_js_mauve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAUVE-style distributional divergence between sources (Pillutla et
    al. 2021's recipe, histogram variant): embed → k-means quantize →
    compare SOURCES by the Jensen–Shannon divergence of their cluster
    histograms. The metric that says "source A's content occupies
    different regions of embedding space than source B" — used to score
    generated-vs-human text and to spot a crawl source drifting away from
    the rest of the corpus; the embedding-space complement of the
    token-level drift_token_js.

    Cluster assignments are the module's fixed-point spherical k-means
    (bit-reproducible); each JS term is one micro-quantized log2 over
    exact integer cell counts via the cross-multiplied mixture
    2·a·nb/(a·nb + b·na) — zero cells contribute exactly zero, no
    smoothing constant to tune. Each KL half is clamped at 0 (per-cell
    micro-rounding can otherwise push a near-identical pair a few
    micro-bits negative), so JS is bounded [0, 1e6] micro-bits.

    Scale: histograms are (source × K) rows off one keyed agg; the pair
    grid is |sources|²·K cells of pure integer algebra. The corpus-sized
    work is exactly the k-means assignment everything else already
    shares."""
    asg = _kmeans_final(spark, sf_dir).select("vec_id", "cid")
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    src = asg.join(docs, asg["vec_id"] == docs["doc_id"]).select("cid", "source")
    hist = src.groupBy("source", "cid").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ns = hist.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = ns.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    b = ns.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("sa") < F.col("sb"))
    k = hist.select("cid").distinct()
    ha = hist.select(F.col("source").alias("sa"), "cid", F.col("c").alias("a_c"))
    hb = hist.select(F.col("source").alias("sb"), "cid", F.col("c").alias("b_c"))
    cells = (
        pairs.crossJoin(F.broadcast(k))
        .join(ha, ["sa", "cid"], "left")
        .join(hb, ["sb", "cid"], "left")
        .select(
            "sa",
            "sb",
            "na",
            "nb",
            F.coalesce("a_c", F.lit(0)).alias("a_c"),
            F.coalesce("b_c", F.lit(0)).alias("b_c"),
        )
    )
    ta = F.when(
        F.col("a_c") > 0,
        F.col("a_c")
        * F.round(
            F.log2(
                2.0 * F.col("a_c") * F.col("nb")
                / (F.col("a_c") * F.col("nb") + F.col("b_c") * F.col("na"))
            )
            * 1_000_000
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    tb = F.when(
        F.col("b_c") > 0,
        F.col("b_c")
        * F.round(
            F.log2(
                2.0 * F.col("b_c") * F.col("na")
                / (F.col("a_c") * F.col("nb") + F.col("b_c") * F.col("na"))
            )
            * 1_000_000
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    terms = cells.select("sa", "sb", "na", "nb", ta.alias("ta"), tb.alias("tb"))
    return (
        terms.groupBy("sa", "sb")
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            # per-cell micro-rounding of log2 can push a KL half a few micro-
            # bits negative when two histograms are near-identical (true KL
            # ~ 0); clamp each half at 0 so js_micro honors its documented
            # [0, 1e6] bound (mirrored in the DuckDB oracle)
            F.expr(
                "(greatest(sum(ta) div max(na), 0)"
                " + greatest(sum(tb) div max(nb), 0)) div 2"
            )
            .cast("bigint")
            .alias("js_micro"),
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_a",
            "n_b",
            "js_micro",
        )
        .orderBy("source_a", "source_b")
    )
