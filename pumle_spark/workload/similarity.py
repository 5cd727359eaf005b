"""Similarity search over the `embeddings` table (array<float> column).

- knn_bruteforce_cosine: exact top-k — the correctness baseline. Query set ×
  corpus via broadcast nested loop; fine when |queries| is small, O(n·q·d).
- ann_lsh_codes: random-hyperplane LSH bucket codes — the 100 TB path. The
  hyperplanes are derived from md5 so Spark and the DuckDB oracle construct
  bit-identical planes with no RNG state; retrieval then joins on bucket
  code (cost Σ_bucket c² instead of n²).

All vector math stays JVM-side: zip_with + aggregate over array<double>, no
Python UDF. (A Pandas-UDF/numpy variant is benchmarked in
pumle_spark.operators.similarity for the wide-batch case.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.functions.vectors import as_double, dot
from pumle_spark.tables import table
from pumle_spark.workload import register

_DIM = 64
_TOP_K = 5
_QUERY_STRIDE = 50  # vec_id % 50 == 0 → query set
_N_PLANES = 8
_PQ_M = 8          # subspaces (64 dims → 8 × 8-dim subvectors)
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 16         # codewords per subspace
_PQ_STRIDE = 13    # deterministic codebook = subvectors of strided vec_ids


def _sq_l2_u(a, b, dim: int):
    """Unrolled fixed-width squared-L2 distance, same fold order as the
    aggregate(zip_with((x-c)*(x-c))) it replaces — bit-identical doubles,
    codegen-friendly (r11, guide §4). Only worth it at NARROW widths: the
    64-term variant was tried on the full-width dot products and reverted —
    building the ~512-op expression through the Python column API costs
    seconds of py4j round-trips per invocation and janino compiles the
    giant method slower than the interpreted HOF executes."""
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + (a[i] - b[i]) * (a[i] - b[i])
    return acc


@register(
    "knn_bruteforce_cosine",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % {_QUERY_STRIDE} = 0),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  ROUND(list_cosine_similarity(q.qv, e.v), 6) AS cos_sim
           FROM q CROSS JOIN e
           WHERE e.vec_id <> q.query_id
         )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "knn"),
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a strided query set.

    cosine = dot/sqrt(|a|²·|b|²) matching DuckDB's list_cosine_similarity
    formula exactly. Ranking happens on the 6-decimal-rounded similarity
    (with neighbor_id tiebreak) so cross-engine float summation order cannot
    reorder the top-k.
    """
    # norms are precomputed per side BEFORE the crossJoin: |corpus|+|queries|
    # folds instead of |corpus|·|queries| redundant re-folds per pair. The
    # cosine value is bit-identical (same fold order, same sqrt(nq*nv)).
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    ).withColumn("nv", dot(F.col("v"), F.col("v")))
    q = e.filter(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    cos = dot(F.col("qv"), F.col("v")) / F.sqrt(F.col("nq") * F.col("nv"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            # no second rounding: re-rounding an already-rounded value lands
            # exactly on .5 boundaries where engine rounding paths diverge;
            # the 6-decimal ranking value IS the output
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


_N_CENTROIDS = 8
_CENTROID_STRIDE = 61  # centroid set = vec_id % 61 == 0 (deterministic "k-means")


@register(
    "ann_ivf_assign",
    sql=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, emb AS cemb FROM v
               WHERE vec_id % {_CENTROID_STRIDE} = 0 AND vec_id < {_N_CENTROIDS * _CENTROID_STRIDE}),
         scored AS (
           SELECT v.vec_id, c.centroid_id,
                  list_cosine_similarity(v.emb, c.cemb) AS sim
           FROM v CROSS JOIN c
         )
    SELECT vec_id, centroid_id, ROUND(sim, 6) AS cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY ROUND(sim, 6) DESC, centroid_id) AS rn
          FROM scored)
    WHERE rn = 1
    """,
    tags=("similarity", "ivf", "ann"),
)
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (deterministic centroid set = strided vec_ids standing in for trained
    k-means means). This is the partitioning step of IVF-ANN: at scale the
    corpus is repartitioned/bucketed by centroid_id, and a query probes only
    its top-P centroid buckets — candidates shrink from n to n·P/K before
    exact rerank. Ranking on the rounded similarity keeps cross-engine
    assignment ties identical."""
    return _ivf_ranked(spark, sf_dir).filter(F.col("rn") == 1).drop("rn")


def _ivf_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, centroid_id, cos_sim, rn): every vector's centroids ranked
    by rounded similarity — rn=1 is the IVF assignment, rn<=P the probe set."""
    # NOTE (r11): a fully unrolled 64-term dot was tried here and reverted —
    # building the ~512-op expression through the Python column API costs
    # ~5s of py4j round-trips per invocation and the generated janino
    # method compiles slower than the interpreted HOF executes at this
    # width. The HOF evaluates once per row; only the narrow (8-term) ADC
    # kernels are unrolled (see _sq_l2_u).
    e = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    cents = (
        e.filter(
            (F.col("vec_id") % _CENTROID_STRIDE == 0)
            & (F.col("vec_id") < _N_CENTROIDS * _CENTROID_STRIDE)
        )
        .select(F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb"))
        .withColumn("cn", dot(F.col("cemb"), F.col("cemb")))
    )
    ev = e.withColumn("vn", dot(F.col("emb"), F.col("emb")))
    sim = dot(F.col("emb"), F.col("cemb")) / F.sqrt(F.col("vn") * F.col("cn"))
    scored = ev.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", F.round(sim, 6).alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("centroid_id"))
    return scored.withColumn("rn", F.row_number().over(w))


_SQL_LSH_CODE = f"""
    planes AS (
      SELECT p.p, d.d,
             ((('0x' || substr(md5('plane' || p.p || '_' || d.d), 1, 8))::UBIGINT
               % 2000001)::BIGINT - 1000000) / 1000000.0 AS w
      FROM generate_series(0, {_N_PLANES - 1}) p(p)
      CROSS JOIN generate_series(0, {_DIM - 1}) d(d)
    ),
    comps AS (
      SELECT e.vec_id, pl.p, SUM(pl.w * e.embedding[pl.d + 1]::DOUBLE) AS dot
      FROM embeddings e JOIN planes pl ON TRUE
      GROUP BY e.vec_id, pl.p
    ),
    codes AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS INTEGER)
               AS bucket_code
      FROM comps GROUP BY vec_id
    )
"""


@register(
    "dedup_embedding_lsh",
    sql=f"""
    WITH {_SQL_LSH_CODE},
    v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM codes a JOIN codes b
        ON a.bucket_code = b.bucket_code AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           ROUND(list_cosine_similarity(va.emb, vb.emb), 6) AS cos_sim
    FROM cand c
    JOIN v va ON va.vec_id = c.vec_a
    JOIN v vb ON vb.vec_id = c.vec_b
    WHERE list_cosine_similarity(va.emb, vb.emb) >= 0.4
    """,
    tags=("dedup", "embedding", "lsh", "ann"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via LSH bucketing — the 100 TB path end-to-end:
    candidates are pairs sharing an {_N_PLANES}-bit hyperplane bucket
    (Σ_bucket c² pairs instead of n²/2), then exact cosine verification on
    candidates only. Recall vs the all-pairs baseline trades against the
    ~K× candidate reduction; multi-probe (operators.similarity.lsh_topk)
    recovers most of it.

    Shuffle shape (round-3 rework): the embedding and its norm ride WITH
    the bucket code into the self-join, so the whole query is ONE shuffle
    on bucket_code — the previous pairs-then-lookup form shuffled three
    times (bucket join + two joins back to fetch each side's embedding).
    Payload per shuffled row grows by d floats, but rows shuffled drop from
    2·|candidates|+2n to 2n, and at 100 TB the candidate count, not the
    vector width, is the term that explodes."""
    from pumle_spark.operators.similarity import hyperplanes

    # NOTE (r11): an unrolled literal-weight projection was tried here and
    # reverted — see the note in _ivf_ranked (py4j build cost dominates at
    # this width).
    e = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    planes = hyperplanes(_DIM, _N_PLANES)
    code = F.lit(0)
    for p in range(_N_PLANES):
        proj = F.aggregate(
            F.zip_with(planes.getItem(p), F.col("emb"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        code = code + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    # pin: both self-join sides re-run the 16 hyperplane folds without it (PERF.md "Pins")
    ec = (
        e.repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", "emb", code.cast("int").alias("bucket_code"))
        .withColumn("n", dot(F.col("emb"), F.col("emb")))
        .localCheckpoint(eager=True)
    )

    a = ec.select(
        "bucket_code",
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("n").alias("na"),
    )
    b = ec.select(
        "bucket_code",
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("n").alias("nb"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket_code")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("raw", cos)
        .filter(F.col("raw") >= 0.4)
        .select("vec_a", "vec_b", F.round("raw", 6).alias("cos_sim"))
    )


@register(
    "ann_lsh_codes",
    sql=f"""
    WITH planes AS (       -- md5-derived hyperplanes: identical in both engines
      SELECT p.p, d.d,
             ((('0x' || substr(md5('plane' || p.p || '_' || d.d), 1, 8))::UBIGINT
               % 2000001)::BIGINT - 1000000) / 1000000.0 AS w
      FROM generate_series(0, {_N_PLANES - 1}) p(p)
      CROSS JOIN generate_series(0, {_DIM - 1}) d(d)
    ),
    comps AS (
      SELECT e.vec_id, pl.p, SUM(pl.w * e.embedding[pl.d + 1]::DOUBLE) AS dot
      FROM embeddings e
      JOIN planes pl ON TRUE
      GROUP BY e.vec_id, pl.p
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS INTEGER)
             AS bucket_code
    FROM comps
    GROUP BY vec_id
    """,
    tags=("similarity", "lsh", "ann"),
)
def ann_lsh_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket code per vector ({_N_PLANES} sign bits).

    Plane weights come from md5("plane{{p}}_{{d}}") → uniform in [-1, 1], so
    the "random" planes are reproducible everywhere without shipping state.
    Bucketing is a pure per-row map; ANN retrieval joins on bucket_code —
    the candidate set per query is one bucket instead of the whole corpus.
    """
    # planes inlined as literal arrays (operators.similarity.hyperplanes uses
    # the SAME md5 derivation as the SQL oracle, so values are bit-identical)
    # → the whole bucket code is one per-row projection, zero shuffles,
    # versus the explode(dim)⋈planes→groupBy formulation this replaces.
    from pumle_spark.operators.similarity import hyperplanes

    planes = hyperplanes(_DIM, _N_PLANES)
    v = as_double("embedding")
    code = F.lit(0)
    for p in range(_N_PLANES):
        proj = F.aggregate(
            F.zip_with(planes.getItem(p), v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        code = code + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", code.cast("int").alias("bucket_code"))


# -- recall grading ---------------------------------------------------------

_SQL_TOPK_TMPL = """
  SELECT query_id, neighbor_id FROM (
    SELECT cand.query_id, cand.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY cand.query_id
                              ORDER BY ROUND(list_cosine_similarity(q.qv, v.emb), 6) DESC,
                                       cand.neighbor_id) AS rnk
    FROM ({cand}) cand
    JOIN q ON q.query_id = cand.query_id
    JOIN v ON v.vec_id = cand.neighbor_id)
  WHERE rnk <= {k}
"""


def _sql_recall_row(method: str, topk_cte: str, k: int) -> str:
    return f"""
    SELECT '{method}' AS method,
           CAST((SELECT COUNT(*) FROM {topk_cte} t
                 JOIN exact x ON x.query_id = t.query_id
                             AND x.neighbor_id = t.neighbor_id) AS BIGINT) AS hits,
           CAST((SELECT COUNT(*) * {k} FROM q) AS BIGINT) AS total,
           ROUND((SELECT COUNT(*) FROM {topk_cte} t
                  JOIN exact x ON x.query_id = t.query_id
                              AND x.neighbor_id = t.neighbor_id)
                 / CAST((SELECT COUNT(*) * {k} FROM q) AS DOUBLE), 4) AS recall_at_k
    """


@register(
    "ann_recall_report",
    sql=f"""
    WITH {_SQL_LSH_CODE},
    v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id % {_QUERY_STRIDE} = 0),
    exact AS ({_SQL_TOPK_TMPL.format(cand="SELECT q.query_id, v.vec_id AS neighbor_id FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id", k=_TOP_K)}),
    lsh_topk AS ({_SQL_TOPK_TMPL.format(cand=f'''
        SELECT q.query_id, cv.vec_id AS neighbor_id
        FROM q JOIN codes cq ON cq.vec_id = q.query_id
               JOIN codes cv ON cv.bucket_code = cq.bucket_code
                            AND cv.vec_id <> q.query_id''', k=_TOP_K)}),
    cents AS (SELECT vec_id AS centroid_id, emb AS cemb FROM v
              WHERE vec_id % {_CENTROID_STRIDE} = 0
                AND vec_id < {_N_CENTROIDS * _CENTROID_STRIDE}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cents.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY ROUND(list_cosine_similarity(v.emb, cents.cemb), 6) DESC,
                                           cents.centroid_id) AS rn
        FROM v CROSS JOIN cents) WHERE rn = 1),
    ivf_topk AS ({_SQL_TOPK_TMPL.format(cand=f'''
        SELECT q.query_id, av.vec_id AS neighbor_id
        FROM q JOIN assign aq ON aq.vec_id = q.query_id
               JOIN assign av ON av.centroid_id = aq.centroid_id
                             AND av.vec_id <> q.query_id''', k=_TOP_K)}),
    lshmp_topk AS ({_SQL_TOPK_TMPL.format(cand=f'''
        SELECT DISTINCT q.query_id, cv.vec_id AS neighbor_id
        FROM q JOIN codes cq ON cq.vec_id = q.query_id
               JOIN codes cv ON bit_count(xor(cv.bucket_code, cq.bucket_code)) <= 1
                            AND cv.vec_id <> q.query_id''', k=_TOP_K)}),
    assign2 AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cents.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY ROUND(list_cosine_similarity(v.emb, cents.cemb), 6) DESC,
                                           cents.centroid_id) AS rn
        FROM v CROSS JOIN cents) WHERE rn <= 2),
    ivf2_topk AS ({_SQL_TOPK_TMPL.format(cand=f'''
        SELECT DISTINCT q.query_id, av.vec_id AS neighbor_id
        FROM q JOIN assign2 aq ON aq.vec_id = q.query_id
               JOIN assign av ON av.centroid_id = aq.centroid_id
                             AND av.vec_id <> q.query_id''', k=_TOP_K)}),
    pq_cents AS (
      SELECT vec_id // {_PQ_STRIDE} AS cent_id, emb AS cemb FROM v
      WHERE vec_id % {_PQ_STRIDE} = 0 AND vec_id < {_PQ_K * _PQ_STRIDE}
    ),
    pq_d2 AS (
      SELECT v.vec_id, m.m, c.cent_id,
             SUM((v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1])
                 * (v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1]))
               AS dist2
      FROM v
      CROSS JOIN generate_series(0, {_PQ_M - 1}) m(m)
      CROSS JOIN pq_cents c
      CROSS JOIN generate_series(0, {_PQ_SUB - 1}) d(d)
      GROUP BY 1, 2, 3
    ),
    pq_codes AS (
      SELECT vec_id, m,
             MIN(struct_pack(r := ROUND(dist2, 6), cid := cent_id)).cid AS code
      FROM pq_d2 GROUP BY 1, 2
    ),
    pq_lut AS (
      SELECT pq_d2.vec_id AS query_id, pq_d2.m, pq_d2.cent_id, ROUND(pq_d2.dist2, 6) AS r
      FROM pq_d2 JOIN q ON q.query_id = pq_d2.vec_id
    ),
    pq_adc AS (
      SELECT l.query_id, a.vec_id AS neighbor_id, ROUND(SUM(l.r), 6) AS adc_d2
      FROM pq_codes a JOIN pq_lut l ON l.m = a.m AND l.cent_id = a.code
      WHERE a.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    pqadc_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
        FROM pq_adc) WHERE rnk <= {_TOP_K}
    ),
    ivfpq_adc AS (
      SELECT a.query_id, a.neighbor_id, a.adc_d2
      FROM pq_adc a
      JOIN assign aq ON aq.vec_id = a.query_id
      JOIN assign av ON av.vec_id = a.neighbor_id
                    AND av.centroid_id = aq.centroid_id
    ),
    ivfpq_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
        FROM ivfpq_adc) WHERE rnk <= {_TOP_K}
    )
    {_sql_recall_row("lsh_bucket", "lsh_topk", _TOP_K)}
    UNION ALL
    {_sql_recall_row("lsh_multiprobe1", "lshmp_topk", _TOP_K)}
    UNION ALL
    {_sql_recall_row("ivf_probe1", "ivf_topk", _TOP_K)}
    UNION ALL
    {_sql_recall_row("ivf_probe2", "ivf2_topk", _TOP_K)}
    UNION ALL
    {_sql_recall_row("pq_adc_full", "pqadc_topk", _TOP_K)}
    UNION ALL
    {_sql_recall_row("ivfpq_probe1", "ivfpq_topk", _TOP_K)}
    """,
    tags=("similarity", "ann", "recall"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_TOP_K} of the two ANN scale paths, graded against the exact
    brute-force top-k: the LSH path retrieves only the query's hyperplane
    bucket, IVF (probe=1) only the query's centroid cell — the quality side
    of the Σ_bucket c² cost reduction, measured instead of asserted. Rank
    ties resolve on (rounded cosine, neighbor_id) in both engines, so
    recall is deterministic cross-engine.

    Contains the exact ground-truth pass (queries x corpus cosine) — a
    labeled grading subtree that refuses oversized corpora instead of
    hanging (dedup._assert_allpairs_bounded; the GEMM-shaped truth pass
    gets a 5x higher vector cap than the elementwise crossJoin baseline)."""
    from pumle_spark.workload.dedup import _ALLPAIRS_MAX_VECS, _assert_allpairs_bounded

    _assert_allpairs_bounded(
        table(spark, sf_dir, "embeddings").count(),
        5 * _ALLPAIRS_MAX_VECS,
        "ann_recall_report (queries x corpus ground-truth pass)",
        "ann_ivfpq_topk / ann_pq_adc_topk (the paths this report grades)",
    )
    # pin: ~10 consumers (queries, exact pass, reranks) read the decoded corpus (PERF.md "Pins")
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("v"))
        .withColumn("nv", dot(F.col("v"), F.col("v")))
        .localCheckpoint(eager=True)
    )
    q = e.filter(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )

    cos = dot(F.col("qv"), F.col("v")) / F.sqrt(F.col("nq") * F.col("nv"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))

    def topk(cand: DataFrame) -> DataFrame:
        """cand: (query_id, neighbor_id) → top-k by exact cosine rerank."""
        return (
            cand.join(F.broadcast(q), "query_id")
            .join(e.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
            .select("query_id", "neighbor_id", F.round(cos, 6).alias("cos_sim"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _TOP_K)
            .select("query_id", "neighbor_id")
        )

    # r12 negative result: pinning this labeled-quadratic ground-truth pass
    # (SIX consumers re-run it) probed flat at sf0.1 and LOST at sf1
    # (35.5/35.9 vs 30.3 s interleaved) — the six re-executions overlap on
    # idle cores while the pin serializes the rerank into one barrier job.
    # Same economics as the graph-family notes in workload/graph.py.
    exact = topk(
        e.crossJoin(F.broadcast(q.select("query_id")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    # r12 negative result: pinning the LSH codes and the rank<=2 IVF
    # assignment as well probed 7.12 vs 5.26 s — two more serialized
    # barriers cost more than the re-run folds they save; only the decoded
    # corpus stays pinned (the exact pass above recomputes per consumer).
    codes = ann_lsh_codes(spark, sf_dir)
    qcodes = codes.join(F.broadcast(q.select("query_id")), codes.vec_id == F.col("query_id")).select(
        "query_id", "bucket_code"
    )
    lsh_cand = (
        codes.join(F.broadcast(qcodes), "bucket_code")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    # multiprobe(1): probe the exact bucket plus every Hamming-1 neighbor —
    # expressed as an explode of the 1+{_N_PLANES} probe codes and an
    # EQUI-join (the scale form; the oracle states the same set via
    # bit_count(xor) <= 1)
    probes = qcodes.select(
        "query_id",
        F.explode(
            F.array(
                F.col("bucket_code"),
                *[F.col("bucket_code").bitwiseXOR(F.lit(1 << p)) for p in range(_N_PLANES)],
            )
        ).alias("bucket_code"),
    )
    lshmp_cand = (
        codes.join(F.broadcast(probes), "bucket_code")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )

    ranked = _ivf_ranked(spark, sf_dir)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "centroid_id")
    qassign = assign.join(
        F.broadcast(q.select("query_id")), assign.vec_id == F.col("query_id")
    ).select("query_id", "centroid_id")
    ivf_cand = (
        assign.join(F.broadcast(qassign), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    # probe=2: the QUERY looks into its two nearest centroid cells; the
    # corpus partitioning (rank-1 assignment) is unchanged
    qassign2 = ranked.filter(F.col("rn") <= 2).join(
        F.broadcast(q.select("query_id")), ranked.vec_id == F.col("query_id")
    ).select("query_id", "centroid_id")
    ivf2_cand = (
        assign.join(F.broadcast(qassign2), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )

    n_total = q.agg((F.count(F.lit(1)) * _TOP_K).alias("total"))

    def recall_row(method: str, method_topk: DataFrame) -> DataFrame:
        hits = method_topk.join(exact, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("hits")
        )
        return hits.crossJoin(F.broadcast(n_total)).select(
            F.lit(method).alias("method"),
            F.col("hits"),
            F.col("total"),
            F.round(F.col("hits") / F.col("total").cast("double"), 4).alias("recall_at_k"),
        )

    # the two PQ paths rank by ADC distance (not the exact-cosine rerank the
    # other methods share): their recall rows measure quantization loss too
    pq_topk = ann_pq_adc_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivfpq_topk = ann_ivfpq_topk(spark, sf_dir).select("query_id", "neighbor_id")

    return (
        recall_row("lsh_bucket", topk(lsh_cand))
        .unionByName(recall_row("lsh_multiprobe1", topk(lshmp_cand)))
        .unionByName(recall_row("ivf_probe1", topk(ivf_cand)))
        .unionByName(recall_row("ivf_probe2", topk(ivf2_cand)))
        .unionByName(recall_row("pq_adc_full", pq_topk))
        .unionByName(recall_row("ivfpq_probe1", ivfpq_topk))
    )


# -- product quantization ---------------------------------------------------



@register(
    "ann_pq_codes",
    sql=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (
      SELECT vec_id // {_PQ_STRIDE} AS cent_id, emb AS cemb FROM v
      WHERE vec_id % {_PQ_STRIDE} = 0 AND vec_id < {_PQ_K * _PQ_STRIDE}
    ),
    d2 AS (
      SELECT v.vec_id, m.m, c.cent_id,
             SUM((v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1])
                 * (v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1]))
               AS dist2
      FROM v
      CROSS JOIN generate_series(0, {_PQ_M - 1}) m(m)
      CROSS JOIN cents c
      CROSS JOIN generate_series(0, {_PQ_SUB - 1}) d(d)
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, m,
             MIN(struct_pack(r := ROUND(dist2, 6), cid := cent_id)) AS b
      FROM d2 GROUP BY 1, 2
    )
    SELECT vec_id,
           CAST(SUM(b.cid * CAST(power(2, 4 * m) AS BIGINT)) AS BIGINT) AS pq_code,
           ROUND(SUM(b.r), 6) AS q_err
    FROM best GROUP BY vec_id
    """,
    tags=("similarity", "pq", "ann"),
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the third ANN family next to IVF and
    LSH, and the one real 100 TB vector stores (IVF-PQ) actually ship: each
    vector is stored as {_PQ_M} 4-bit codewords ({_PQ_M * 4} bits total)
    instead of {_DIM} floats, a {_DIM * 4 * 8 // (_PQ_M * 4)}x memory
    reduction, and ADC search scans codes against a per-query lookup table.

    Codebook = subvectors of {_PQ_K} strided vec_ids (deterministic stand-in
    for trained k-means, same trick as IVF's centroid set). Shape at scale:
    explode {_PQ_M} subspaces → broadcast-join the {_PQ_M}x{_PQ_K}-row
    codebook → map-side min-struct per (vector, subspace) → pack. Two
    shuffles of n·{_PQ_M} and n rows; the n·M·K distance work is map-local.
    Assignment ties and cross-engine float-sum noise resolve on
    (ROUND(d2, 6), cent_id)."""
    v = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    cents = v.filter(
        (F.col("vec_id") % _PQ_STRIDE == 0) & (F.col("vec_id") < _PQ_K * _PQ_STRIDE)
    ).select((F.col("vec_id") / _PQ_STRIDE).cast("bigint").alias("cent_id"), F.col("emb").alias("cemb"))

    sub = v.select(
        "vec_id",
        F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
        "emb",
    ).select(
        "vec_id", "m", F.expr(f"slice(emb, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv")
    )
    csub = cents.select(
        "cent_id",
        F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
        "cemb",
    ).select(
        "cent_id", "m", F.expr(f"slice(cemb, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("cv")
    )
    # r11 (guide §4): unrolled codegen distance, bit-identical fold order
    d2 = _sq_l2_u(F.col("sv"), F.col("cv"), _PQ_SUB)
    best = (
        sub.join(F.broadcast(csub), "m")
        .select("vec_id", "m", F.round(d2, 6).alias("r"), "cent_id")
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("r"), F.col("cent_id").alias("cid"))).alias("b"))
    )
    return best.groupBy("vec_id").agg(
        F.sum(F.expr("b.cid * shiftleft(1L, cast(4 * m as int))"))
        .cast("bigint")
        .alias("pq_code"),
        F.round(F.sum("b.r"), 6).alias("q_err"),
    )


# The ADC scoring pipeline as a shared CTE chain — ann_pq_adc_topk ranks it
# directly; ann_adc_rerank consumes the same candidates and refines them with
# exact distances. ONE scoring definition (the text_bm25_topk lesson), not a
# convention kept in sync by hand.
_SQL_ADC_CTES = f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (
      SELECT vec_id // {_PQ_STRIDE} AS cent_id, emb AS cemb FROM v
      WHERE vec_id % {_PQ_STRIDE} = 0 AND vec_id < {_PQ_K * _PQ_STRIDE}
    ),
    d2 AS (
      SELECT v.vec_id, m.m, c.cent_id,
             SUM((v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1])
                 * (v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1]))
               AS dist2
      FROM v
      CROSS JOIN generate_series(0, {_PQ_M - 1}) m(m)
      CROSS JOIN cents c
      CROSS JOIN generate_series(0, {_PQ_SUB - 1}) d(d)
      GROUP BY 1, 2, 3
    ),
    assign AS (  -- corpus side: PQ code per (vector, subspace)
      SELECT vec_id, m,
             MIN(struct_pack(r := ROUND(dist2, 6), cid := cent_id)).cid AS code
      FROM d2 GROUP BY 1, 2
    ),
    q AS (SELECT vec_id AS query_id FROM v WHERE vec_id % {_QUERY_STRIDE} = 0),
    lut AS (  -- per-query ADC lookup table: exact query-to-codeword distances
      SELECT d2.vec_id AS query_id, d2.m, d2.cent_id, ROUND(d2.dist2, 6) AS r
      FROM d2 JOIN q ON q.query_id = d2.vec_id
    ),
    adc AS (
      SELECT l.query_id, a.vec_id AS neighbor_id, ROUND(SUM(l.r), 6) AS adc_d2
      FROM assign a
      JOIN lut l ON l.m = a.m AND l.cent_id = a.code
      WHERE a.vec_id <> l.query_id
      GROUP BY 1, 2
    )"""


@register(
    "ann_pq_adc_topk",
    sql=f"""
    WITH {_SQL_ADC_CTES}
    SELECT query_id, neighbor_id, adc_d2, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_d2, neighbor_id) AS rnk
          FROM adc)
    WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "pq", "ann", "adc"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-{_TOP_K} over PQ codes — how an IVF-PQ
    store actually answers queries at 100 TB: the corpus is touched only as
    {_PQ_M}-codeword rows, and each query precomputes a {_PQ_M}x{_PQ_K}
    lookup table of exact subspace distances; a neighbor's score is then
    {_PQ_M} table lookups summed, never a {_DIM}-dim float scan.

    Plan shape: the code assignment reuses the ann_pq_codes join; the LUT
    (|q|·{_PQ_M}·{_PQ_K} rows) broadcasts; scoring is a broadcast equi-join
    on (m, codeword) + one groupBy(query, neighbor) whose partial aggregate
    does the {_PQ_M}-way sum map-side. Rank ties and cross-engine float
    noise resolve on (ROUND, neighbor_id)."""
    adc = _adc_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2"), F.col("neighbor_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_d2", F.col("rnk").cast("int").alias("rnk"))
    )


def _adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ADC scoring pipeline (query_id, neighbor_id, adc_d2) — the
    Spark mirror of _SQL_ADC_CTES, consumed by ann_pq_adc_topk (ranked
    as-is) and ann_adc_rerank (candidate generation)."""
    v = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    cents = v.filter(
        (F.col("vec_id") % _PQ_STRIDE == 0) & (F.col("vec_id") < _PQ_K * _PQ_STRIDE)
    ).select((F.col("vec_id") / _PQ_STRIDE).cast("bigint").alias("cent_id"), F.col("emb").alias("cemb"))

    sub = v.select(
        "vec_id",
        F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
        "emb",
    ).select(
        "vec_id", "m", F.expr(f"slice(emb, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv")
    )
    csub = cents.select(
        "cent_id",
        F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
        "cemb",
    ).select(
        "cent_id", "m", F.expr(f"slice(cemb, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("cv")
    )
    # r11 (guide §4): the n·M·K distance kernel is an unrolled codegen sum,
    # not an interpreted aggregate/zip_with lambda pair; bit-identical fold
    # order (see _sq_l2_u).
    d2_expr = _sq_l2_u(F.col("sv"), F.col("cv"), _PQ_SUB)
    d2 = sub.join(F.broadcast(csub), "m").select(
        "vec_id", "m", "cent_id", F.round(d2_expr, 6).alias("r")
    )
    assign = d2.groupBy("vec_id", "m").agg(
        F.min(F.struct(F.col("r"), F.col("cent_id").alias("cid"))).alias("b")
    ).select("vec_id", "m", F.col("b.cid").alias("code"))

    # r11 (guide §3.4): the query LUT only needs the strided query vectors —
    # filter sub BEFORE the codebook join (predicate pushed to the scan)
    # instead of running the full n·M·K distance pass a second time and
    # joining it down to |q| (the before-plan computed d2 twice; identical
    # rows because the qids broadcast-join was exactly this filter).
    lut = (
        sub.filter(F.col("vec_id") % _QUERY_STRIDE == 0)
        .join(F.broadcast(csub), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            F.col("cent_id").alias("code"),
            F.round(d2_expr, 6).alias("r"),
        )
    )
    return (
        assign.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("r"), 6).alias("adc_d2"))
    )


_RERANK_C = 15  # ADC candidates refined per query (3x the final top-k)


@register(
    "ann_adc_rerank",
    sql=f"""
    WITH {_SQL_ADC_CTES},
    cand AS (
      SELECT query_id, neighbor_id, adc_d2
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_d2, neighbor_id) AS crnk
            FROM adc)
      WHERE crnk <= {_RERANK_C}
    ),
    refined AS (
      SELECT c.query_id, c.neighbor_id, c.adc_d2,
             ROUND(SUM((qv.emb[i.i] - nv.emb[i.i]) * (qv.emb[i.i] - nv.emb[i.i])), 6)
               AS exact_d2
      FROM cand c
      JOIN v qv ON qv.vec_id = c.query_id
      JOIN v nv ON nv.vec_id = c.neighbor_id
      CROSS JOIN generate_series(1, {_DIM}) i(i)
      GROUP BY 1, 2, 3
    )
    SELECT query_id, neighbor_id, adc_d2, exact_d2, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY exact_d2, neighbor_id) AS rnk
          FROM refined)
    WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "pq", "ann", "rerank"),
)
def ann_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN answer: ADC candidate generation + exact re-ranking —
    the refinement stage of Jégou et al. 2011 (§IV-D, IVFADC+R) that every
    production PQ store runs: the quantized ADC score orders CANDIDATES
    cheaply ({_PQ_M} table lookups per neighbor), then only the top
    {_RERANK_C} per query are re-scored against the FULL {_DIM}-dim
    vectors and the final top-{_TOP_K} is cut on exact distance. Output
    keeps both scores, so the quantization error the rerank repaired is
    visible per pair (exact_d2 vs adc_d2).

    Scale: the expensive full-vector fetch touches |q|·{_RERANK_C} rows —
    NOT the corpus; it is two hash equi-joins back to the embedding table
    on vec_id (at 100 TB: point lookups against the vector store). The
    candidate stage shares _adc_scored / _SQL_ADC_CTES with
    ann_pq_adc_topk — one scoring definition. Ranks cut on 6-dp-rounded
    distances with neighbor_id tiebreaks (the module's cross-engine
    contract)."""
    adc = _adc_scored(spark, sf_dir)
    wc = Window.partitionBy("query_id").orderBy(F.col("adc_d2"), F.col("neighbor_id"))
    cand = (
        adc.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= _RERANK_C)
        .select("query_id", "neighbor_id", "adc_d2")
    )
    v = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    exact_expr = F.aggregate(
        F.zip_with("qemb", "nemb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    refined = (
        cand.join(v.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")), "query_id")
        .join(v.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb")), "neighbor_id")
        .select("query_id", "neighbor_id", "adc_d2", F.round(exact_expr, 6).alias("exact_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("exact_d2"), F.col("neighbor_id"))
    return (
        refined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_d2", "exact_d2", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "ann_ivfpq_topk",
    sql=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    ivf_cents AS (
      SELECT vec_id AS centroid_id, emb AS cemb FROM v
      WHERE vec_id % {_CENTROID_STRIDE} = 0 AND vec_id < {_N_CENTROIDS * _CENTROID_STRIDE}
    ),
    assign AS (  -- IVF coarse partition (rank-1 centroid per vector)
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY ROUND(list_cosine_similarity(v.emb, c.cemb), 6) DESC,
                                           c.centroid_id) AS rn
        FROM v CROSS JOIN ivf_cents c) WHERE rn = 1
    ),
    pq_cents AS (
      SELECT vec_id // {_PQ_STRIDE} AS cent_id, emb AS cemb FROM v
      WHERE vec_id % {_PQ_STRIDE} = 0 AND vec_id < {_PQ_K * _PQ_STRIDE}
    ),
    d2 AS (
      SELECT v.vec_id, m.m, c.cent_id,
             SUM((v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1])
                 * (v.emb[m.m * {_PQ_SUB} + d.d + 1] - c.cemb[m.m * {_PQ_SUB} + d.d + 1]))
               AS dist2
      FROM v
      CROSS JOIN generate_series(0, {_PQ_M - 1}) m(m)
      CROSS JOIN pq_cents c
      CROSS JOIN generate_series(0, {_PQ_SUB - 1}) d(d)
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, m,
             MIN(struct_pack(r := ROUND(dist2, 6), cid := cent_id)).cid AS code
      FROM d2 GROUP BY 1, 2
    ),
    q AS (SELECT vec_id AS query_id FROM v WHERE vec_id % {_QUERY_STRIDE} = 0),
    lut AS (
      SELECT d2.vec_id AS query_id, d2.m, d2.cent_id, ROUND(d2.dist2, 6) AS r
      FROM d2 JOIN q ON q.query_id = d2.vec_id
    ),
    cand AS (  -- candidates = the query's OWN centroid cell only (probe=1)
      SELECT q.query_id, av.vec_id AS neighbor_id
      FROM assign aq JOIN q ON q.query_id = aq.vec_id
      JOIN assign av ON av.centroid_id = aq.centroid_id
                    AND av.vec_id <> q.query_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id, ROUND(SUM(l.r), 6) AS adc_d2
      FROM cand c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id AND l.m = k.m AND l.cent_id = k.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_d2, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_d2, neighbor_id) AS rnk
          FROM adc)
    WHERE rnk <= {_TOP_K}
    """,
    tags=("similarity", "ivf", "pq", "ann", "adc"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ retrieval path — what a production 100 TB vector
    store executes per query: IVF restricts candidates to the query's
    centroid cell (n/K of the corpus), then ADC scores those candidates
    from {_PQ_M}-codeword rows against the query's lookup table. Composes
    ann_ivf_assign's partitioning with ann_pq_adc_topk's scoring; at scale
    the corpus is BUCKETED by centroid_id so the probe never rescans other
    cells, and codes are {_PQ_M * 4} bits per vector in memory."""
    v = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))

    assign = _ivf_ranked(spark, sf_dir).filter(F.col("rn") == 1).select(
        "vec_id", "centroid_id"
    )

    cents = v.filter(
        (F.col("vec_id") % _PQ_STRIDE == 0) & (F.col("vec_id") < _PQ_K * _PQ_STRIDE)
    ).select((F.col("vec_id") / _PQ_STRIDE).cast("bigint").alias("cent_id"), F.col("emb").alias("cemb"))
    sub = v.select(
        "vec_id",
        F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
        "emb",
    ).select("vec_id", "m", F.expr(f"slice(emb, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv"))
    csub = cents.select(
        "cent_id",
        F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m"),
        "cemb",
    ).select("cent_id", "m", F.expr(f"slice(cemb, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("cv"))
    # r11 (guide §4): unrolled codegen distance, bit-identical fold order
    d2_expr = _sq_l2_u(F.col("sv"), F.col("cv"), _PQ_SUB)
    d2 = sub.join(F.broadcast(csub), "m").select(
        "vec_id", "m", "cent_id", F.round(d2_expr, 6).alias("r")
    )
    codes = d2.groupBy("vec_id", "m").agg(
        F.min(F.struct(F.col("r"), F.col("cent_id").alias("cid"))).alias("b")
    ).select("vec_id", "m", F.col("b.cid").alias("code"))

    # r11 (guide §3.4): LUT and query-assignment from pushed-down strided
    # filters instead of a second full distance pass / an extra join
    # (identical rows — the qids broadcast-join was exactly this filter).
    lut = (
        sub.filter(F.col("vec_id") % _QUERY_STRIDE == 0)
        .join(F.broadcast(csub), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            F.col("cent_id").alias("code"),
            F.round(d2_expr, 6).alias("r"),
        )
    )
    qassign = assign.filter(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    cand = (
        assign.join(F.broadcast(qassign), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    adc = (
        cand.join(codes, cand.neighbor_id == codes.vec_id)
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("r"), 6).alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2"), F.col("neighbor_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_d2", F.col("rnk").cast("int").alias("rnk"))
    )


# --------------------------------------------------------------------------
# Matryoshka truncation-error report (MRL dimensionality audit)
# --------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32)


@register(
    "embedding_matryoshka_error",
    sql=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb, a.v AS va, b.v AS vb,
             list_cosine_similarity(a.v, b.v) AS cos_full
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    ),
    devs AS (
      SELECT k.k,
             ABS(cos_full - list_cosine_similarity(va[1:k.k], vb[1:k.k])) AS dev
      FROM pairs CROSS JOIN (VALUES (8), (16), (32)) k(k)
    )
    SELECT CAST(k AS INTEGER) AS trunc_dim,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(dev AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
             AS mean_abs_dev,
           ROUND(MAX(dev), 6) AS max_abs_dev
    FROM devs GROUP BY k
    ORDER BY trunc_dim
    """,
    tags=("embedding", "matryoshka", "truncation", "audit"),
)
def embedding_matryoshka_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: how much does pairwise cosine
    similarity move when embeddings are truncated to their first
    {_MRL_DIMS} dimensions? The dimension-vs-recall budget question every
    MRL / truncated-index deployment answers before shrinking its ANN
    footprint — reported as mean/max absolute cosine deviation per
    truncation level over the deterministic consecutive-id pair set
    (|corpus| pairs, no quadratic join; the pair choice is content-free
    and stable as the corpus grows).

    Cross-engine float discipline is knn_bruteforce_cosine's: vectors are
    cast to f64 BEFORE any arithmetic, the cosine uses the same fold
    order on both engines, each |Δcos| is one deterministic double, and
    the mean follows the DECIMAL(28,9) exact-sum contract. No second
    rounding anywhere.

    Scale: one self-join on an integer key (co-partitioned), then a
    constant ×{len(_MRL_DIMS)} fan-out and a 3-row aggregate — linear in
    the corpus with sub-vector slices computed JVM-side.
    """
    e = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("v"))
    a = e.select(F.col("vec_id").alias("ida"), F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("ida"), F.col("v").alias("vb"))

    def cos(x, y):
        return dot(x, y) / F.sqrt(dot(x, x) * dot(y, y))

    pairs = a.join(b, "ida").select(
        "va", "vb", cos(F.col("va"), F.col("vb")).alias("cos_full")
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _MRL_DIMS])).alias("k")
    devs = pairs.select("va", "vb", "cos_full", ks).select(
        "k",
        F.abs(
            F.col("cos_full")
            - cos(F.slice("va", 1, F.col("k")), F.slice("vb", 1, F.col("k")))
        ).alias("dev"),
    )
    return (
        devs.groupBy(F.col("k").cast("int").alias("trunc_dim"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("dev").cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_abs_dev"),
            F.round(F.max("dev"), 6).alias("max_abs_dev"),
        )
        .orderBy("trunc_dim")
    )


# --------------------------------------------------------------------------
# per-label integer centroids + pairwise centroid cosine (corpus geometry)
# --------------------------------------------------------------------------


@register(
    "embedding_label_centroids",
    sql="""
    WITH comp AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
               AS micro
      FROM embeddings
    ),
    sums AS (
      SELECT label, dim, CAST(SUM(micro) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM comp GROUP BY 1, 2
    ),
    cent AS (SELECT label, dim, CAST(s // n AS BIGINT) AS c, n FROM sums),
    pair AS (
      SELECT a.label AS label_a, b.label AS label_b,
             MIN(a.n) AS n_a, MIN(b.n) AS n_b,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
             CAST(SUM(a.c * a.c) AS BIGINT) AS na2,
             CAST(SUM(b.c * b.c) AS BIGINT) AS nb2
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT CAST(label_a AS INTEGER) AS label_a,
           CAST(label_b AS INTEGER) AS label_b,
           n_a AS n_vecs_a, n_b AS n_vecs_b,
           ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))), 6)
             AS centroid_cos
    FROM pair
    ORDER BY label_a, label_b
    """,
    tags=("similarity", "embedding", "centroid", "drift"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class geometry report: the per-label mean embedding and the
    cosine between every label-centroid pair — the embedding-space
    collapse/overlap check a curation pipeline runs before trusting
    label-balanced sampling or per-class dedup thresholds (two labels
    whose centroids sit at cos > 0.9 are one class to the model).

    Determinism: components are quantized ONCE per row to micro-units, so
    the per-(label,dim) centroid sums are exact BIGINTs under any
    partitioning; centroids are integer DIV (truncation toward zero —
    verified identical in Spark `div` and DuckDB `//`); dot and norms are
    exact integer sums of centroid products (|c| ≤ 1e6, 64 dims → far
    under 2^63); the cosine is ONE mirrored double expression at the end.

    Scale: the explode is (rows × dims) map-side work feeding ONE
    partial-aggregated groupBy on (label, dim) — state = labels × dims,
    not corpus size; the pair join runs on the label-sized centroid
    table."""
    comp = table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("bigint").alias("micro"),
    )
    sums = comp.groupBy("label", "dim").agg(
        F.sum("micro").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cent = sums.select("label", "dim", F.expr("s div n").cast("bigint").alias("c"), "n")
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    pair = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.min("na").alias("n_a"),
            F.min("nb").alias("n_b"),
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).cast("bigint").alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).cast("bigint").alias("nb2"),
        )
    )
    return pair.select(
        F.col("label_a").cast("int").alias("label_a"),
        F.col("label_b").cast("int").alias("label_b"),
        F.col("n_a").alias("n_vecs_a"),
        F.col("n_b").alias("n_vecs_b"),
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
            6,
        ).alias("centroid_cos"),
    ).orderBy("label_a", "label_b")


# --------------------------------------------------------------------------
# int8 scalar-quantization audit (serving-compression prep)
# --------------------------------------------------------------------------


@register(
    "embedding_int8_quantization",
    sql="""
    WITH comp AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    mx AS (SELECT dim, MAX(abs(x)) AS m FROM comp GROUP BY dim),
    q AS (
      SELECT c.dim, c.x, mx.m,
             CASE WHEN mx.m = 0 THEN 0
                  ELSE CAST(ROUND(c.x * 127 / mx.m) AS BIGINT) END AS qv
      FROM comp c JOIN mx ON mx.dim = c.dim
    ),
    err AS (
      SELECT dim, m, qv,
             CASE WHEN m = 0 THEN 0
                  ELSE CAST(ROUND(abs(x - qv * m / 127) * 1000000) AS BIGINT)
             END AS err_micro
      FROM q
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           ROUND(m, 6) AS maxabs_r6,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
           CAST(SUM(err_micro) AS BIGINT) AS sum_abs_err_micro,
           CAST(MAX(err_micro) AS BIGINT) AS max_err_micro
    FROM err
    GROUP BY dim, m
    ORDER BY dim
    """,
    tags=("embeddings", "quantization", "serving"),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension audit of symmetric int8 scalar quantization (the
    max-abs calibration every serving stack applies before shipping an
    embedding index): for each of the 64 dimensions, the calibration
    scale, saturation count, and the absolute reconstruction error of
    q = round(x·127/max|x|) — the report that decides whether int8 (4×
    smaller, SIMD dot products) is safe or a dimension needs clipping.

    Determinism: max|x| is an order-independent float reduction; the
    quantize and reconstruct expressions are identical per-element double
    math on both engines; each element's |error| is quantized to integer
    micro-units BEFORE the per-dimension sum (the module's micro-sum
    contract), so no float accumulation order exists anywhere.

    Scale shape: explode is map-side; both aggregations group on the
    64-value dimension key with map-side partials (state = dims·const);
    the rejoin of elements to their dimension scale is a broadcast-sized
    dim table against the element stream. Linear in corpus, no
    all-pairs."""
    emb = table(spark, sf_dir, "embeddings").select("embedding")
    comp = emb.select(F.posexplode("embedding").alias("dim0", "xf")).select(
        (F.col("dim0") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    mx = comp.groupBy("dim").agg(F.max(F.abs(F.col("x"))).alias("m"))
    q = comp.join(F.broadcast(mx), "dim").select(
        "dim",
        "m",
        "x",
        F.when(F.col("m") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.round(F.col("x") * 127 / F.col("m")).cast("bigint"))
        .alias("qv"),
    )
    err = q.select(
        "dim",
        "m",
        "qv",
        F.when(F.col("m") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.round(F.abs(F.col("x") - F.col("qv") * F.col("m") / 127) * 1_000_000).cast(
                "bigint"
            )
        )
        .alias("err_micro"),
    )
    return (
        err.groupBy("dim", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.sum(F.when(F.abs(F.col("qv")) == 127, 1).otherwise(0))
            .cast("bigint")
            .alias("n_saturated"),
            F.sum("err_micro").cast("bigint").alias("sum_abs_err_micro"),
            F.max("err_micro").cast("bigint").alias("max_err_micro"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("m"), 6).alias("maxabs_r6"),
            "n_values",
            "n_saturated",
            "sum_abs_err_micro",
            "max_err_micro",
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# effective dimensionality (participation ratio over per-dim variance)
# --------------------------------------------------------------------------


@register(
    "embedding_effective_dim",
    sql="""
    WITH comp AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    mo AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(28,12))) AS sx,
             SUM(CAST(x * x AS DECIMAL(28,12))) AS sxx
      FROM comp GROUP BY dim
    ),
    v AS (
      SELECT dim, n,
             CAST(ROUND((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n AS DOUBLE) * n) * 1000000000) AS BIGINT) AS var_nano
      FROM mo
    ),
    tot AS (
      SELECT CAST(SUM(var_nano) AS BIGINT) AS total_nano,
             SUM(CAST(CAST(var_nano AS DOUBLE) * CAST(var_nano AS DOUBLE)
                      AS DECIMAL(38,0))) AS sq
      FROM v
    )
    SELECT CAST(v.dim AS INTEGER) AS dim, v.var_nano,
           CAST(v.var_nano * 1000000 // t.total_nano AS BIGINT) AS share_ppm,
           CAST(CAST(SUM(v.var_nano) OVER (ORDER BY v.var_nano DESC, v.dim) AS BIGINT)
                * 1000000 // t.total_nano AS BIGINT) AS cum_share_ppm,
           ROUND(CAST(t.total_nano AS DOUBLE) * t.total_nano / CAST(t.sq AS DOUBLE), 4)
             AS effective_dim
    FROM v CROSS JOIN tot t
    ORDER BY var_nano DESC, dim
    """,
    tags=("embeddings", "spectrum", "diagnostics"),
)
def embedding_effective_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance spectrum of the embedding space and its participation
    ratio (Σλ)²/Σλ² — the "how many dimensions actually carry signal"
    diagnostic (a collapsed spectrum means the index's distance geometry
    is degenerate long before recall metrics show it). Per-dimension
    variance, its share of total variance, the cumulative share in
    decreasing-variance order, plus the scalar effective dimension.

    Determinism: per-dimension moments are exact DECIMAL sums of
    mirrored double terms; the variance (n·Σx² − (Σx)²)/n² is one
    mirrored double expression quantized ONCE to nano-units; every
    share, the cumulative window, and the participation ratio are then
    built from those exact BIGINTs (squares pass through doubles —
    identical IEEE products on both engines — and an exact DECIMAL sum).

    Scale shape: the explode is map-side; one groupBy on the 64-value
    dimension key with map-side partials (state = dims·const); the
    spectrum rollup, window, and participation ratio all run on
    |dims| rows. Linear in corpus, one shuffle."""
    emb = table(spark, sf_dir, "embeddings").select("embedding")
    comp = emb.select(F.posexplode("embedding").alias("dim0", "xf")).select(
        (F.col("dim0") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    mo = comp.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(28,12)")).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).alias("sxx"),
    )
    v = mo.select(
        "dim",
        "n",
        F.round(
            (
                F.col("n") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
            / (F.col("n").cast("double") * F.col("n"))
            * 1_000_000_000
        )
        .cast("bigint")
        .alias("var_nano"),
    )
    tot = v.agg(
        F.sum("var_nano").cast("bigint").alias("total_nano"),
        F.sum(
            (F.col("var_nano").cast("double") * F.col("var_nano").cast("double")).cast(
                "decimal(38,0)"
            )
        ).alias("sq"),
    )
    wcum = Window.orderBy(F.desc("var_nano"), "dim").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .withColumn("cum_nano", F.sum("var_nano").over(wcum).cast("bigint"))
        .select(
            F.col("dim").cast("int").alias("dim"),
            "var_nano",
            F.expr("var_nano * 1000000 div total_nano").cast("bigint").alias("share_ppm"),
            F.expr("cum_nano * 1000000 div total_nano").cast("bigint").alias("cum_share_ppm"),
            F.round(
                F.col("total_nano").cast("double")
                * F.col("total_nano")
                / F.col("sq").cast("double"),
                4,
            ).alias("effective_dim"),
        )
        .orderBy(F.desc("var_nano"), "dim")
    )


# --------------------------------------------------------------------------
# MMR diversified top-k retrieval (maximal marginal relevance, exact)
# --------------------------------------------------------------------------

_MMR_POOL = 12  # relevance candidate pool per query
_MMR_K = 4  # diversified results per query
# lambda = 0.7 as integer weights: score = 7*rel - 3*max_sim (micro units)
_MMR_WREL, _MMR_WDIV = 7, 3


def _sql_mmr() -> str:
    """CTE chain: pool (top-POOL by relevance), sims (pool x pool), then
    K unrolled greedy selection rounds."""
    parts = [
        f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS qid, emb AS qemb FROM v WHERE vec_id % {_QUERY_STRIDE} = 0),
    pool AS (
      SELECT qid, cand, rel_m, v_emb FROM (
        SELECT q.qid, v.vec_id AS cand,
               CAST(ROUND(list_cosine_similarity(q.qemb, v.emb) * 1000000) AS BIGINT)
                 AS rel_m,
               v.emb AS v_emb,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(list_cosine_similarity(q.qemb, v.emb) * 1000000) DESC,
                          v.vec_id) AS rn
        FROM q JOIN v ON v.vec_id <> q.qid)
      WHERE rn <= {_MMR_POOL}),
    sims AS (
      SELECT a.qid, a.cand AS ca, b.cand AS cb,
             CAST(ROUND(list_cosine_similarity(a.v_emb, b.v_emb) * 1000000) AS BIGINT)
               AS sim_m
      FROM pool a JOIN pool b ON b.qid = a.qid AND b.cand <> a.cand),
    sel1 AS (
      SELECT qid, cand, rel_m, 1 AS rnd FROM (
        SELECT qid, cand, rel_m,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel_m DESC, cand) AS rn
        FROM pool) WHERE rn = 1)"""
    ]
    for r in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT qid, cand FROM sel{i}" for i in range(1, r))
        parts.append(f"selu{r - 1} AS ({prev})")
        parts.append(f"""sel{r} AS (
      SELECT qid, cand, rel_m, {r} AS rnd FROM (
        SELECT qid, cand, rel_m,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, cand) AS rn
        FROM (
          SELECT p.qid, p.cand, p.rel_m,
                 {_MMR_WREL} * p.rel_m - {_MMR_WDIV} * MAX(s.sim_m) AS score
          FROM pool p
          JOIN selu{r - 1} z ON z.qid = p.qid
          JOIN sims s ON s.qid = p.qid AND s.ca = p.cand AND s.cb = z.cand
          LEFT JOIN selu{r - 1} x ON x.qid = p.qid AND x.cand = p.cand
          WHERE x.cand IS NULL
          GROUP BY p.qid, p.cand, p.rel_m))
      WHERE rn = 1)""")
    final = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, _MMR_K + 1))
    parts.append(f"out AS ({final})")
    return ",\n    ".join(parts)


@register(
    "retrieval_mmr_diversified",
    sql=f"""
    WITH {_sql_mmr()}
    SELECT qid AS query_id, CAST(rnd AS INTEGER) AS rnd, cand AS vec_id, rel_m AS rel_micro
    FROM out ORDER BY query_id, rnd
    """,
    tags=("retrieval", "mmr", "diversity"),
)
def retrieval_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval (Carbonell & Goldstein 1998):
    for each strided query vector, greedily pick {_MMR_K} results from the
    top-{_MMR_POOL} relevance pool maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.7) — the
    diversified re-rank that stops a RAG context window filling with four
    copies of the same passage (the selection-time complement of
    `cluster_semdedup_pairs`, which prunes at index time).

    The greedy argmax is inherently sequential in k — but k is a
    CONSTANT, so the loop unrolls into {_MMR_K} dataframe stages (the
    `cluster_kmeans_embeddings` playbook), each a per-query window
    argmax over ≤{_MMR_POOL} candidates. Nothing iterates over data-
    dependent state.

    Exactness: relevance and pairwise similarities quantize ONCE to
    micro-units; the MMR objective is the all-integer
    {_MMR_WREL}·rel − {_MMR_WDIV}·maxsim with vec_id tiebreaks.

    Scale shape: the relevance scan is the brute-force knn shape
    (broadcast query set × corpus — at 100 TB swap in the IVF route the
    `ann_*` family provides); everything after operates on
    |queries| × {_MMR_POOL} rows with broadcast-sized selection state."""
    v = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    vn = v.withColumn("nv", dot(F.col("emb"), F.col("emb")))
    q = vn.filter(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"), F.col("nv").alias("nq")
    )
    rel = (
        vn.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cand"),
            F.round(
                dot(F.col("qemb"), F.col("emb")) / F.sqrt(F.col("nq") * F.col("nv"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("rel_m"),
            F.col("emb").alias("v_emb"),
            F.col("nv"),
        )
    )
    wrel = Window.partitionBy("qid").orderBy(F.desc("rel_m"), "cand")
    pool = rel.withColumn("rn", F.row_number().over(wrel)).filter(
        F.col("rn") <= _MMR_POOL
    ).drop("rn")
    a = pool.select("qid", F.col("cand").alias("ca"), F.col("v_emb").alias("ea"), F.col("nv").alias("na"))
    b = pool.select(F.col("qid").alias("qid_b"), F.col("cand").alias("cb"), F.col("v_emb").alias("eb"), F.col("nv").alias("nb"))
    sims = (
        a.join(b, (F.col("qid") == F.col("qid_b")) & (F.col("ca") != F.col("cb")))
        .select(
            "qid",
            "ca",
            "cb",
            F.round(
                dot(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na") * F.col("nb"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("sim_m"),
        )
        # pin: every greedy MMR round re-runs the pool's pairwise sims without it (PERF.md "Pins")
        .localCheckpoint(eager=False)
    )
    # pin: every greedy MMR round re-ranks the candidate pool without it (PERF.md "Pins")
    slim = pool.select("qid", "cand", "rel_m").localCheckpoint(eager=False)
    sel = (
        slim.withColumn(
            "rn", F.row_number().over(Window.partitionBy("qid").orderBy(F.desc("rel_m"), "cand"))
        )
        .filter(F.col("rn") == 1)
        .select("qid", "cand", "rel_m", F.lit(1).alias("rnd"))
    )
    out = sel
    for r in range(2, _MMR_K + 1):
        selected = out.select("qid", "cand")
        zc = selected.select(F.col("qid").alias("qz"), F.col("cand").alias("cz"))
        scored = (
            slim.join(selected, ["qid", "cand"], "left_anti")
            .join(
                sims.withColumnRenamed("ca", "cand"),
                ["qid", "cand"],
            )
            .join(
                zc,
                (F.col("qid") == F.col("qz")) & (F.col("cb") == F.col("cz")),
            )
            .groupBy("qid", "cand", "rel_m")
            .agg(
                (_MMR_WREL * F.col("rel_m") - _MMR_WDIV * F.max("sim_m")).alias("score")
            )
        )
        pick = (
            scored.withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("qid").orderBy(F.desc("score"), "cand")),
            )
            .filter(F.col("rn") == 1)
            .select("qid", "cand", "rel_m", F.lit(r).alias("rnd"))
        )
        out = out.unionAll(pick)
    return out.select(
        F.col("qid").alias("query_id"),
        F.col("rnd").cast("int").alias("rnd"),
        F.col("cand").alias("vec_id"),
        F.col("rel_m").alias("rel_micro"),
    ).orderBy("query_id", "rnd")


@register(
    "mine_hard_negatives",
    sql=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
               FROM e WHERE vec_id % {_QUERY_STRIDE} = 0),
         scored AS (
           SELECT a.anchor_id, a.anchor_label, e.vec_id AS negative_id,
                  e.label AS negative_label,
                  ROUND(list_cosine_similarity(a.av, e.v), 6) AS cos_sim
           FROM a JOIN e ON e.label <> a.anchor_label
         )
    SELECT anchor_id, CAST(anchor_label AS INTEGER) AS anchor_label,
           negative_id, CAST(negative_label AS INTEGER) AS negative_label,
           cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                       ORDER BY cos_sim DESC, negative_id) AS rnk
          FROM scored)
    WHERE rnk <= {_TOP_K}
    ORDER BY anchor_id, rnk
    """,
    tags=("similarity", "training", "contrastive"),
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    anchor, the top-{_TOP_K} most-similar vectors whose LABEL DIFFERS —
    exactly the near-miss negatives that make triplet/InfoNCE batches
    informative (random negatives are trivially easy; training signal comes
    from the hardest ones).

    Same exact-cosine contract as knn_bruteforce_cosine (per-side norm
    precompute, rank on the 6-decimal-rounded similarity with negative_id
    tiebreak). The label inequality is applied BEFORE ranking, so a
    same-label near-duplicate can never leak in as a "negative".

    Scale: anchors are a strided sample (broadcast); the corpus side streams
    map-only. At 100 TB with a large anchor set the same mining runs through
    the IVF route — ann_ivf_assign buckets both sides by centroid and each
    anchor probes its top buckets only, with this exact ranking as the
    per-bucket rerank kernel."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label"), as_double("embedding").alias("v")
    ).withColumn("nv", dot(F.col("v"), F.col("v")))
    a = e.filter(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
        F.col("nv").alias("na"),
    )
    cos = dot(F.col("av"), F.col("v")) / F.sqrt(F.col("na") * F.col("nv"))
    scored = (
        e.join(F.broadcast(a), F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cos_sim").desc(), F.col("negative_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("anchor_id", "rnk")
    )


# --------------------------------------------------------------------------
# k-center coreset selection (farthest-point traversal)
# --------------------------------------------------------------------------

_KC_K = 6  # centers to select (fixed unroll)


def _kc_sql() -> str:
    """CTE chain: cur{r} holds every unselected vector's min dist² (micro)
    to the selected set; p{r} is the farthest point (the next center)."""
    d2 = "CAST(ROUND((x.nv + {c}.nv - 2 * list_inner_product(x.emb, {c}.emb)) * 1000000) AS BIGINT)"
    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        "n AS (SELECT vec_id, emb, list_inner_product(emb, emb) AS nv FROM v)",
        "c1 AS (SELECT vec_id, emb, nv FROM n WHERE vec_id = (SELECT MIN(vec_id) FROM n))",
        f"""cur1 AS (SELECT x.vec_id, x.emb, x.nv, {d2.format(c="c")} AS dmin
             FROM n x CROSS JOIN c1 c WHERE x.vec_id <> c.vec_id)""",
    ]
    sel = ["SELECT 1 AS rnd, vec_id AS center_id, 0 AS radius_micro FROM c1"]
    for r in range(2, _KC_K + 1):
        parts.append(
            f"""p{r} AS (SELECT vec_id, emb, nv, dmin FROM cur{r - 1}
             ORDER BY dmin DESC, vec_id LIMIT 1)"""
        )
        sel.append(
            f"SELECT {r} AS rnd, vec_id AS center_id, dmin AS radius_micro FROM p{r}"
        )
        if r < _KC_K:
            parts.append(
                f"""cur{r} AS (SELECT x.vec_id, x.emb, x.nv,
                 LEAST(x.dmin, {d2.format(c="p")}) AS dmin
                 FROM cur{r - 1} x CROSS JOIN p{r} p WHERE x.vec_id <> p.vec_id)"""
            )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT CAST(rnd AS INTEGER) AS rnd, CAST(center_id AS BIGINT) AS center_id,"
        "\n           CAST(radius_micro AS BIGINT) AS radius_micro FROM ("
        + " UNION ALL ".join(sel)
        + ") ORDER BY rnd"
    )


@register("sample_coreset_kcenter", sql=_kc_sql(), tags=("sampling", "coreset", "kcenter"))
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (farthest-point traversal, Gonzalez 1985):
    from a deterministic seed (min vec_id), repeatedly select the vector
    farthest from the already-selected set — the classic 2-approximation
    to the k-center cover, and the diversity-sampling primitive behind
    coreset curation / active-learning batch selection (the opposite
    selection pressure of retrieval_mmr_diversified's per-query re-rank:
    this one covers the CORPUS).

    Each selected center reports its distance-to-set at pick time
    (radius_micro) — the monotonically decreasing k-center radius curve
    that tells you when additional centers stop buying coverage.

    Exactness: dist² = |x|² + |c|² − 2⟨x,c⟩ over per-side precomputed
    norms (the knn fold contract), quantized ONCE to micro-units; argmax
    ranks on (dmin, vec_id) total order. The greedy loop is sequential in
    k by definition, but k is a constant: {_KC_K} unrolled stages, each a
    corpus-wide map (one distance per unselected row) + a 1-row
    TakeOrdered — no per-row state, no data-dependent iteration.

    Scale: per round, one broadcast of a SINGLE center row against the
    corpus — O(k·n·d) total work, the textbook distributed k-center."""
    v = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    n = v.withColumn("nv", dot(F.col("emb"), F.col("emb")))
    seed = n.orderBy("vec_id").limit(1)

    def d2m(nv_x, emb_x, nv_c, emb_c):
        return F.round((nv_x + nv_c - 2 * dot(emb_x, emb_c)) * 1_000_000).cast("bigint")

    c = seed.select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"), F.col("nv").alias("cnv")
    )
    cur = (
        n.crossJoin(F.broadcast(c))
        .filter(F.col("vec_id") != F.col("cid"))
        .select(
            "vec_id",
            "emb",
            "nv",
            d2m(F.col("nv"), F.col("emb"), F.col("cnv"), F.col("cemb")).alias("dmin"),
        )
    )
    out = seed.select(
        F.lit(1).cast("int").alias("rnd"),
        F.col("vec_id").cast("bigint").alias("center_id"),
        F.lit(0).cast("bigint").alias("radius_micro"),
    )
    for r in range(2, _KC_K + 1):
        pick = cur.orderBy(F.desc("dmin"), "vec_id").limit(1)
        out = out.unionAll(
            pick.select(
                F.lit(r).cast("int").alias("rnd"),
                F.col("vec_id").cast("bigint").alias("center_id"),
                F.col("dmin").cast("bigint").alias("radius_micro"),
            )
        )
        if r < _KC_K:
            p = pick.select(
                F.col("vec_id").alias("cid"),
                F.col("emb").alias("cemb"),
                F.col("nv").alias("cnv"),
            )
            cur = (
                cur.crossJoin(F.broadcast(p))
                .filter(F.col("vec_id") != F.col("cid"))
                .select(
                    "vec_id",
                    "emb",
                    "nv",
                    F.least(
                        F.col("dmin"),
                        d2m(F.col("nv"), F.col("emb"), F.col("cnv"), F.col("cemb")),
                    ).alias("dmin"),
                )
            )
    return out.orderBy("rnd")


# --------------------------------------------------------------------------
# 1-NN label-noise audit (Confident-Learning-style margin report)
# --------------------------------------------------------------------------

_LNA_STRIDE = 10  # anchor set: every 10th vector


@register(
    "embedding_knn_label_audit",
    sql=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id AS aid, label AS alabel, v AS av
          FROM e WHERE vec_id % {_LNA_STRIDE} = 0),
    scored AS (
      SELECT a.aid, a.alabel, e.label,
             CAST(ROUND(list_cosine_similarity(a.av, e.v) * 1000000) AS BIGINT) AS sim_m
      FROM a JOIN e ON e.vec_id <> a.aid
    ),
    best AS (
      SELECT aid, alabel,
             MAX(CASE WHEN label = alabel THEN sim_m END) AS pos_m,
             MAX(CASE WHEN label <> alabel THEN sim_m END) AS neg_m
      FROM scored GROUP BY aid, alabel
    )
    SELECT CAST(alabel AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(SUM(CASE WHEN neg_m > pos_m THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_nn,
           CAST(SUM(CASE WHEN neg_m > pos_m THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS err_ppm,
           CAST(SUM(pos_m - neg_m) // COUNT(*) AS BIGINT) AS mean_margin_micro
    FROM best GROUP BY alabel
    ORDER BY label
    """,
    tags=("similarity", "label-noise", "knn"),
)
def embedding_knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label-error audit over a strided anchor set: for each anchor,
    the best same-label similarity (nearest positive) vs the best
    different-label similarity (nearest impostor — mine_hard_negatives'
    rank-1). An anchor whose impostor beats its nearest positive is a
    LABEL-NOISE candidate (the Confident-Learning signal); the per-label
    error rate and mean margin tell you which classes are clean enough to
    train on and which need relabeling.

    Exactness: similarities quantize once to micro-units (the MMR
    contract); margins are integer differences summed exactly; the mean
    is one integer div (negative-safe: margins can be negative, but the
    SUM is computed before the single div and the div operands keep the
    same sign on both engines via truncation semantics on BIGINT).

    Scale: anchors broadcast against the corpus (map-only); at full-corpus
    audit width the same kernel runs per IVF bucket (ann_ivf_assign) —
    nearest positive and impostor are both within-bucket reranks."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label"), as_double("embedding").alias("v")
    ).withColumn("nv", dot(F.col("v"), F.col("v")))
    a = e.filter(F.col("vec_id") % _LNA_STRIDE == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("v").alias("av"),
        F.col("nv").alias("na"),
    )
    sim_m = F.round(
        dot(F.col("av"), F.col("v")) / F.sqrt(F.col("na") * F.col("nv")) * 1_000_000
    ).cast("bigint")
    # r11: round-robin repartition of the STREAMED side only — the
    # |anchors|-dots-per-row kernel otherwise pins to the single-row-group
    # scan task (measured: one task held 2.2 s of the 2.6 s query). The
    # anchor build keeps the bare scan, so only the kernel job pays the
    # one small shuffle.
    scored = (
        e.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(a))
        .filter(F.col("vec_id") != F.col("aid"))
        .select("aid", "alabel", "label", sim_m.alias("sim_m"))
    )
    best = scored.groupBy("aid", "alabel").agg(
        F.max(F.when(F.col("label") == F.col("alabel"), F.col("sim_m"))).alias("pos_m"),
        F.max(F.when(F.col("label") != F.col("alabel"), F.col("sim_m"))).alias("neg_m"),
    )
    return (
        best.groupBy(F.col("alabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            F.sum(F.when(F.col("neg_m") > F.col("pos_m"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_wrong_nn"),
            F.expr(
                "sum(CASE WHEN neg_m > pos_m THEN 1 ELSE 0 END) * 1000000 div count(1)"
            )
            .cast("bigint")
            .alias("err_ppm"),
            F.expr("sum(pos_m - neg_m) div count(1)").cast("bigint").alias("mean_margin_micro"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# 1-bit (sign) quantization: Hamming retrieval agreement vs exact cosine
# --------------------------------------------------------------------------


@register(
    "embedding_sign_hamming_agreement",
    sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    codes AS (
      SELECT vec_id, v,
             list_sum(list_transform(generate_series(1, {_DIM // 2}),
               i -> CASE WHEN v[i] > 0
                         THEN (1::BIGINT << ({_DIM // 2} - i)) ELSE 0 END)) AS hi,
             list_sum(list_transform(generate_series({_DIM // 2 + 1}, {_DIM}),
               i -> CASE WHEN v[i] > 0
                         THEN (1::BIGINT << ({_DIM} - i)) ELSE 0 END)) AS lo
      FROM e
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, hi AS qhi, lo AS qlo
          FROM codes WHERE vec_id % {_QUERY_STRIDE} = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.qhi, c.hi)) + bit_count(xor(q.qlo, c.lo))
                  AS BIGINT) AS hamming,
             ROUND(list_cosine_similarity(q.qv, c.v), 6) AS cos_sim
      FROM q CROSS JOIN codes c
      WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      -- both ranks in ONE pass over scored: no self-join, no second scan
      SELECT query_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming ASC, neighbor_id) AS rh,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rc
      FROM scored
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN rh <= {_TOP_K} AND rc <= {_TOP_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN rh <= {_TOP_K} AND rc <= {_TOP_K}
                         THEN 1 ELSE 0 END) * 1000000 // {_TOP_K} AS BIGINT)
             AS agreement_ppm
    FROM ranked GROUP BY query_id
    ORDER BY query_id
    """,
    tags=("similarity", "quantization", "hamming", "evaluation"),
)
def embedding_sign_hamming_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-agreement audit for 1-bit (sign) embedding quantization:
    pack each {_DIM}-dim vector into two 32-bit sign codes, rank the
    corpus by Hamming distance, and report per query how much of the
    exact-cosine top-{_TOP_K} the Hamming top-{_TOP_K} recovers
    (agreement@k in ppm). 64x compression (float32[{_DIM}] → {_DIM} bits)
    is the cheapest retrieval index there is; this query is the number
    that says whether it is USABLE on this corpus — the 1-bit counterpart
    of embedding_int8_quantization's reconstruction-error audit and
    ann_recall_report's index grading.

    Exactness: sign bits compare doubles to zero (exact on both engines);
    codes are exact BIGINTs, Hamming is bit_count over xor (integer);
    cosine follows the knn contract (6-decimal round, neighbor_id
    tiebreak), so both rankings are total orders and agreement is an
    exact integer.

    Scale: codes are per-row map work; the strided query set is a
    broadcast against the corpus (the adjudicated exact-kNN kernel — at
    100 TB the Hamming side probes a multi-index/bucketed layout instead,
    and THIS query is run on an audit sample to pick the operating
    point). Like ann_recall_report's ground-truth subtree, the
    queries x corpus crossJoin refuses oversized corpora instead of
    hanging (dedup._assert_allpairs_bounded, same 5x GEMM-shaped cap)."""
    from pumle_spark.workload.dedup import _ALLPAIRS_MAX_VECS, _assert_allpairs_bounded

    _assert_allpairs_bounded(
        table(spark, sf_dir, "embeddings").count(),
        5 * _ALLPAIRS_MAX_VECS,
        "embedding_sign_hamming_agreement (queries x corpus agreement audit)",
        "ann_ivfpq_topk / ann_lsh_codes (the production retrieval paths)",
    )
    half = _DIM // 2
    e = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("v"))
    hi = F.expr(
        f"aggregate(sequence(0, {half - 1}), cast(0 as bigint),"
        f" (acc, i) -> acc + IF(v[i] > 0d, shiftleft(cast(1 as bigint), {half - 1} - i),"
        " cast(0 as bigint)))"
    )
    lo = F.expr(
        f"aggregate(sequence({half}, {_DIM - 1}), cast(0 as bigint),"
        f" (acc, i) -> acc + IF(v[i] > 0d, shiftleft(cast(1 as bigint), {_DIM - 1} - i),"
        " cast(0 as bigint)))"
    )
    codes = e.select(
        "vec_id", "v", hi.alias("hi"), lo.alias("lo")
    ).withColumn("nv", dot(F.col("v"), F.col("v")))
    q = codes.filter(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("hi").alias("qhi"),
        F.col("lo").alias("qlo"),
        F.col("nv").alias("nq"),
    )
    cos = dot(F.col("qv"), F.col("v")) / F.sqrt(F.col("nq") * F.col("nv"))
    scored = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.expr("qhi ^ hi")) + F.bit_count(F.expr("qlo ^ lo"))
            ).cast("bigint").alias("hamming"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w_h = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    # both ranks in ONE pass over scored: two Window sorts share the same
    # partitioning and one scan chain — no self-join, no recomputed lineage
    # (two separate top-k DataFrames joined back would scan the corpus twice)
    ranked = scored.select(
        "query_id",
        F.row_number().over(w_h).alias("rh"),
        F.row_number().over(w_c).alias("rc"),
    )
    hit = F.when((F.col("rh") <= _TOP_K) & (F.col("rc") <= _TOP_K), 1).otherwise(0)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_overlap"),
            F.expr(
                f"sum(CASE WHEN rh <= {_TOP_K} AND rc <= {_TOP_K} THEN 1 ELSE 0 END)"
                f" * 1000000 div {_TOP_K}"
            ).cast("bigint").alias("agreement_ppm"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion audit
# --------------------------------------------------------------------------

_JL_K = 16          # projected dimensionality (64 -> 16, 4x compression)
_JL_BUCKET = 50     # distortion-ratio histogram bucket width, milli-units

# Deterministic +-1 projection matrix (Achlioptas 2003 sign construction):
# sign(j, d) derives from one md5 per cell at module load and bakes into
# the query as LITERAL coefficients (the module's literal-table rule —
# transcendentals and RNG never cross the oracle boundary).
import hashlib as _hashlib

_JL_SIGNS = [
    [
        1 if int(_hashlib.md5(f"jl|{j}|{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
        for d in range(_DIM)
    ]
    for j in range(_JL_K)
]


def _jl_proj_sql(j: int, arr: str, base: int) -> str:
    """One projected coordinate as a literal +-sum over `arr` (index base
    0 for Spark subscripts, 1 for DuckDB lists)."""
    return " + ".join(
        f"({s}.0 * {arr}[{d + base}])" for d, s in enumerate(_JL_SIGNS[j])
    )


@register(
    "embedding_jl_distortion",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS pair_id,
             list_transform(range(1, {_DIM} + 1), i -> a.v[i] - b.v[i]) AS dd
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    ),
    dist AS (
      SELECT pair_id,
             list_sum(list_transform(dd, x -> x * x)) AS d_orig2,
             ({" + ".join(f"(({_jl_proj_sql(j, 'dd', 1)}) * ({_jl_proj_sql(j, 'dd', 1)}))" for j in range(_JL_K))})
               / {_JL_K}.0 AS d_proj2
      FROM pairs
    ),
    r AS (
      SELECT pair_id, ROUND(d_proj2 / d_orig2, 6) AS ratio
      FROM dist WHERE d_orig2 > 0
    ),
    b AS (
      SELECT CAST(FLOOR(ratio * 1000 / {_JL_BUCKET}) * {_JL_BUCKET} AS BIGINT)
               AS bucket_milli,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM r GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n FROM b)
    SELECT bucket_milli, n_pairs,
           CAST(n_pairs * 1000000 // tot.n AS BIGINT) AS share_ppm
    FROM b, tot
    ORDER BY bucket_milli
    """,
    tags=("embedding", "jl", "projection", "audit"),
)
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit for +-1 random projection
    (Achlioptas 2003, the database-friendly JL construction): project the
    {_DIM}-dim embeddings to {_JL_K} dims with a deterministic literal
    sign matrix and report the histogram of squared-distance ratios
    ||Px-Py||^2 / (k^-1-scaled) vs ||x-y||^2 over a linear pair sample —
    the acceptance test a pipeline runs BEFORE swapping an index or
    clustering stage onto projected vectors (the dimensionality-reduction
    counterpart of embedding_int8_quantization's scalar-quantization
    audit and embedding_sign_hamming_agreement's 1-bit audit).

    The linearity move: distortion needs distances BETWEEN projections,
    but P is linear, so ||Px - Py|| = ||P(x - y)|| — each pair projects
    its DIFFERENCE vector once ({_JL_K} literal +-sums over {_DIM}
    terms, pure codegen arithmetic, no per-row hashing: the sign matrix
    derives from md5 at module load and ships as literals, the module's
    literal-table rule). Pairs are the consecutive-id sample — a keyed
    equi-join on vec_id + 1, LINEAR in the corpus, never the quadratic
    all-pairs shape (the knn family's refusal-guarded kernels exist for
    that). Ratios quantize ONCE (round 6) before bucketing; buckets,
    counts, and shares are exact BIGINT arithmetic.

    Scale: map work per pair + one bounded-cardinality groupBy (the
    histogram has O(1/{_JL_BUCKET}-milli) buckets); the share denominator
    is a single-row broadcast onto the bucket rows (plan_lint class a).
    Reference: no embedding surface in the reference repo (SURVEY §2.13
    beyond-reference family)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("v"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("w"))
    pairs = e.join(b, "vec_id").select(
        F.col("vec_id").alias("pair_id"),
        F.zip_with("v", "w", lambda x, y: x - y).alias("dd"),
    )
    d_proj2 = (
        "("
        + " + ".join(
            f"(({_jl_proj_sql(j, 'dd', 0)}) * ({_jl_proj_sql(j, 'dd', 0)}))"
            for j in range(_JL_K)
        )
        + f") / {_JL_K}.0"
    )
    dist = pairs.select(
        "pair_id",
        F.aggregate(
            F.transform("dd", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        ).alias("d_orig2"),
        F.expr(d_proj2).alias("d_proj2"),
    )
    r = dist.filter(F.col("d_orig2") > 0).select(
        "pair_id", F.round(F.col("d_proj2") / F.col("d_orig2"), 6).alias("ratio")
    )
    buckets = r.groupBy(
        F.expr(f"CAST(FLOOR(ratio * 1000 / {_JL_BUCKET}) * {_JL_BUCKET} AS BIGINT)").alias(
            "bucket_milli"
        )
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    tot = buckets.agg(F.sum("n_pairs").cast("bigint").alias("n"))
    return (
        buckets.crossJoin(F.broadcast(tot))
        .select(
            "bucket_milli",
            "n_pairs",
            F.expr("n_pairs * 1000000 div n").cast("bigint").alias("share_ppm"),
        )
        .orderBy("bucket_milli")
    )
