"""Similarity-search operators over embedding columns (array<float>).

- cosine_topk: exact brute force (broadcast queries × corpus) — correctness
  baseline and the right answer when |queries| is small.
- cosine_topk_pandas: the same computed per-partition with NumPy matrix
  multiplication via mapInPandas — the wide-batch fast path (Arrow batches,
  BLAS dot products) when |queries| is large enough that per-row JVM
  expression evaluation loses.
- lsh_bucket_codes + lsh_topk: random-hyperplane LSH — the 100 TB path:
  candidates only from matching buckets (optionally multi-probe by flipping
  one bit), then exact rerank on candidates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from pumle_spark.functions.vectors import as_double, dot


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine: (query_id, neighbor_id, cos_sim, rnk)."""
    e = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("v"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    cos = dot(F.col("qv"), F.col("v")) / F.sqrt(
        dot(F.col("qv"), F.col("qv")) * dot(F.col("v"), F.col("v"))
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def cosine_topk_pandas(
    corpus: DataFrame,
    query_vectors: dict[int, list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k with NumPy GEMM per Arrow batch (mapInPandas),
    then a global re-rank: per-partition top-k → union → exact top-k.

    The per-batch candidate cut means only |partitions|·k·|queries| rows hit
    the final shuffle instead of |corpus|·|queries|.
    """
    qids = sorted(query_vectors)
    qmat = np.array([query_vectors[q] for q in qids], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def batch_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            sims = (mat @ qmat.T) / (
                np.linalg.norm(mat, axis=1)[:, None] * qnorm[None, :] + 1e-300
            )
            out = []
            for qi, qid in enumerate(qids):
                col = sims[:, qi]
                mask = ids != qid
                cand_idx = np.argsort(-col[mask])[:k]
                cids = ids[mask][cand_idx]
                out.append(
                    pd.DataFrame(
                        {"query_id": qid, "neighbor_id": cids, "cos_sim": col[mask][cand_idx]}
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = corpus.select(id_col, vec_col).mapInPandas(
        batch_topk, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return partial.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# --------------------------------------------------------------------------
# IVF (inverted-file) coarse quantization + probe
# --------------------------------------------------------------------------


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine: (id,
    centroid_id). centroids: (centroid_id, embedding). The assignment is a
    broadcast crossJoin + per-key argmax — per-row map work; at scale the
    corpus is then repartitioned/bucketed by centroid_id (the 'inverted
    file')."""
    e = corpus.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v")).withColumn(
        "vn", dot(F.col("v"), F.col("v"))
    )
    c = centroids.select(
        F.col("centroid_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", dot(F.col("cv"), F.col("cv")))
    sim = dot(F.col("v"), F.col("cv")) / F.sqrt(F.col("vn") * F.col("cn"))
    scored = e.crossJoin(F.broadcast(c)).select("id", "centroid_id", sim.alias("sim"))
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "centroid_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-ANN: corpus pre-assigned to centroids; each query probes its
    n_probe nearest centroid lists and exact-reranks ONLY those candidates
    — candidate count drops from |corpus| to ~|corpus|·n_probe/K.
    """
    assignments = ivf_assign(corpus, centroids, id_col, vec_col).withColumnRenamed(
        "id", "neighbor_id"
    )
    # query → its n_probe nearest centroids
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")).withColumn(
        "qn", dot(F.col("qv"), F.col("qv"))
    )
    c = centroids.select("centroid_id", as_double(vec_col).alias("cv")).withColumn(
        "cn", dot(F.col("cv"), F.col("cv"))
    )
    qsim = dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("qn") * F.col("cn"))
    wq = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(c))
        .select("query_id", "centroid_id", qsim.alias("qsim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "centroid_id")
    )
    cand = probes.join(assignments, "centroid_id").select("query_id", "neighbor_id")

    e = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("v")).withColumn(
        "vn", dot(F.col("v"), F.col("v"))
    )
    cos = dot(F.col("qv"), F.col("v")) / F.sqrt(F.col("qn") * F.col("vn"))
    scored = (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .join(e, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# --------------------------------------------------------------------------
# LSH
# --------------------------------------------------------------------------


def hyperplane_weights(dim: int, n_planes: int = 8) -> list:
    """Deterministic md5-derived hyperplane weights as plain Python floats
    (same derivation as workload.similarity's oracle) — for call sites that
    unroll the projection into literal codegen arithmetic (r11, guide §4)."""
    import hashlib

    rows = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2000001 - 1000000) / 1e6)
        rows.append(row)
    return rows


def hyperplanes(dim: int, n_planes: int = 8) -> F.Column:
    """Deterministic md5-derived hyperplanes as a literal array-of-arrays
    column (same derivation as workload.similarity's oracle)."""
    return F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in hyperplane_weights(dim, n_planes)]
    )


def lsh_bucket_codes(
    df: DataFrame, dim: int, n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, bucket_code): sign-bit code over n_planes hyperplanes — a pure
    per-row map (no shuffle)."""
    planes = hyperplanes(dim, n_planes)
    v = as_double(vec_col)
    code = F.lit(0)
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(planes.getItem(p), v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        code = code + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.select(F.col(id_col).alias("id"), code.cast("int").alias("bucket_code"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates = same bucket (plus 1-bit-flip probes), exact
    cosine rerank on candidates only."""
    c_codes = lsh_bucket_codes(corpus, dim, n_planes, id_col, vec_col).withColumnRenamed(
        "id", "neighbor_id"
    )
    q_codes = lsh_bucket_codes(queries, dim, n_planes, id_col, vec_col).withColumnRenamed(
        "id", "query_id"
    )
    if multiprobe:
        probes = [F.col("bucket_code").cast("int")] + [
            F.expr(f"cast(bucket_code ^ {1 << p} as int)") for p in range(n_planes)
        ]
        q_codes = q_codes.select(
            "query_id", F.explode(F.array(*probes)).alias("bucket_code")
        )
    cand = q_codes.join(c_codes, "bucket_code").select("query_id", "neighbor_id").distinct()

    e = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("v"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    cos = dot(F.col("qv"), F.col("v")) / F.sqrt(
        dot(F.col("qv"), F.col("qv")) * dot(F.col("v"), F.col("v"))
    )
    scored = (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .join(e, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
