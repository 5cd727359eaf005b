"""Deduplication operators over the `documents` table (driver north-star:
LLM-training-data pipeline ops as first-class engine components).

All variants share one tokenization (lower → strip non-alnum → split on
whitespace) expressed identically in Spark and in the DuckDB oracle.

Scale design:
- exact dedup: hash-groupBy on md5(text) — one shuffle on a 32-byte key,
  never on the document body.
- n-gram Jaccard: the all-pairs shingle self-join is the CORRECTNESS
  baseline; its cost is Σ_sh c_sh² and explodes on hot shingles. The scale
  path is MinHash+LSH below, which replaces the all-pairs join with a
  band-bucket join whose cost is Σ_bucket c².
- MinHash/LSH: signatures are per-doc (embarrassingly parallel map), the
  only shuffle is the bucket join on (band, key).
- SimHash: 32-bit signature per doc via bitwise md5 folding; pair search is
  a Hamming-ball join implemented in pumle_spark.operators.dedup (pytest-
  covered); the query here validates the signature computation itself.

No Python UDFs anywhere — md5/bit-math/array ops are all JVM expressions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.tables import table
from pumle_spark.workload import register

# shared tokenization -------------------------------------------------------

# DuckDB needs the 'g' flag for global regexp_replace; Spark is global by default.
_SQL_TOKENS = "string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"


def _tokens_col():
    # single tokenizer definition for the whole engine
    from pumle_spark.operators.dedup import normalize_text

    return normalize_text("text")


_SQL_SHINGLES = f"""
    toks AS (
      SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
      FROM (SELECT doc_id, {_SQL_TOKENS} AS ws FROM documents)
    ),
    sh3 AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               w || ' ' || LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
        FROM toks)
      WHERE sh IS NOT NULL
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh3 GROUP BY doc_id)
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles per document: (doc_id, sh) — delegates
    to operators.dedup.shingles (one explode of each doc's distinct shingle
    array)."""
    from pumle_spark.operators.dedup import shingles

    docs = table(spark, sf_dir, "documents")
    return shingles(docs, "doc_id").withColumnRenamed("key", "doc_id")


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh_set, n_sh): each document's DISTINCT word-3-gram shingle
    set as ONE per-row array expression, pinned. Docs with no shingle
    (< 3 tokens) are dropped — identical to the exploded form, which never
    emits a row for them. n_sh is the exact distinct-shingle count (sizes
    twin), so consumers need no groupBy to recover it.

    The round-robin repartition is the repo's standing idiom for CPU-bound
    per-char kernels (text_fingerprint_winnow's class): the tokenize +
    shingle + md5 pass dwarfs one shuffle of the raw text, and a small-file
    scan otherwise pins the whole kernel to its single scan partition
    (measured r11: the entire minhash chain ran on 1 task)."""
    from pumle_spark.operators.dedup import _NORM_SQL

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    parts = ", ".join(f"t[i + {d}]" for d in range(3))
    sh_set = F.expr(
        f"transform(array({_NORM_SQL.format(col='text')}), "
        f"t -> CASE WHEN size(t) >= 3 THEN "
        f"array_distinct(transform(sequence(0, size(t) - 3), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE cast(array() as array<string>) END)[0]"
    )
    return (
        docs.select("doc_id", sh_set.alias("sh_set"))
        .withColumn("n_sh", F.size("sh_set").cast("bigint"))
        .filter(F.col("n_sh") > 0)
        # pin: every consumer branch re-runs the tokenize + shingle pass without it (PERF.md "Pins")
        .localCheckpoint(eager=True)
    )


def _minhash_sig_cols(arr: str, n_hashes: int) -> list:
    """Per-row minhash signature columns mh0..mh{n-1} over a shingle-array
    column — the map-side twin of operators.dedup.minhash_signatures (same
    hash family: four 32-bit slices per md5('d|'||sh) digest; min over the
    per-doc distinct set ≡ the groupBy MIN over exploded rows). The digest
    array binds to lambda var g via transform(array(...), g -> ...)[0] so
    md5 runs ONCE per (digest, shingle), not once per slice."""
    structs = []
    for d in range((n_hashes + 3) // 4):
        inner = ", ".join(
            f"array_min(transform(g, x -> substring(x, {1 + 8 * i}, 8))) AS mh{4 * d + i}"
            for i in range(4)
            if 4 * d + i < n_hashes
        )
        structs.append(
            F.expr(
                f"transform(array(transform({arr}, s -> md5(concat('{d}|', s)))), "
                f"g -> struct({inner}))[0]"
            ).alias(f"_dig{d}")
        )
    return structs


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    sql="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup", "X3"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: hash-groupBy keeping min doc_id.

    Same idempotence primitive as the reference's INSERT OR IGNORE on the
    sim_hash PK (db.py:25-28, X3): identical content → one surviving key.
    The shuffle key is the 32-char md5, not the document body.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_exact_normalized",
    sql=f"""
    SELECT md5(array_to_string({_SQL_TOKENS}, ' ')) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization (lower/strip-punct/collapse-ws) —
    catches trivially-reformatted duplicates exact hashing misses."""
    docs = table(spark, sf_dir, "documents")
    norm = F.array_join(_tokens_col(), " ")
    return (
        docs.select(F.md5(norm).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (all-pairs baseline)
# --------------------------------------------------------------------------

_JACCARD_MIN = 0.05
_INTER_MIN = 2

# Budget guards for the labeled all-pairs baselines (round-5 verdict item:
# a naive scale-up of the REGISTRY must fail fast, not hang). The caps are
# input-row counts — cheap to check (parquet metadata count, no scan) and
# the honest proxy for the quadratic blow-up these baselines pay. sf1
# (≈50k docs / ≈20k vectors) sits at the boundary the sf-probes measured:
# docs-side baselines still finish there; the vector crossJoin does not.
import os as _os

_ALLPAIRS_MAX_DOCS = int(_os.environ.get("SPARK_GRAFT_ALLPAIRS_MAX_DOCS", "100000"))
_ALLPAIRS_MAX_VECS = int(_os.environ.get("SPARK_GRAFT_ALLPAIRS_MAX_VECS", "10000"))


def _assert_allpairs_bounded(n: int, cap: int, what: str, twin: str) -> None:
    """Refuse an all-pairs correctness baseline on oversized input: the
    quadratic subtree IS the semantics of these queries, so past the cap
    they don't degrade — they hang. The production twin is the scale path;
    the env caps (SPARK_GRAFT_ALLPAIRS_MAX_DOCS / _VECS) stay overridable
    for deliberate large truth runs."""
    if n > cap:
        raise RuntimeError(
            f"{what} refused: {n} input rows exceed the all-pairs budget ({cap}). "
            f"This is the labeled correctness baseline — at this scale run {twin}, "
            "or raise the SPARK_GRAFT_ALLPAIRS_MAX_* budget explicitly."
        )


@register(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH {_SQL_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh3 a JOIN sh3 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           ROUND(CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common), 4) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_common >= {_INTER_MIN}
      AND CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) >= {_JACCARD_MIN}
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard similarity (all-pairs baseline).

    shingle → self-equi-join on shingle → |A∩B| via count, |A∪B| from per-doc
    sizes. Correct but quadratic in hot shingles — dedup_minhash_lsh is the
    100 TB path; this one is the oracle for it. Refuses inputs past the
    all-pairs budget instead of hanging (_assert_allpairs_bounded).
    """
    _assert_allpairs_bounded(
        table(spark, sf_dir, "documents").count(),
        _ALLPAIRS_MAX_DOCS,
        "dedup_ngram_jaccard (Σc² shingle self-join)",
        "dedup_prefix_filter_jaccard or dedup_minhash_lsh",
    )
    # r11: the shingle construction is checkpointed once (guide §2.4) — the
    # self-join's two sides and the sizes branch otherwise each re-ran the
    # tokenize+shingle pass from the scan (3 scans in the before-plan). The
    # labeled-quadratic self-join itself is the query's semantics and stays.
    dsh = _shingle_sets(spark, sf_dir)
    sh = dsh.select("doc_id", F.explode("sh_set").alias("sh"))
    sizes = dsh.select("doc_id", "n_sh")
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    pairs = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((F.col("n_common") >= _INTER_MIN) & (jac >= _JACCARD_MIN))
        .select("doc_a", "doc_b", "n_common", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH (banding) — the scale path
# --------------------------------------------------------------------------

_N_HASHES = 8  # minhash signature length
_N_BANDS = 4  # 4 bands × 2 rows


@register(
    "dedup_minhash_lsh",
    sql=f"""
    WITH {_SQL_SHINGLES},
    mh AS (                               -- minhash: min over md5(seed|shingle)
      SELECT doc_id, seed,
             -- four 32-bit hashes per md5 digest (seed//4 picks the digest,
             -- seed%4 the slice) — same family as the Spark side
             MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh),
                        1 + 8 * (seed % 4), 8)) AS mhash
      FROM sh3 CROSS JOIN generate_series(0, {_N_HASHES - 1}) s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (                            -- band key = md5 of the band's rows
      SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
             md5(string_agg(CAST(seed AS VARCHAR) || ':' || mhash, '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY doc_id, seed // 2
    ),
    cand AS (                             -- bucket join: same (band, key)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh3 a ON a.doc_id = c.doc_a
      JOIN sh3 b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY 1, 2
    )
    SELECT v.doc_a, v.doc_b,
           ROUND(CAST(v.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_common), 4) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_a
    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE CAST(v.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_common) >= {_JACCARD_MIN}
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection (shingle → minhash → band →
    bucket-join → verify).

    The minhash family packs four 32-bit hashes per digest:
    h_i(s) = substr(md5(i//4|s), 1+8*(i%4), 8), min over the fixed-width
    hex slice — engine-portable and deterministic, no RNG state to ship,
    and one md5 per shingle serves four signature rows.
    {_N_HASHES} hashes in {_N_BANDS} bands of 2: candidate recall ≈
    1-(1-j²)⁴. Only candidates are verified with the exact Jaccard, so the
    quadratic step runs on buckets, not the corpus.
    """
    from pumle_spark.operators.dedup import lsh_band_keys

    # r11 optimization-round rework (guide §2.3/§2.4), value-identical:
    # - the shingle relation is built ONCE as a per-doc array (_shingle_sets);
    # - the minhash signature is a map-side projection over that array
    #   (same hash family, min over the same distinct set) instead of an
    #   explode + groupBy(key) shuffle of |shingles| rows;
    # - verification is size(array_intersect(sh_a, sh_b)) per candidate
    #   pair instead of candidate⋈shingles⋈shingles + regroup — two fewer
    #   keyed shuffles, and the shingle payload crosses the network once
    #   per candidate side instead of once per matching shingle row.
    dsh = _shingle_sets(spark, sf_dir)  # (doc_id, sh_set, n_sh)
    sig = (
        dsh.select("doc_id", *_minhash_sig_cols("sh_set", _N_HASHES))
        .select(
            F.col("doc_id").alias("key"),
            *[F.col(f"_dig{s // 4}.mh{s}").alias(f"mh{s}") for s in range(_N_HASHES)],
        )
        # pin: both band-join sides re-run the md5-per-shingle pass without it (PERF.md "Pins")
        .localCheckpoint(eager=True)
    )
    bands = lsh_band_keys(sig, _N_HASHES, rows_per_band=2).withColumnRenamed("key", "doc_id")
    ba = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        ba.join(bb, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = dsh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    db = dsh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", n_common.alias("n_common"), "n_a", "n_b")
    )
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        verified.filter(jac >= _JACCARD_MIN)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# Full MinHash → LSH bands → verify → transitive-closure CTE chain, shared
# with workload.curation (dedup_cluster_keep_best extends the same clusters
# with a retention decision — the oracles must agree on what a cluster IS).
_SQL_COMPONENT_CHAIN = f"""{_SQL_SHINGLES},
    mh AS (
      SELECT doc_id, seed,
             -- four 32-bit hashes per md5 digest (seed//4 picks the digest,
             -- seed%4 the slice) — same family as the Spark side
             MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh),
                        1 + 8 * (seed % 4), 8)) AS mhash
      FROM sh3 CROSS JOIN generate_series(0, {_N_HASHES - 1}) s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
             md5(string_agg(CAST(seed AS VARCHAR) || ':' || mhash, '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY doc_id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh3 a ON a.doc_id = c.doc_a
      JOIN sh3 b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY 1, 2
    ),
    vpairs AS (
      SELECT v.doc_a, v.doc_b
      FROM verified v
      JOIN sizes sa ON sa.doc_id = v.doc_a
      JOIN sizes sb ON sb.doc_id = v.doc_b
      WHERE CAST(v.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_common) >= {_JACCARD_MIN}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM vpairs
      UNION
      SELECT doc_b, doc_a FROM vpairs
    ),
    walk AS (                      -- transitive closure of reachable labels
      SELECT src AS key, src AS comp FROM edges
      UNION
      SELECT e.dst AS key, w.comp FROM walk w JOIN edges e ON e.src = w.key
    ),
    comp AS (SELECT key AS doc_id, MIN(comp) AS cluster_id FROM walk GROUP BY key)"""


@register(
    "dedup_minhash_clusters",
    sql=f"""
    WITH RECURSIVE {_SQL_COMPONENT_CHAIN}
    SELECT c.doc_id, c.cluster_id, s.n_docs, c.doc_id = c.cluster_id AS is_keeper
    FROM comp c
    JOIN (SELECT cluster_id, COUNT(*) AS n_docs FROM comp GROUP BY 1) s
      ON s.cluster_id = c.cluster_id
    """,
    tags=("dedup", "minhash", "lsh", "components"),
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: the MinHash+LSH verified pairs collapse
    into connected components (cluster_id = min doc_id in the component;
    is_keeper marks the canonical survivor). This is the pipeline's actual
    deliverable — "keep doc X, drop {Y,Z}" needs components, not pairs.

    Spark side: iterative min-label propagation
    (operators.dedup.connected_components, one shuffle per round,
    O(diameter) rounds). Oracle side: DuckDB recursive-CTE transitive
    closure — same fixpoint, different engine idiom.
    """
    from pumle_spark.operators.dedup import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("key").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_docs",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

_COS_DUP_MIN = 0.4


@register(
    "dedup_embedding_cosine",
    sql=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= {_COS_DUP_MIN}
    """,
    tags=("dedup", "embedding", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a<b) pairs with cosine ≥
    {_COS_DUP_MIN} (semantic dedup over an embedding column).

    This all-pairs form is the correctness baseline; the scale path buckets
    by LSH code first (operators.similarity.lsh_topk candidates), turning
    O(n²) into Σ_bucket c².

    Plan note (measured, sf0.1 / 2M pairs): the dot product is UNROLLED
    over flattened element columns (Σ aᵢ·bᵢ as a codegen'd arithmetic
    chain) instead of a zip_with+aggregate fold — higher-order-function
    lambdas evaluate interpreted per pair and cost 2× here (13.8s → 6.7s).
    The chain adds terms in the same left-to-right order as the fold, so
    values stay bit-identical to DuckDB's list_cosine_similarity. Refuses
    inputs past the all-pairs budget instead of hanging
    (_assert_allpairs_bounded).
    """
    dim = 64
    _assert_allpairs_bounded(
        table(spark, sf_dir, "embeddings").count(),
        _ALLPAIRS_MAX_VECS,
        "dedup_embedding_cosine (n² crossJoin)",
        "dedup_embedding_lsh",
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        *[F.element_at("embedding", i + 1).cast("double").alias(f"x{i}") for i in range(dim)],
    )
    sq = F.lit(0.0)
    for i in range(dim):
        sq = sq + F.col(f"x{i}") * F.col(f"x{i}")
    e = e.withColumn("nrm", sq)
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        *[F.col(f"x{i}").alias(f"a{i}") for i in range(dim)],
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        *[F.col(f"x{i}").alias(f"b{i}") for i in range(dim)],
        F.col("nrm").alias("nb"),
    )
    dot = F.lit(0.0)
    for i in range(dim):
        dot = dot + F.col(f"a{i}") * F.col(f"b{i}")
    cos = dot / F.sqrt(F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= _COS_DUP_MIN)
        .select("vec_a", "vec_b", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# SimHash signature (32-bit)
# --------------------------------------------------------------------------


@register(
    "dedup_simhash32",
    sql=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents)
      WHERE w <> ''
    ),
    bits AS (
      SELECT t.doc_id, b.bit,
             SUM(CASE WHEN (('0x' || substr(md5(t.w), 1, 8))::UBIGINT >> b.bit) & 1 = 1
                      THEN 1 ELSE -1 END) AS weight
      FROM toks t CROSS JOIN generate_series(0, 31) b(bit)
      GROUP BY t.doc_id, b.bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN weight > 0 THEN CAST(power(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash32
    FROM bits
    GROUP BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-token md5-derived bits vote ±1 per
    position; the sign vector is the signature.

    Signature computation is a pure map + one groupBy(doc) — scales linearly.
    Near-dup retrieval (Hamming ≤ k via rotated-prefix blocking) lives in
    pumle_spark.operators.dedup.
    """
    docs = table(spark, sf_dir, "documents")
    # r11: two fixes, zero exchanges kept (an explode+groupBy(doc) codegen
    # variant was tried and measured 2x SLOWER locally — 0.69→1.40 s probe —
    # the per-doc fold over ~40 hashes beats materializing 32 vote columns
    # through an aggregate).
    # (1) the size(hs)>0 post-filter pushdown re-evaluated the whole
    #     tokenize+md5 chain a second time per row; a doc has a nonempty
    #     token iff its normalized text trims nonempty, so the cheap
    #     regex-only predicate filters BEFORE hs is built (same rows kept —
    #     tokenless docs are absent in the oracle too).
    # (2) round-robin repartition: the standing idiom for CPU-bound kernels
    #     over the single-row-group fixture (see _shingle_sets) — without it
    #     the tokenize+md5+fold pass pins to the scan's one task.
    docs = docs.repartition(spark.sparkContext.defaultParallelism).filter(
        F.expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')) != ''")
    )
    hs = docs.select("doc_id", _tokens_col().alias("ws")).select(
        "doc_id",
        F.expr(
            "transform(array_distinct(filter(ws, w -> w != '')), "
            "w -> cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint))"
        ).alias("hs"),
    )
    bit_terms = " + ".join(
        f"(CASE WHEN aggregate(hs, 0L, (acc, h) -> acc + (shiftright(h, {j}) & 1) * 2 - 1) > 0 "
        f"THEN {1 << j}L ELSE 0L END)"
        for j in range(32)
    )
    return hs.select("doc_id", F.expr(bit_terms).cast("bigint").alias("simhash32"))


# --------------------------------------------------------------------------
# connected components via Spark's OWN recursive CTE (engine-surface twin)
# --------------------------------------------------------------------------

# ≥ any LSH cluster diameter; truncation would fail the oracle. Cost model:
# UNION ALL recursion enumerates WALKS, not reachability, so level-L work is
# O(Σ_component c·(c-1)^L) — fine for LSH clusters (measured max size 4 at
# sf0.1), exponential on large cliques; that asymmetry is exactly why the
# DataFrame min-label loop stays the production operator.
_RC_MAX_DEPTH = 8

# Fail-fast budget for the recursive walk: UNION ALL recursion enumerates
# walks, so total level-L rows are bounded by n_sym_edges * max_degree^(L-1).
# A modestly larger LSH cluster (clique of ~20 → ~10^10 walks) would hang
# the job rather than fail the gate; refuse it upfront instead.
_RC_WALK_BUDGET = 100_000_000


def _assert_walk_bounded(pairs) -> None:
    """Cheap degree-based pre-check over the (tiny, checkpointed) verified
    pair list: refuse to start the recursive closure if the worst-case walk
    count exceeds _RC_WALK_BUDGET. Degree is a one-pass proxy for component
    size (the size itself needs the closure we're guarding)."""
    from pyspark.sql import functions as F  # noqa: PLC0415 — local to keep module import light

    sym = pairs.select(F.col("doc_a").alias("s")).unionAll(
        pairs.select(F.col("doc_b").alias("s"))
    )
    row = sym.groupBy("s").count().agg(
        F.max("count").alias("max_deg"), F.sum("count").alias("n_dir_edges")
    ).collect()[0]
    if row.max_deg is None:
        return
    est = int(row.n_dir_edges) * int(row.max_deg) ** (_RC_MAX_DEPTH - 1)
    if est > _RC_WALK_BUDGET:
        raise RuntimeError(
            f"recursive component walk refused: {row.n_dir_edges} edges with "
            f"max degree {row.max_deg} bound ~{est:.2e} level-{_RC_MAX_DEPTH} "
            f"walks (> budget {_RC_WALK_BUDGET:.0e}); use the pointer-jumping "
            "connected_components operator for graphs this dense"
        )


@register(
    "dedup_clusters_recursive_sql",
    sql=f"""
    WITH RECURSIVE {_SQL_COMPONENT_CHAIN}
    SELECT c.doc_id, c.cluster_id, s.n_docs, c.doc_id = c.cluster_id AS is_keeper
    FROM comp c
    JOIN (SELECT cluster_id, COUNT(*) AS n_docs FROM comp GROUP BY 1) s
      ON s.cluster_id = c.cluster_id
    """,
    tags=("dedup", "recursive-cte", "components"),
)
def dedup_clusters_recursive_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME near-dup clusters as dedup_minhash_clusters, but the
    transitive closure runs through Spark 4's native WITH RECURSIVE over
    the verified pair graph — a three-way agreement: DataFrame min-label
    loop (operators/dedup.connected_components), Spark recursive SQL
    (this query), and DuckDB recursive SQL (the oracle) must all produce
    the identical clustering.

    Engine-surface note: Spark's recursive CTE only accepts UNION ALL (no
    per-step dedup), so the unguarded closure would cycle forever on a
    symmetric edge list; the walk therefore carries a level counter capped
    at {_RC_MAX_DEPTH} — sound because LSH-verified components have tiny
    diameters, and UNSOUND truncation cannot pass silently: the oracle's
    run-to-fixpoint closure would hash-mismatch. For unbounded-diameter
    graphs the pointer-jumping operator with localCheckpoint per round is
    the scale path; this query pins the ENGINE SURFACE, not a new
    algorithm."""
    # pin: the bound check and the recursive walk both read the pairs (PERF.md "Pins")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint(eager=True)
    _assert_walk_bounded(pairs)
    pairs.createOrReplaceTempView("__rc_vpairs")
    return spark.sql(f"""
        WITH RECURSIVE edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM __rc_vpairs
          UNION
          SELECT doc_b, doc_a FROM __rc_vpairs
        ),
        walk AS (
          SELECT src AS key, src AS comp, 0 AS lvl FROM edges
          UNION ALL
          SELECT e.dst, w.comp, w.lvl + 1
          FROM walk w JOIN edges e ON e.src = w.key
          WHERE w.lvl < {_RC_MAX_DEPTH}
        ),
        comp AS (SELECT key AS doc_id, MIN(comp) AS cluster_id FROM walk GROUP BY key)
        SELECT c.doc_id, c.cluster_id, s.n_docs, c.doc_id = c.cluster_id AS is_keeper
        FROM comp c
        JOIN (SELECT cluster_id, COUNT(*) AS n_docs FROM comp GROUP BY 1) s
          ON s.cluster_id = c.cluster_id
    """)


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style) — the exact scale path
# --------------------------------------------------------------------------

# Jaccard threshold t = 1/2 kept as an exact rational so every pruning and
# verification predicate is integer arithmetic, identical on both engines.
_PF_NUM, _PF_DEN = 1, 2


@register(
    "dedup_prefix_filter_jaccard",
    sql=f"""
    WITH {_SQL_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh3 a JOIN sh3 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           ROUND(CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common), 4) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE {_PF_DEN} * p.n_common >= {_PF_NUM} * (sa.n_sh + sb.n_sh - p.n_common)
    """,
    tags=("dedup", "jaccard", "prefix-filter"),
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with shingle-Jaccard >= {_PF_NUM}/{_PF_DEN}, found WITHOUT
    the all-pairs join: SSJoin/PPJoin prefix filtering.

    Order every document's shingles by global rarity (document frequency
    asc, shingle asc — a total order shared by all docs). If J(A,B) >= t
    then |A∩B| >= t·|A∩B ∪ ...| >= t·max(|A|,|B|), and by the prefix-
    filtering lemma the two prefixes of length n - ceil(t·n) + 1 under any
    shared total order must intersect — so joining only on PREFIX shingles
    loses no qualifying pair. Three further EXACT prunes run before
    verification:

    - size bound: J >= t forces {_PF_DEN}·min(n_a,n_b) >= {_PF_NUM}·max;
    - positional filter (PPJoin): if the matching token sits at rarity
      rank p in each doc, the overlap can never exceed
      min(n_a-p_a, n_b-p_b)+1, yet J >= t needs overlap >=
      ceil(t·(n_a+n_b)/(1+t)) — prune the occurrence when the bound can't
      reach it. Sound per pair because the FIRST common token's occurrence
      always satisfies the bound (every common token ranks at or after it
      in both docs), and that occurrence is always inside both prefixes.
    - verification by per-pair sorted-array intersection
      (size(array_intersect)) against each doc's full shingle array — a
      codegen-tight per-row merge instead of re-exploding candidates
      against the shingle table (measured at the replicated sf1 probe:
      the explode-and-count verify was 355 s for 31M candidates; the
      positional filter cuts the candidates and the array verify removes
      the billion-row join).

    All thresholds are integer arithmetic (t as the rational
    {_PF_NUM}/{_PF_DEN}), so Spark and the all-pairs DuckDB oracle agree
    bit-for-bit.

    Scale shape vs dedup_ngram_jaccard (the all-pairs baseline, cost
    Σ_sh c_sh²): the join key set shrinks to the RAREST ~half of each
    document's shingles, exactly the keys with the smallest c_sh — hot
    (stop-word-like) shingles never reach the join, so the quadratic term
    collapses and the shuffle carries prefix rows only. Unlike MinHash/LSH
    this path is EXACT — no recall loss — which is the trade a curation
    pipeline wants for a high-precision dedup sweep at 100 TB. On a corpus
    with large EXACT-duplicate clusters the true pair set itself is
    quadratic in cluster size (any exact pair-emitter pays it) — the
    production composition is dedup_exact first, this sweep second.
    """
    # r12 negative result (measured): deriving this query from the
    # _shingle_sets array front probed 2.84 -> 6.40 s (the cand bucket join
    # degraded BroadcastHashJoin -> SortMergeJoin on the Generate-inflated
    # size estimate and the prefix pass re-ran per side).
    sh = _shingles(spark, sf_dir)  # (doc_id, sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = F.col("n_sh") - F.expr(
        f"({_PF_NUM} * n_sh + {_PF_DEN} - 1) div {_PF_DEN}"
    ) + F.lit(1)
    ranked = (
        sh.join(freq, "sh")
        .withColumn("pos", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sh")))
        .join(sizes, "doc_id")
        .filter(F.col("pos") <= prefix_len)
    )
    pa = ranked.select(
        F.col("doc_id").alias("doc_a"), "sh", F.col("n_sh").alias("n_a"), F.col("pos").alias("p_a")
    )
    pb = ranked.select(
        F.col("doc_id").alias("doc_b"), "sh", F.col("n_sh").alias("n_b"), F.col("pos").alias("p_b")
    )
    # overlap upper bound from THIS occurrence vs the exact lower bound
    # alpha = ceil(NUM*(n_a+n_b)/(NUM+DEN)); integer comparison form.
    overlap_ub = F.least(F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b")) + 1
    cand = (
        pa.join(pb, "sh")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (_PF_DEN * F.least("n_a", "n_b") >= _PF_NUM * F.greatest("n_a", "n_b"))
            & ((_PF_NUM + _PF_DEN) * overlap_ub >= _PF_NUM * (F.col("n_a") + F.col("n_b")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    doc_sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("sh")).alias("shs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sets_a = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("n_sh").alias("n_a")
    )
    sets_b = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"), F.col("n_sh").alias("n_b")
    )
    n_common = F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint")
    union_sz = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("n_common", n_common)
        .filter(_PF_DEN * F.col("n_common") >= _PF_NUM * union_sz)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common").cast("double") / union_sz, 4).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Containment join (asymmetric set similarity) — prefix-filtered, exact
# --------------------------------------------------------------------------

# containment threshold t = 4/5: C(A,B) = |A∩B| / |A| >= 4/5
_CT_NUM, _CT_DEN = 4, 5


@register(
    "dedup_containment_pairs",
    sql=f"""
    WITH {_SQL_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh3 a JOIN sh3 b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           ROUND(CAST(p.n_common AS DOUBLE) / sa.n_sh, 4) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    WHERE {_CT_DEN} * p.n_common >= {_CT_NUM} * sa.n_sh
    """,
    tags=("dedup", "containment", "prefix-filter"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered pairs where document A's shingle set is >= {_CT_NUM}/{_CT_DEN}
    CONTAINED in document B — the asymmetric companion to Jaccard dedup:
    containment catches a truncated copy, a quote-with-commentary, or a
    template-with-insertions, which symmetric Jaccard under-scores when
    the sizes differ (|A∩B|/|A∪B| shrinks with |B| while |A∩B|/|A| does
    not). A curation pipeline drops A as subsumed when C(A,B) is high.

    Exact prefix filtering, containment variant: C(A,B) >= t forces
    |A∩B| >= ceil(t·|A|), so by the pigeonhole argument A's prefix of its
    n_a - ceil(t·n_a) + 1 RAREST shingles (global df order, as in
    dedup_prefix_filter_jaccard) must hit A∩B — but B is NOT prefix-
    restricted (containment puts no lower bound on |A∩B|/|B|), so
    candidates come from joining A-prefixes against B's FULL shingle set.
    Verification is the per-pair sorted-array intersection. All thresholds
    are integer arithmetic; the DuckDB oracle is the all-pairs join.

    Scale shape: the candidate join keys are A's rarest shingles only —
    the hot-shingle quadratic term collapses on the prefix side; the full
    side streams once through the equi-join. Directionality costs nothing:
    both orders of a pair emerge from the same join because every doc
    appears on both sides."""
    # r12 (guide §2.4): same _shingle_sets front-sharing as the Jaccard twin
    # one section up — one checkpointed array relation feeds the exploded
    # view, sizes, and the verify-side sorted arrays.
    dsh = _shingle_sets(spark, sf_dir)
    sh = dsh.select("doc_id", F.explode("sh_set").alias("sh"))
    sizes = dsh.select("doc_id", "n_sh")
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = F.col("n_sh") - F.expr(
        f"({_CT_NUM} * n_sh + {_CT_DEN} - 1) div {_CT_DEN}"
    ) + F.lit(1)
    pref_a = (
        sh.join(freq, "sh")
        .withColumn("pos", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sh")))
        .join(sizes, "doc_id")
        .filter(F.col("pos") <= prefix_len)
        .select(F.col("doc_id").alias("doc_a"), "sh")
    )
    full_b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    cand = (
        pref_a.join(full_b, "sh")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    doc_sets = dsh.select("doc_id", F.array_sort("sh_set").alias("shs"), "n_sh")
    sets_a = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("n_sh").alias("n_a")
    )
    sets_b = doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    n_common = F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint")
    return (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("n_common", n_common)
        .filter(_CT_DEN * F.col("n_common") >= _CT_NUM * F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common").cast("double") / F.col("n_a"), 4).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# blocking-quality report: LSH candidate set vs all-pairs truth
# --------------------------------------------------------------------------


def _signature_and_truth(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sizes, sig, truth) over the _shingle_sets front, shared by the two
    blocking-quality reports: per-doc shingle counts (doc_id, n_sh), the
    map-side MinHash signature (key, mh0..), and the all-pairs truth set
    (doc_a < doc_b, Jaccard ≥ _JACCARD_MIN) — the labeled quadratic
    grading subtree. All three are returned unpinned."""
    dsh = _shingle_sets(spark, sf_dir)
    sh = dsh.select("doc_id", F.explode("sh_set").alias("sh"))
    sizes = dsh.select("doc_id", "n_sh")
    sig = (
        dsh.select("doc_id", *_minhash_sig_cols("sh_set", _N_HASHES))
        .select(
            F.col("doc_id").alias("key"),
            *[F.col(f"_dig{s // 4}.mh{s}").alias(f"mh{s}") for s in range(_N_HASHES)],
        )
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    tpairs = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        tpairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .filter(
            F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
            >= _JACCARD_MIN
        )
        .select("doc_a", "doc_b")
    )
    return sizes, sig, truth


@register(
    "dedup_blocking_quality",
    sql=f"""
    WITH {_SQL_SHINGLES},
    mh AS (
      SELECT doc_id, seed,
             MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh),
                        1 + 8 * (seed % 4), 8)) AS mhash
      FROM sh3 CROSS JOIN generate_series(0, {_N_HASHES - 1}) s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
             md5(string_agg(CAST(seed AS VARCHAR) || ':' || mhash, '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY doc_id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    tpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh3 a JOIN sh3 b ON b.sh = a.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT t.doc_a, t.doc_b
      FROM tpairs t
      JOIN sizes sa ON sa.doc_id = t.doc_a
      JOIN sizes sb ON sb.doc_id = t.doc_b
      WHERE CAST(t.c AS DOUBLE) / (sa.n_sh + sb.n_sh - t.c) >= {_JACCARD_MIN}
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sizes),
    m AS (
      SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
             CAST((SELECT COUNT(*) FROM cand c
                   JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                  AS BIGINT) AS n_hits
    )
    SELECT nd.n_docs, m.n_truth, m.n_candidates, m.n_hits,
           ROUND(CASE WHEN m.n_truth = 0 THEN 1.0
                      ELSE CAST(m.n_hits AS DOUBLE) / m.n_truth END, 6)
             AS pair_completeness,
           ROUND(1.0 - CAST(m.n_candidates AS DOUBLE)
                       / (CAST(nd.n_docs AS DOUBLE) * (nd.n_docs - 1) / 2), 6)
             AS reduction_ratio
    FROM m CROSS JOIN nd
    """,
    tags=("dedup", "lsh", "blocking-quality", "grading"),
)
def dedup_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality report for the MinHash-LSH candidate generator:
    pair completeness (share of true ≥{_JACCARD_MIN}-Jaccard pairs the
    band buckets recall) and reduction ratio (share of the n·(n−1)/2
    pair space the blocking avoids) — the two numbers every entity-
    resolution paper reports, and the knob-tuning evidence for
    _N_HASHES/_N_BANDS. Honest-metrics posture as ann_recall_report: the
    production path's recall is MEASURED against an all-pairs truth pass
    that exists only for grading (the one quadratic subtree, labeled).

    Scale: candidates come from the Σc² band-bucket join (the scale
    path); truth is the labeled all-pairs baseline — on a real corpus
    the report runs on a small audit SAMPLE while the production dedup
    trusts the measured completeness. Single-row output, exact integer
    counts, two mirrored double divisions.
    """
    from pumle_spark.operators.dedup import lsh_band_keys

    _assert_allpairs_bounded(
        table(spark, sf_dir, "documents").count(),
        _ALLPAIRS_MAX_DOCS,
        "dedup_blocking_quality (all-pairs truth subtree)",
        "the blocked candidate generator alone (its completeness is what this grades)",
    )
    sizes, sig, truth = _signature_and_truth(spark, sf_dir)
    bands = lsh_band_keys(sig, _N_HASHES, rows_per_band=2).withColumnRenamed(
        "key", "doc_id"
    )
    ba = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        ba.join(bb, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    nd = sizes.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_hits = cand.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .crossJoin(F.broadcast(nd))
        .select(
            "n_docs",
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.when(F.col("n_truth") == 0, 1.0).otherwise(
                    F.col("n_hits").cast("double") / F.col("n_truth")
                ),
                6,
            ).alias("pair_completeness"),
            F.round(
                1.0
                - F.col("n_candidates").cast("double")
                / (F.col("n_docs").cast("double") * (F.col("n_docs") - 1) / 2),
                6,
            ).alias("reduction_ratio"),
        )
    )


# --------------------------------------------------------------------------
# incremental delta dedup against a maintained fingerprint index
# --------------------------------------------------------------------------

# near-dup containment threshold (rational, cross-multiplied — never divide):
# a delta doc is near-dup if some single existing doc holds >= NUM/DEN of the
# delta's fingerprints. Absolute counts (>= 3 shared) were measured useless
# here: every sf0.01 delta doc shares >= 9 fingerprints with SOME existing doc
# (8-char grams collide across generic prose), while planted near-dups sit at
# >= 0.85 containment vs <= 0.38 background — the ratio separates, the count
# does not.
_INC_NUM = 1
_INC_DEN = 2
_INC_MAXDF = 100  # drop stop-fingerprints present in more existing docs
_INC_GRAM = 8
_INC_WINNOW = 4


@register(
    "dedup_incremental_delta",
    sql=f"""
    WITH d AS (
      SELECT doc_id, array_to_string({_SQL_TOKENS}, ' ') AS norm,
             ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
               % 100 AS bucket
      FROM documents
    ),
    existing AS (SELECT doc_id, norm FROM d WHERE bucket < 90),
    delta AS (SELECT doc_id, norm FROM d WHERE bucket >= 90),
    exact_idx AS (SELECT DISTINCT md5(norm) AS ch FROM existing),
    grams_e AS (
      SELECT doc_id, pos, substr(md5(substr(norm, pos, {_INC_GRAM})), 1, 8) AS h
      FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, LENGTH(norm) - {_INC_GRAM - 1})) AS pos
            FROM existing)
    ),
    fp_e0 AS (
      SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_INC_WINNOW - 1} FOLLOWING) AS fp
      FROM grams_e
    ),
    hot AS (SELECT fp FROM fp_e0 GROUP BY fp HAVING COUNT(*) > {_INC_MAXDF}),
    fp_e AS (SELECT doc_id, fp FROM fp_e0 WHERE fp NOT IN (SELECT fp FROM hot)),
    grams_d AS (
      SELECT doc_id, pos, substr(md5(substr(norm, pos, {_INC_GRAM})), 1, 8) AS h
      FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, LENGTH(norm) - {_INC_GRAM - 1})) AS pos
            FROM delta)
    ),
    fp_d AS (
      SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_INC_WINNOW - 1} FOLLOWING) AS fp
      FROM grams_d
    ),
    fpd_sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM fp_d GROUP BY doc_id),
    shared AS (
      SELECT fd.doc_id, fe.doc_id AS e_doc, COUNT(*) AS n_shared
      FROM fp_d fd JOIN fp_e fe ON fe.fp = fd.fp
      GROUP BY fd.doc_id, fe.doc_id
    ),
    near AS (
      SELECT DISTINCT s.doc_id
      FROM shared s JOIN fpd_sizes z ON z.doc_id = s.doc_id
      WHERE {_INC_DEN} * s.n_shared >= {_INC_NUM} * z.nfp
    ),
    classed AS (
      SELECT dl.doc_id,
             CASE WHEN md5(dl.norm) IN (SELECT ch FROM exact_idx) THEN 'exact_dup'
                  WHEN dl.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
                  ELSE 'clean' END AS status
      FROM delta dl
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM classed GROUP BY status
    ORDER BY status
    """,
    tags=("dedup", "incremental", "fingerprint"),
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify a 10% DELTA of the corpus (the
    deterministic_split hash's top bucket — content-free, so the split is
    stable as the corpus grows) against the already-ingested 90% WITHOUT
    comparing existing docs to each other — the nightly-ingest economics:
    index once, probe deltas forever.

    A delta doc is 'exact_dup' if its normalized content hash exists in
    the corpus index, 'near_dup' if some SINGLE existing doc holds at
    least {_INC_NUM}/{_INC_DEN} of its winnow fingerprints
    (text_fingerprint_winnow's char-{_INC_GRAM}-gram /
    window-{_INC_WINNOW} scheme; containment compared by integer
    cross-multiplication), else 'clean'. Fingerprints present in more than {_INC_MAXDF} existing docs
    are dropped as stop-fingerprints — boilerplate would otherwise make
    the probe join quadratic on its hot keys, the standard mitigation in
    winnowing-based plagiarism/contamination systems.

    Scale: the exact index is a 16-byte hash per existing doc; the
    fingerprint index is sparse (≈ len/{_INC_WINNOW} entries/doc) and
    df-capped, so the delta probe join is bounded per fingerprint; the
    delta side is 10% of ingest. Nothing ever joins existing×existing.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    # repartition before the hash-heavy winnow map: fingerprinting is
    # CPU-bound per character, so byte-sized input splits under-parallelize
    # it (see text_fingerprint_winnow's note) — the raw-text shuffle is
    # cheaper than the gram-row shuffle the old window form forced.
    # pin: five consumers re-run the tokenize projection without it (PERF.md "Pins")
    d = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id", F.array_join(_tokens_col(), " ").alias("norm"), bucket.alias("bucket")
        )
        .withColumn("ch", F.md5("norm"))
        .localCheckpoint(eager=True)
    )
    existing = d.filter(F.col("bucket") < 90).select("doc_id", "norm")
    delta = d.filter(F.col("bucket") >= 90).select("doc_id", "norm")

    def winnow_fps(df: DataFrame) -> DataFrame:
        # map-side winnowing (let-binding array form): no gram explode, no
        # per-doc window shuffle, no distinct shuffle — see winnow_fp_array
        from pumle_spark.operators.dedup import winnow_fp_array

        return df.select(
            "doc_id",
            F.explode(winnow_fp_array(_INC_GRAM, _INC_WINNOW)).alias("fp"),
        )

    # pin: the stop-fingerprint census and the probe index both read it (PERF.md "Pins")
    fp_e0 = winnow_fps(existing).localCheckpoint(eager=True)
    hot = fp_e0.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") > _INC_MAXDF
    )
    fp_e = fp_e0.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    fp_d = winnow_fps(delta)

    fpd_sizes = fp_d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    near = (
        fp_d.join(
            fp_e.select(F.col("doc_id").alias("e_doc"), "fp"), "fp"
        )
        .groupBy("doc_id", "e_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(fpd_sizes, "doc_id")
        .filter(_INC_DEN * F.col("n_shared") >= _INC_NUM * F.col("nfp"))
        .select("doc_id")
        .distinct()
    )
    exact_idx = d.filter(F.col("bucket") < 90).select("ch").distinct()
    delta_h = d.filter(F.col("bucket") >= 90).select("doc_id", "ch")
    exact_docs = delta_h.join(exact_idx, "ch", "left_semi").select("doc_id")

    classed = (
        delta.select("doc_id")
        .join(exact_docs.withColumn("is_exact", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("is_near", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact") == 1, "exact_dup")
            .when(F.col("is_near") == 1, "near_dup")
            .otherwise("clean")
            .alias("status"),
        )
    )
    return (
        classed.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# LSH band/row tuning report: the config table for the 100 TB dedup run
# --------------------------------------------------------------------------

_TUNE_ROWS = (1, 2, 4)  # rows-per-band layouts over the same 8-hash signature


def _sql_tune_config(r: int) -> str:
    """Band + candidate CTEs for rows_per_band=r over the shared mh CTE —
    the same '{seed}:{mhash}|…' md5 band-key layout as
    operators.dedup.lsh_band_keys, regrouped by seed // r."""
    return f"""bands_r{r} AS (
      SELECT doc_id, CAST(seed // {r} AS INTEGER) AS band,
             md5(string_agg(CAST(seed AS VARCHAR) || ':' || mhash, '|' ORDER BY seed))
               AS band_key
      FROM mh GROUP BY doc_id, seed // {r}
    ),
    cand_r{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_r{r} a JOIN bands_r{r} b
        ON b.band = a.band AND b.band_key = a.band_key AND a.doc_id < b.doc_id
    ),
    m_r{r} AS (
      SELECT {r} AS rows_per_band, {_N_HASHES // r} AS n_bands,
             CAST((SELECT COUNT(*) FROM cand_r{r}) AS BIGINT) AS n_candidates,
             CAST((SELECT COUNT(*) FROM cand_r{r} c
                   JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                  AS BIGINT) AS n_hits
    )"""


@register(
    "dedup_lsh_tuning_report",
    sql=f"""
    WITH {_SQL_SHINGLES},
    mh AS (
      SELECT doc_id, seed,
             MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh),
                        1 + 8 * (seed % 4), 8)) AS mhash
      FROM sh3 CROSS JOIN generate_series(0, {_N_HASHES - 1}) s(seed)
      GROUP BY doc_id, seed
    ),
    tpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh3 a JOIN sh3 b ON b.sh = a.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT t.doc_a, t.doc_b
      FROM tpairs t
      JOIN sizes sa ON sa.doc_id = t.doc_a
      JOIN sizes sb ON sb.doc_id = t.doc_b
      WHERE CAST(t.c AS DOUBLE) / (sa.n_sh + sb.n_sh - t.c) >= {_JACCARD_MIN}
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
    {", ".join(_sql_tune_config(r) for r in _TUNE_ROWS)},
    m AS ({" UNION ALL ".join(f"SELECT * FROM m_r{r}" for r in _TUNE_ROWS)})
    SELECT CAST(m.rows_per_band AS INTEGER) AS rows_per_band,
           CAST(m.n_bands AS INTEGER) AS n_bands,
           nt.n_truth, m.n_candidates, m.n_hits,
           CAST(CASE WHEN nt.n_truth > 0
                     THEN m.n_hits * 1000000 // nt.n_truth ELSE 1000000 END
                AS BIGINT) AS completeness_ppm,
           CAST(1000000 - m.n_candidates * 1000000
                          // (nd.n_docs * (nd.n_docs - 1) // 2)
                AS BIGINT) AS reduction_ppm
    FROM m CROSS JOIN nt CROSS JOIN nd
    ORDER BY rows_per_band
    """,
    tags=("dedup", "lsh", "tuning", "grading"),
)
def dedup_lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-layout tuning table: the SAME {_N_HASHES}-hash minhash
    signature regrouped as (bands × rows) = (8x1), (4x2), (2x4),
    each config graded against the exact ≥{_JACCARD_MIN}-Jaccard truth
    pairs — pair completeness (recall of true pairs) and reduction ratio
    (share of the n·(n−1)/2 pair space never considered), in exact ppm.
    This is the table that decides WHICH config the 100 TB dedup run uses:
    more rows per band = fewer, purer candidates (lower recall, higher
    reduction); the theory curve p_detect = 1−(1−j^r)^b becomes a measured
    number per config. Extends dedup_blocking_quality (one config) to the
    whole knob grid; same honest-metrics posture as ann_recall_report.

    Exactness: candidate and truth sets are exact; the two ratios are
    integer cross-multiplied ppm. Scale: signatures and band keys are
    per-doc map work REUSED across configs (one signature pass, three
    regroupings); candidates are Σc² bucket joins per config; the truth
    subtree is the labeled all-pairs baseline, budget-guarded — on a real
    corpus the report runs on an audit sample.
    """
    from pumle_spark.operators.dedup import lsh_candidate_pairs

    _assert_allpairs_bounded(
        table(spark, sf_dir, "documents").count(),
        _ALLPAIRS_MAX_DOCS,
        "dedup_lsh_tuning_report (all-pairs truth subtree)",
        "the blocked candidate generators alone (their completeness is what this grades)",
    )
    _, sig, truth = _signature_and_truth(spark, sf_dir)
    # pins: without them the six band-join sides re-run the md5-per-shingle
    # pass and every config's hit join the quadratic truth (PERF.md "Pins")
    sig = sig.localCheckpoint(eager=True)
    truth = truth.localCheckpoint(eager=False)
    n_docs_df = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    n_truth_df = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))

    out = None
    for r in _TUNE_ROWS:
        cand = lsh_candidate_pairs(sig, _N_HASHES, rows_per_band=r).select(
            F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b")
        )
        hits = cand.join(truth, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits")
        )
        m = (
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
            .crossJoin(F.broadcast(hits))
            .select(
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(_N_HASHES // r).cast("int").alias("n_bands"),
                "n_candidates",
                "n_hits",
            )
        )
        out = m if out is None else out.unionAll(m)
    return (
        out.crossJoin(F.broadcast(n_truth_df))
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "rows_per_band",
            "n_bands",
            "n_truth",
            "n_candidates",
            "n_hits",
            F.expr(
                "CASE WHEN n_truth > 0 THEN n_hits * 1000000 div n_truth"
                " ELSE 1000000 END"
            ).cast("bigint").alias("completeness_ppm"),
            F.expr(
                "1000000 - n_candidates * 1000000 div (n_docs * (n_docs - 1) div 2)"
            ).cast("bigint").alias("reduction_ppm"),
        )
        .orderBy("rows_per_band")
    )


# --------------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2021)
# --------------------------------------------------------------------------

_ES_GRAM = 4  # token k-gram length; production runs ~50 tokens (see docstring)


@register(
    "dedup_exact_substring",
    sql=f"""
    WITH d AS (SELECT doc_id, {_SQL_TOKENS} AS ws FROM documents),
    grams AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ws[i:i + {_ES_GRAM} - 1], ' ')) AS h
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {_ES_GRAM} + 2)) AS i
            FROM d WHERE len(ws) >= {_ES_GRAM})
    ),
    dup AS (
      SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM marked
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) - MIN(pos) + {_ES_GRAM} AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, island
    """,
    tags=("dedup", "substring", "spans"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2021, arXiv:2107.06499
    §4.1): every maximal token span of >= {_ES_GRAM} tokens that occurs
    verbatim in at least TWO distinct documents, reported as
    (doc_id, span_start, span_tokens) — the spans a training-data pipeline
    would cut, not just which documents collide. The paper's suffix-array
    scan is replaced by the distributed equivalent: a rolling k-gram
    fingerprint match plus per-document island merging (two consecutive
    duplicated k-gram starts overlap in k-1 tokens, so a run of starts IS
    one maximal duplicated span). {_ES_GRAM}-token grams here; production
    uses ~50-token grams, which only shrinks every intermediate.

    Scale shape: gram fingerprints are a per-row array expression (no
    self-join); the duplicate-gram filter is ONE hash-partitioned groupBy
    on the 32-byte fingerprint with map-side partial aggregation, and the
    mark-back join re-uses that exchange (both sides hashed on `h`, never
    on the document body). Island merging windows partition by doc_id —
    per-document state only, no global sort. Nothing is quadratic in docs
    or in corpus size; hot grams cost Σc_h on the probe, not Σc_h².
    Reference analogue: PUMLE has no text surface; this extends the
    dedup family mandated by the driver brief."""
    k = _ES_GRAM
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens_col().alias("ws"))
    grams = (
        d.filter(F.size("ws") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {k} + 1), "
                    f"i -> struct(i AS pos, md5(array_join(slice(ws, i, {k}), ' ')) AS h))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.pos", "g.h")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    marked = grams.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = marked.select("doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("island"))
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") - F.min("pos") + k).cast("bigint").alias("span_tokens"),
    ).select("doc_id", "span_start", "span_tokens")


# --------------------------------------------------------------------------
# content-defined chunking (CDC) dedup
# --------------------------------------------------------------------------

_CDC_W = 3       # rolling window (tokens) feeding the boundary hash
_CDC_MASK = 16   # boundary when hash % 16 == 0 -> ~16-token expected chunks


@register(
    "dedup_cdc_chunking",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
      FROM (SELECT doc_id, source, {_SQL_TOKENS} AS ws FROM documents)
    ),
    marked AS (
      SELECT doc_id, source, w, pos,
             CASE WHEN pos >= {_CDC_W}
                   AND ('0x' || substr(md5(
                         LAG(w, 2) OVER dw || ' ' || LAG(w, 1) OVER dw || ' ' || w
                         || '|cdc'), 1, 8))::BIGINT % {_CDC_MASK} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM toks
      WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
    ),
    chunked AS (
      SELECT doc_id, source, w, pos,
             CAST(COALESCE(SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS chunk_id
      FROM marked
    ),
    chunks AS (
      SELECT doc_id, source, chunk_id,
             md5(string_agg(w, ' ' ORDER BY pos)) AS h,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM chunked GROUP BY doc_id, source, chunk_id
    ),
    freq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS copies FROM chunks GROUP BY h)
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(c.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN f.copies >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
           CAST(SUM(CASE WHEN f.copies >= 2 THEN c.n_tokens ELSE 0 END) AS BIGINT)
             AS dup_tokens,
           CAST(SUM(CASE WHEN f.copies >= 2 THEN c.n_tokens ELSE 0 END) * 1000000
                // SUM(c.n_tokens) AS BIGINT) AS dup_token_ppm
    FROM chunks c JOIN freq f USING (h)
    GROUP BY c.source
    """,
    tags=("dedup", "cdc", "chunking"),
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup audit (the FastCDC / LBFS idea, Xia
    et al. 2016 / Muthitacharoen et al. 2001): chunk boundaries fall where
    a rolling hash of the trailing {_CDC_W}-token window hits
    0 mod {_CDC_MASK}, so boundaries are CONTENT-anchored — an insertion
    early in a document shifts every fixed-size block but leaves CDC
    chunks identical after the edit point, which is why storage systems
    and training-data pipelines dedup at chunk level. Per source: chunk
    count, token mass, and how much of it is duplicated content (a chunk
    hash seen >= 2 times corpus-wide).

    Scale shape: boundary flags need only a 2-token LAG (per-doc window,
    hash-partitioned by doc_id); chunk ids are a per-doc prefix sum over
    the SAME partitioning (one exchange serves both); chunk hashing is a
    (doc, chunk)-keyed groupBy that reuses it again; the corpus-wide
    frequency table is one groupBy on the 32-byte hash and joins back on
    that same key. Nothing is quadratic; hot chunks cost Σc on the probe.

    Exactness: boundaries and chunk hashes are md5 integer arithmetic;
    the ordered string_agg / sorted-collect_list pair is deterministic
    because (doc_id, pos) is a total order."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens_col().alias("ws")
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode("ws").alias("pos0", "w"),
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "w")
    dw = Window.partitionBy("doc_id").orderBy("pos")
    roll = F.concat(
        F.lag("w", 2).over(dw), F.lit(" "), F.lag("w", 1).over(dw), F.lit(" "),
        F.col("w"), F.lit("|cdc"),
    )
    boundary = F.when(
        (F.col("pos") >= _CDC_W)
        & (F.conv(F.substring(F.md5(roll), 1, 8), 16, 10).cast("bigint") % _CDC_MASK == 0),
        1,
    ).otherwise(0)
    marked = toks.select("doc_id", "source", "w", "pos", boundary.alias("boundary"))
    wprev = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunked = marked.select(
        "doc_id", "source", "w", "pos",
        F.coalesce(F.sum("boundary").over(wprev), F.lit(0)).cast("bigint").alias("chunk_id"),
    )
    # pin: the frequency table and the per-source rollup both read the chunks (PERF.md "Pins")
    chunks = chunked.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda x: x["w"]
                ),
                " ",
            )
        ).alias("h"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    ).localCheckpoint(eager=False)
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("copies"))
    dup_tok = F.sum(F.when(F.col("copies") >= 2, F.col("n_tokens")).otherwise(0))
    return (
        chunks.join(freq, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("copies") >= 2, 1).otherwise(0)).cast("bigint").alias("dup_chunks"),
            dup_tok.cast("bigint").alias("dup_tokens"),
            F.expr(
                "sum(CASE WHEN copies >= 2 THEN n_tokens ELSE 0 END) * 1000000"
                " div sum(n_tokens)"
            ).cast("bigint").alias("dup_token_ppm"),
        )
    )
