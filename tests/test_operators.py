"""Composite operators: as-of join, range join, dedup family, similarity,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from pumle_spark.operators.dedup import (
    connected_components,
    hamming_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from pumle_spark.operators.joins import asof_join, range_join
from pumle_spark.operators.multimodal import (
    image_features,
    media_stats,
    sample_frames,
)
from pumle_spark.operators.similarity import cosine_topk, cosine_topk_pandas, lsh_topk

# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------


def test_asof_join_backward_matches_bruteforce(spark):
    left = spark.createDataFrame(
        [("u1", 10, "p1"), ("u1", 25, "p2"), ("u1", 3, "p0"), ("u2", 50, "p3")],
        "k string, t long, pid string",
    )
    right = spark.createDataFrame(
        [("u1", 5, "a"), ("u1", 10, "b"), ("u1", 20, "c"), ("u2", 60, "d")],
        "k string, t long, v string",
    )
    out = asof_join(left, right, on=["k"], left_ts="t", right_ts="t", value_cols=["v"])
    got = {(r.k, r.t): r.v for r in out.collect()}
    # at-or-before: t=10 matches the right row AT 10; t=3 matches 5? no → None
    assert got == {("u1", 10): "b", ("u1", 25): "c", ("u1", 3): None, ("u2", 50): None}


def test_asof_join_forward(spark):
    left = spark.createDataFrame([("u1", 10)], "k string, t long")
    right = spark.createDataFrame([("u1", 8, "x"), ("u1", 12, "y")], "k string, t long, v string")
    out = asof_join(left, right, ["k"], "t", "t", ["v"], direction="forward")
    assert out.collect()[0].v == "y"


def test_range_join_equals_filtered_cross(spark):
    big = spark.createDataFrame(
        [(i, j, k) for i in range(4) for j in range(3) for k in range(5)], "i int, j int, k int"
    )
    small = spark.createDataFrame([(1, 2, 1, 3, "w1"), (3, 0, 0, 2, "w2")],
                                  "wi int, wj int, klo int, khi int, name string")
    out = range_join(big, small, [("i", "wi"), ("j", "wj")], ("k", "klo", "khi"))
    got = {(r.name, r.k) for r in out.collect()}
    assert got == {("w1", 1), ("w1", 2), ("w1", 3), ("w2", 0), ("w2", 1), ("w2", 2)}


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    near = base.replace("lazy", "sleepy")  # one-token change → high jaccard
    other = "completely different content about spark query engines and shuffles here"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, other)], "doc_id long, text string"
    )


def test_minhash_lsh_finds_near_dups(docs):
    sh = shingles(docs, "doc_id").cache()
    sig = minhash_signatures(sh, n_hashes=8)
    assert set(sig.columns) == {"key"} | {f"mh{s}" for s in range(8)}
    cand = lsh_candidate_pairs(sig, n_hashes=8, rows_per_band=2)
    pairs = {(r.key_a, r.key_b) for r in cand.collect()}
    assert (0, 1) in pairs  # identical docs always collide in every band
    assert all(3 not in p for p in pairs)  # no shingle in common with the rest


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5 (diameter > 1 round: exercises iteration), pair 10-11,
    # and a triangle 20-21-22 entered via multiple edges
    edges = [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)]
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    got = {r.key: r.comp for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_path_converges(spark):
    # a 12-node path: min label must walk the full diameter
    edges = [(i, i + 1) for i in range(100, 112)]
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    out = connected_components(df).collect()
    assert {r.comp for r in out} == {100}
    assert len(out) == 13


def test_simhash_hamming_pairs(spark):
    base = 0x0123456789ABCDEF
    sig = spark.createDataFrame(
        [(0, base), (1, base), (2, base ^ 0b1011), (3, ~base)], "key long, simhash long"
    )
    pairs = {(r.key_a, r.key_b): r.hamming for r in hamming_pairs(sig, max_distance=16).collect()}
    assert pairs[(0, 1)] == 0
    # near-dup within distance, unrelated signature (all 64 bits flipped) far from everything
    assert pairs[(0, 2)] == 3
    assert all(3 not in p for p in pairs)


# --------------------------------------------------------------------------
# similarity
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 16))
    rows = []
    for vid in range(40):
        c = centers[vid % 4]
        rows.append((vid, (c + rng.normal(scale=0.05, size=16)).astype(float).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def test_cosine_topk_matches_numpy(vectors):
    df, rows = vectors
    q = df.filter(F.col("vec_id") == 0)
    got = [(r.neighbor_id, r.cos_sim) for r in cosine_topk(df, q, k=3).orderBy("rnk").collect()]
    mat = np.array([r[1] for r in rows])
    sims = mat @ mat[0] / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[0]))
    sims[0] = -np.inf
    top = np.argsort(-sims)[:3]
    assert [g[0] for g in got] == top.tolist()
    for (nid, cs) in got:
        assert cs == pytest.approx(sims[nid], rel=1e-12)


def test_cosine_topk_pandas_agrees_with_expression_path(vectors):
    df, rows = vectors
    q = df.filter(F.col("vec_id").isin(0, 1))
    expr_res = {
        (r.query_id, r.rnk): r.neighbor_id for r in cosine_topk(df, q, k=3).collect()
    }
    qvecs = {r[0]: r[1] for r in rows if r[0] in (0, 1)}
    pd_res = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in cosine_topk_pandas(df, qvecs, k=3).collect()
    }
    assert expr_res == pd_res


def test_lsh_topk_recalls_cluster_neighbors(vectors):
    df, rows = vectors
    q = df.filter(F.col("vec_id") < 4)
    out = lsh_topk(df, q, dim=16, k=3)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    # tight clusters (σ=0.05): every returned neighbor shares the query's cluster
    for qid, nbrs in by_q.items():
        assert nbrs, f"no candidates for query {qid}"
        assert all(n % 4 == qid % 4 for n in nbrs)


# --------------------------------------------------------------------------
# multimodal
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x01\x02\x03\x04" * 64, "image/fake", 16, 8),
        (2, b"\xff\xee" * 500, "image/fake", 32, 32),
    ]
    return spark.createDataFrame(
        rows, "media_id bigint, content binary, mime string, width int, height int"
    )


def test_image_features_deterministic_and_flagged(media):
    a = image_features(media, dim=16).orderBy("media_id").collect()
    b = image_features(media, dim=16).orderBy("media_id").collect()
    assert [r.feat for r in a] == [r.feat for r in b]  # hash-seeded fake is stable
    assert all(len(r.feat) == 16 for r in a)
    assert all(r.decode_ok is False for r in a)  # codec stubbed in this env


def test_image_features_strict_mode_raises(media):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception):  # NotImplementedError inside the executor
        image_features(media, allow_fake=False).collect()


def test_sample_frames_fanout(media):
    out = sample_frames(media, every_n=10, max_frames=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert by_id[1] == [0, 1, 2, 3]
    assert all(sorted(v) == v for v in by_id.values())


def test_media_stats_pure_jvm(media):
    rows = {r.media_id: r for r in media_stats(media).collect()}
    assert rows[1].n_bytes == 256 and rows[1].n_pixels == 128 and rows[1].aspect == 2.0


def test_ivf_topk_recalls_cluster_neighbors(vectors, spark):
    from pumle_spark.operators.similarity import cosine_topk, ivf_assign, ivf_topk

    df, rows = vectors
    # centroids: one member of each of the 4 clusters (ids 0..3)
    cents = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = {r.id: r.centroid_id for r in ivf_assign(df, cents).collect()}
    # tight clusters: every vector lands in its own cluster's list
    assert all(cid % 4 == vid % 4 for vid, cid in assign.items())

    q = df.filter(F.col("vec_id").isin(8, 9))
    exact = {
        (r.query_id, r.rnk): r.neighbor_id for r in cosine_topk(df, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in ivf_topk(df, q, cents, k=3, n_probe=1).collect()
    }
    # σ=0.05 clusters: all true top-3 live in the probed (own) cluster,
    # so IVF with 1 probe reproduces the exact result
    assert approx == exact


def test_connected_components_warns_when_unconverged(spark):
    """Advisory fix (round 2): exiting via max_iter with labels still moving
    must warn — a silent partial result would diverge from any fixpoint
    oracle."""
    import warnings

    from pumle_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "key_a int, key_b int"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(chain, max_iter=2).collect()
    assert any("unconverged" in str(x.message) for x in w)

    # and NO warning when it converges
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        labels = connected_components(chain, max_iter=50).collect()
    assert not any("unconverged" in str(x.message) for x in w)
    assert {r.comp for r in labels} == {0}  # one chain, one component


def test_watershed_warns_when_unconverged(spark):
    import warnings

    from pumle_spark.operators.terrain import trap_assignment

    # long monotone ramp: pointer chains resolve in ceil(log2(L)) rounds,
    # so max_iter=1 cannot finish a 40-cell path
    ramp = spark.createDataFrame(
        [(i, 0, float(i)) for i in range(40)], "i bigint, j bigint, z double"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        trap_assignment(ramp, max_iter=1).collect()
    assert any("unconverged" in str(x.message) for x in w)
