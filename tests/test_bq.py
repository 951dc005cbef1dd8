from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
from cuda_acceleratedvectordatabaseengine_spark.metrics import mean_recall
from cuda_acceleratedvectordatabaseengine_spark.operators import bq, ivf, kmeans, knn
from cuda_acceleratedvectordatabaseengine_spark.sources import tables


@pytest.fixture(scope="module")
def emb_corpus(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )


@pytest.fixture(scope="module")
def emb_queries(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


@pytest.fixture(scope="module")
def bq_index(spark, sf_dir, emb_corpus, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bq_indexes"))
    emb = tables.load(spark, sf_dir, "embeddings")
    init = kmeans.label_centroids(emb)
    ivf_idx = ivf.IVFIndex.build(
        emb_corpus, base, "emb_bq", nlist=10, metric=D.L2, init=init, train=False
    )
    return bq.IVFBQIndex.build_from_ivf(ivf_idx)


def test_train_matches_driver_mean(spark, emb_corpus):
    mu = bq.train_bq(emb_corpus)
    V = np.asarray(
        [r["vector"] for r in emb_corpus.collect()], dtype=np.float64
    )
    np.testing.assert_allclose(mu, V.mean(axis=0), rtol=1e-12)


def test_encode_pack_roundtrip():
    mu = np.zeros(10)
    V = np.array(
        [[1, -1, 1, 1, -1, -1, -1, 1, 1, -1], [-1] * 10], dtype=np.float64
    )
    codes = bq.encode_batch_bq(V, mu)
    assert codes.shape == (2, 2)  # ceil(10/8) bytes
    bits = np.unpackbits(codes, axis=1)[:, :10]
    np.testing.assert_array_equal(bits[0], (V[0] > 0).astype(np.uint8))
    np.testing.assert_array_equal(bits[1], 0)
    # pad bits are zero so they never contribute to any XOR
    assert (np.unpackbits(codes, axis=1)[:, 10:] == 0).all()


def test_hamming_matrix_matches_bitcount():
    rng = np.random.default_rng(7)
    V = rng.standard_normal((50, 24))
    Q = rng.standard_normal((4, 24))
    mu = np.zeros(24)
    C, Qb = bq.encode_batch_bq(V, mu), bq.encode_batch_bq(Q, mu)
    got = bq.hamming_matrix(C, Qb)
    vb, qb = (V > 0), (Q > 0)
    want = (vb[:, None, :] != qb[None, :, :]).sum(axis=2).astype(np.float64)
    np.testing.assert_array_equal(got, want)


def test_strict_inequality_at_threshold():
    # a value exactly at the threshold encodes as 0 (strict >)
    codes = bq.encode_batch_bq(np.array([[5.0]]), np.array([5.0]))
    assert np.unpackbits(codes, axis=1)[0, 0] == 0


def test_fullprobe_self_match_and_recall(spark, bq_index, emb_corpus, emb_queries):
    res = bq_index.search(emb_queries, k=10, nprobe=10)
    rows = res.collect()
    # every query's own vector is in the corpus: Hamming 0 at rank 1
    top = {r["query_id"]: r for r in rows if r["rank"] == 1}
    for qid, r in top.items():
        assert r["id"] == qid and r["distance"] == 0.0
    # 64 sign bits are coarse — the tier's value is the rerank stage;
    # the raw-Hamming floor just proves the codes carry real signal
    # (random ranking at n=500, k=10 would give recall ~= 0.02)
    exact = knn.exact_knn(emb_corpus, emb_queries, k=10, metric=D.L2)
    assert mean_recall(res, exact) >= 0.2


def test_rerank_equals_exact(spark, bq_index, emb_corpus, emb_queries):
    # with a generous shortlist, exact rerank restores exact top-k
    got = bq_index.search(
        emb_queries, k=5, nprobe=10, rerank_exact=True, rerank_k=200
    )
    exact = knn.exact_knn(emb_corpus, emb_queries, k=5, metric=D.L2)
    g = {(r["query_id"], r["rank"]): (r["id"], r["distance"]) for r in got.collect()}
    e = {(r["query_id"], r["rank"]): (r["id"], r["distance"]) for r in exact.collect()}
    assert g.keys() == e.keys()
    for key in e:
        assert g[key][0] == e[key][0]
        assert abs(g[key][1] - e[key][1]) < 1e-9


def test_load_roundtrip(spark, bq_index, emb_queries):
    loaded = bq.IVFBQIndex.load(
        spark, bq_index.manager.base_dir, bq_index.manager.index_name
    )
    np.testing.assert_array_equal(loaded.thresholds, bq_index.thresholds)
    a = bq_index.search(emb_queries, k=5, nprobe=3).collect()
    b = loaded.search(emb_queries, k=5, nprobe=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_load_without_bq_artifacts_fails(spark, emb_corpus, tmp_path):
    init = np.asarray(
        [r["vector"] for r in emb_corpus.limit(4).collect()], dtype=np.float64
    )
    ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "no_bq", nlist=4, init=init, train=False
    )
    with pytest.raises(ValueError, match="no BQ artifacts"):
        bq.IVFBQIndex.load(spark, str(tmp_path), "no_bq")


def test_codes_are_32x_smaller_than_vectors(spark, bq_index):
    # the memory-tier story: one BIT per dimension vs four bytes
    row = bq_index.codes.select(F.length("codes").alias("n")).head()
    assert row["n"] == (bq_index.dimension + 7) // 8


def test_bq_encode_delta_over_chain(spark, emb_corpus, tmp_path):
    """O(delta) BQ maintenance mirrors SQ/PQ: ancestor thresholds reused,
    folded chain equals a full re-encode with the same thresholds."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf as ivf_ops

    mid = emb_corpus.agg(F.expr("percentile(id, 0.5)")).collect()[0][0]
    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(10).collect()],
        dtype=np.float64,
    )
    base = ivf_ops.IVFIndex.build(
        emb_corpus.filter(F.col("id") < mid), str(tmp_path), "bq_chain",
        nlist=10, metric=D.L2, init=init, train=False,
    )
    bq_base = bq.IVFBQIndex.build_from_ivf(base)
    chained = base.add(emb_corpus.filter(F.col("id") >= mid))
    delta_idx = bq.IVFBQIndex.encode_delta(chained)
    np.testing.assert_array_equal(delta_idx.thresholds, bq_base.thresholds)
    assert delta_idx.manifest.bq["scope"] == "delta"
    assert delta_idx.codes.count() == emb_corpus.count()
    a = {r["id"]: bytes(r["codes"]) for r in delta_idx.codes.collect()}
    b = {
        r["id"]: bytes(r["codes"])
        for r in bq.encode_bq(chained.vectors, bq_base.thresholds).collect()
    }
    assert a == b
    # a delta-generation vector self-matches at Hamming 0
    probe = emb_corpus.agg(F.max("id")).collect()[0][0]
    q = emb_corpus.filter(F.col("id") == probe).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = delta_idx.search(q, k=1, nprobe=10).collect()
    assert got[0]["id"] == probe and got[0]["distance"] == 0.0


def test_bq_encode_delta_requires_encoded_ancestor(spark, emb_corpus, tmp_path):
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf as ivf_ops

    init = np.asarray(
        [r["vector"] for r in emb_corpus.limit(4).collect()], dtype=np.float64
    )
    base = ivf_ops.IVFIndex.build(
        emb_corpus, str(tmp_path), "bq_orphan", nlist=4, init=init, train=False
    )
    chained = base.add(emb_corpus.limit(5).withColumn("id", F.col("id") + 100000))
    with pytest.raises(ValueError, match="no BQ-encoded ancestor"):
        bq.IVFBQIndex.encode_delta(chained)


def test_bq_chain_respects_tombstones(spark, emb_corpus, tmp_path):
    """BQ serving over a chain with a tombstone tip: the handle loads
    (thresholds resolved from the BQ-encoded ancestor), codes exclude
    deleted ids, and a deleted vector is unreachable through the Hamming
    scan + rerank."""
    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(6).collect()],
        dtype=np.float64,
    )
    base = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "bq_del", nlist=6, init=init, train=False
    )
    bq.IVFBQIndex.build_from_ivf(base)
    victims = [r["id"] for r in emb_corpus.limit(7).collect()]
    base.delete(victims)

    served = bq.IVFBQIndex.load(spark, str(tmp_path), "bq_del")
    n = emb_corpus.count()
    assert served.codes.count() == n - len(victims)
    qdf = emb_corpus.filter(F.col("id") == victims[0]).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = served.search(qdf, k=3, nprobe=6, rerank_exact=True, rerank_k=10).collect()
    assert got and all(r["id"] not in set(victims) for r in got)
