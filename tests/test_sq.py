from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
from cuda_acceleratedvectordatabaseengine_spark.metrics import mean_recall
from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans, knn, sq
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
def sq_index(spark, sf_dir, emb_corpus, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sq_indexes"))
    emb = tables.load(spark, sf_dir, "embeddings")
    init = kmeans.label_centroids(emb)
    ivf_idx = ivf.IVFIndex.build(
        emb_corpus, base, "emb_sq", nlist=10, metric=D.L2, init=init, train=False
    )
    return sq.IVFSQIndex.build_from_ivf(ivf_idx)


def test_roundtrip_error_bounded(spark, emb_corpus):
    vmin, vmax = sq.train_sq(emb_corpus)
    V = np.asarray(
        [r["vector"] for r in emb_corpus.limit(200).collect()], dtype=np.float64
    )
    codes = sq.encode_batch_sq(V, vmin, vmax)
    Vhat = sq.decode_batch_sq(codes, vmin, vmax)
    step = (vmax - vmin) / 255.0
    # worst-case per-dimension reconstruction error is half a grid step
    assert (np.abs(V - Vhat) <= step / 2 + 1e-12).all()


def test_train_matches_driver_minmax(spark, emb_corpus):
    vmin, vmax = sq.train_sq(emb_corpus)
    V = np.asarray(
        [r["vector"] for r in emb_corpus.collect()], dtype=np.float64
    )
    np.testing.assert_allclose(vmin, V.min(axis=0), rtol=0, atol=0)
    np.testing.assert_allclose(vmax, V.max(axis=0), rtol=0, atol=0)


def test_constant_dimension_encodes_zero():
    V = np.array([[1.5, 2.0], [1.5, 3.0], [1.5, 4.0]])
    vmin, vmax = V.min(axis=0), V.max(axis=0)
    codes = sq.encode_batch_sq(V, vmin, vmax)
    assert (codes[:, 0] == 0).all()
    Vhat = sq.decode_batch_sq(codes, vmin, vmax)
    assert (Vhat[:, 0] == 1.5).all()


def test_fullprobe_recall_near_exact(spark, sq_index, emb_corpus, emb_queries):
    # 8-bit/dim quantization at 64-d: top-10 under quantized distances
    # should recover nearly all exact neighbors
    approx = sq_index.search(emb_queries, k=10, nprobe=10)
    exact = knn.exact_knn(emb_corpus, emb_queries, k=10, metric=D.L2)
    assert mean_recall(approx, exact) >= 0.9


def test_rerank_equals_exact(spark, sq_index, emb_corpus, emb_queries):
    got = sq_index.search(
        emb_queries, k=5, nprobe=10, rerank_exact=True, rerank_k=50
    )
    exact = knn.exact_knn(emb_corpus, emb_queries, k=5, metric=D.L2)
    g = {(r["query_id"], r["rank"]): (r["id"], r["distance"]) for r in got.collect()}
    e = {(r["query_id"], r["rank"]): (r["id"], r["distance"]) for r in exact.collect()}
    assert g.keys() == e.keys()
    for key in e:
        assert g[key][0] == e[key][0]
        assert abs(g[key][1] - e[key][1]) < 1e-9


def test_cosine_supported(spark, sq_index, emb_corpus, emb_queries):
    # unlike PQ's additive LUTs, decoded floats support cosine directly
    approx = sq_index.search(emb_queries, k=10, nprobe=10, metric=D.COSINE)
    exact = knn.exact_knn(emb_corpus, emb_queries, k=10, metric=D.COSINE)
    assert mean_recall(approx, exact) >= 0.85


def test_load_roundtrip(spark, sq_index, emb_queries):
    loaded = sq.IVFSQIndex.load(
        spark, sq_index.manager.base_dir, sq_index.manager.index_name
    )
    np.testing.assert_array_equal(loaded.vmin, sq_index.vmin)
    np.testing.assert_array_equal(loaded.vmax, sq_index.vmax)
    a = sq_index.search(emb_queries, k=5, nprobe=3).collect()
    b = loaded.search(emb_queries, k=5, nprobe=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_load_without_sq_artifacts_fails(spark, emb_corpus, tmp_path):
    init = np.asarray(
        [r["vector"] for r in emb_corpus.limit(4).collect()], dtype=np.float64
    )
    ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "no_sq", nlist=4, init=init, train=False
    )
    with pytest.raises(ValueError, match="no SQ artifacts"):
        sq.IVFSQIndex.load(spark, str(tmp_path), "no_sq")


def test_codes_are_4x_smaller_than_vectors(spark, sq_index):
    # the scan-I/O story: one byte per dimension vs four
    row = sq_index.codes.select(F.length("codes").alias("n")).head()
    assert row["n"] == sq_index.dimension


def test_sq_encode_delta_over_chain(spark, emb_corpus, tmp_path):
    """O(delta) SQ maintenance: base epoch encoded scope='chain', the
    incremental-add epoch encoded scope='delta' with the ANCESTOR's params
    — the folded chain must equal a full re-encode with the same params,
    code for code and search result for search result."""
    mid = emb_corpus.agg(F.expr("percentile(id, 0.5)")).collect()[0][0]
    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(10).collect()],
        dtype=np.float64,
    )
    base = ivf.IVFIndex.build(
        emb_corpus.filter(F.col("id") < mid), str(tmp_path), "sq_chain",
        nlist=10, metric=D.L2, init=init, train=False,
    )
    sq_base = sq.IVFSQIndex.build_from_ivf(base)
    chained = base.add(emb_corpus.filter(F.col("id") >= mid))
    delta_idx = sq.IVFSQIndex.encode_delta(chained)
    # params are inherited, not retrained
    np.testing.assert_array_equal(delta_idx.vmin, sq_base.vmin)
    np.testing.assert_array_equal(delta_idx.vmax, sq_base.vmax)
    assert delta_idx.manifest.sq["scope"] == "delta"
    # the folded chain covers the full corpus
    n = emb_corpus.count()
    assert delta_idx.codes.count() == n
    # code-for-code equal to a full re-encode with the same params
    # (computed unpersisted — writing scope="chain" into the same epoch
    # dir would clobber the delta artifacts under comparison)
    a = {r["id"]: bytes(r["codes"]) for r in delta_idx.codes.collect()}
    b = {
        r["id"]: bytes(r["codes"])
        for r in sq.encode_sq(chained.vectors, sq_base.vmin, sq_base.vmax).collect()
    }
    assert a == b
    # a delta-generation vector is reachable and exact-reranks to itself
    probe = emb_corpus.agg(F.max("id")).collect()[0][0]
    q = emb_corpus.filter(F.col("id") == probe).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = delta_idx.search(q, k=3, nprobe=10, rerank_exact=True, rerank_k=10)
    assert got.collect()[0]["id"] == probe


def test_sq_encode_delta_requires_encoded_ancestor(spark, emb_corpus, tmp_path):
    init = np.asarray(
        [r["vector"] for r in emb_corpus.limit(4).collect()], dtype=np.float64
    )
    base = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "sq_orphan", nlist=4, init=init, train=False
    )
    chained = base.add(emb_corpus.limit(5).withColumn("id", F.col("id") + 100000))
    with pytest.raises(ValueError, match="no SQ-encoded ancestor"):
        sq.IVFSQIndex.encode_delta(chained)


def test_sq_chain_respects_tombstones(spark, emb_corpus, tmp_path):
    """SQ serving over a chain with a tombstone tip: the handle loads
    (params resolved from the SQ-encoded ancestor), codes exclude deleted
    ids, and a deleted vector is unreachable through scan + rerank."""
    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(6).collect()],
        dtype=np.float64,
    )
    base = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "sq_del", nlist=6, init=init, train=False
    )
    sq.IVFSQIndex.build_from_ivf(base)
    victims = [r["id"] for r in emb_corpus.limit(7).collect()]
    base.delete(victims)

    served = sq.IVFSQIndex.load(spark, str(tmp_path), "sq_del")
    n = emb_corpus.count()
    assert served.codes.count() == n - len(victims)
    qdf = emb_corpus.filter(F.col("id") == victims[0]).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = served.search(qdf, k=3, nprobe=6, rerank_exact=True, rerank_k=10).collect()
    assert got and all(r["id"] not in set(victims) for r in got)


def test_rows_do_not_depend_on_arrow_batch_size(spark, sf_dir, sq_index):
    """SQ decodes its codes and scores them with the flat kernel, whose
    GEMM only ranks: each kept candidate reports its direct-form distance
    over its decoded row. The rows are then the same whether a list
    reaches the scan in batches of 7 rows or in one batch. (64 queries
    at full probe: each list is scored against more queries than
    ``D.pairwise`` scores in direct form.)"""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    queries = tables.load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 64
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))

    def rows():
        res = sq_index.search(queries, k=10, nprobe=10)
        return sorted(tuple(r) for r in res.collect())

    whole = rows()
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = rows()
    finally:
        spark.conf.set(key, old)
    assert len(whole) == 64 * 10
    assert small == whole
