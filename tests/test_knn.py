from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
from cuda_acceleratedvectordatabaseengine_spark.operators import knn


@pytest.fixture(scope="module")
def corpus(spark):
    # mirrors the reference smoke fixture: seeded normal, 64-d
    # (test/simple_test.cpp:119-138)
    rng = np.random.default_rng(42)
    V = rng.normal(size=(300, 32)).astype(np.float32)
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, "id long, vector array<float>").repartition(6)
    return df, V


@pytest.fixture(scope="module")
def queries(spark):
    rng = np.random.default_rng(12345)
    Q = rng.normal(size=(7, 32)).astype(np.float32)
    rows = [(i, [float(x) for x in Q[i]]) for i in range(len(Q))]
    return spark.createDataFrame(rows, "query_id long, qvec array<float>"), Q


def brute_force(V, Q, k, metric):
    M = D.pairwise(metric, V.astype(np.float64), Q.astype(np.float64))
    out = {}
    for j in range(Q.shape[0]):
        order = np.lexsort((np.arange(len(V)), M[:, j]))[:k]
        out[j] = [(int(i), float(M[i, j])) for i in order]
    return out


@pytest.mark.parametrize("metric", [D.L2, D.INNER_PRODUCT, D.COSINE])
@pytest.mark.parametrize("impl", ["numpy", "sql"])
def test_exact_knn_matches_numpy_oracle(spark, corpus, queries, metric, impl):
    df, V = corpus
    qdf, Q = queries
    k = 10
    res = knn.exact_knn(df, qdf, k=k, metric=metric, impl=impl)
    rows = res.collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["id"], r["distance"]))
    want = brute_force(V, Q, k, metric)
    for qid, items in got.items():
        items.sort()
        assert [i for _, i, _ in items] == [i for i, _ in want[qid]], (metric, impl, qid)
        assert np.allclose(
            [d for _, _, d in items], [d for _, d in want[qid]], atol=1e-6
        )


def test_exact_knn_rows_do_not_depend_on_partitioning(spark):
    """On L2 with more than 8 queries the scanner's distance block is a
    GEMM, whose rounding depends on how many rows share the block. It
    only ranks: the reported distances are direct-form, so the rows are
    identical with the corpus in one partition and in four."""
    rng = np.random.default_rng(7)
    V = rng.normal(size=(400, 32)).astype(np.float32)
    Q = rng.normal(size=(12, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(len(V))], "id long, vector array<float>"
    )
    qdf = spark.createDataFrame(
        [(i, Q[i].tolist()) for i in range(len(Q))], "query_id long, qvec array<float>"
    )

    def rows(parts):
        res = knn.exact_knn(df.repartition(parts), qdf, k=10, metric=D.L2)
        return sorted(tuple(r) for r in res.collect())

    one = rows(1)
    assert len(one) == 12 * 10
    assert rows(4) == one


def test_result_invariants(spark, corpus, queries):
    # reference invariants: ids in range, distances finite & non-negative for
    # L2, per query non-decreasing distance, no dup ids
    # (test/gpu_vs_cpu_test.cpp:200-226, engine/ivf_flat_index.cpp:493-504)
    df, V = corpus
    qdf, _ = queries
    res = knn.exact_knn(df, qdf, k=5, metric=D.L2).collect()
    per_q = {}
    for r in res:
        assert 0 <= r["id"] < len(V)
        assert np.isfinite(r["distance"]) and r["distance"] >= 0
        per_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        ds = [r["distance"] for r in rs]
        assert ds == sorted(ds)
        ids = [r["id"] for r in rs]
        assert len(ids) == len(set(ids))


def test_k_larger_than_corpus(spark, queries):
    # k clipped to corpus size (ivf_flat_index.cpp:232-233): no padding rows
    qdf, _ = queries
    rows = [(i, [float(i), 0.0]) for i in range(3)]
    small = spark.createDataFrame(rows, "id long, vector array<float>")
    q1 = spark.createDataFrame([(0, [0.0, 0.0])], "query_id long, qvec array<float>")
    res = knn.exact_knn(small, q1, k=10).collect()
    assert len(res) == 3


def test_topk_dedup_by_id(spark):
    # T4: same id surfacing twice keeps the nearer copy
    cand = spark.createDataFrame(
        [(0, 1, 0.5), (0, 1, 0.2), (0, 2, 0.3)],
        "query_id long, id long, distance double",
    )
    rows = knn.topk_per_query(cand, k=10).orderBy("rank").collect()
    assert [(r["id"], r["distance"]) for r in rows] == [(1, 0.2), (2, 0.3)]


def test_topk_bounds():
    with pytest.raises(ValueError):
        knn.validate_topk(0)
    with pytest.raises(ValueError):
        knn.validate_topk(1001)
    knn.validate_topk(1000)


def test_query_batch_guard(spark, monkeypatch):
    # the driver-collect contract is enforced, not docstring-only
    monkeypatch.setattr(knn, "MAX_QUERY_BATCH", 5)
    big = spark.range(10).select(
        F.col("id").alias("query_id"), F.array(F.lit(0.0), F.lit(1.0)).alias("qvec")
    )
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        knn.collect_query_matrix(big)



@pytest.mark.parametrize(
    "qvecs",
    [
        [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]],  # 8 values: a (2, 4) reshape
        [[1.0, 2.0], None, [3.0, 4.0, 5.0, 6.0]],  # 6 values: a (3, 2) reshape
        [[1.0, 2.0], [3.0]],
    ],
    ids=["ragged-divisible", "null-row", "ragged"],
)
def test_query_batch_rejects_ragged_and_null_vectors(spark, corpus, qvecs):
    """The Arrow query handoff raises on a ragged or null query vector
    instead of reshaping the flat values into wrong rows, as the Row
    collect did by failing to build the matrix."""
    qdf = spark.createDataFrame(
        list(enumerate(qvecs)), "query_id long, qvec array<float>"
    )
    with pytest.raises(ValueError):
        knn.collect_query_matrix(qdf)
    with pytest.raises(ValueError):
        knn.exact_knn(corpus[0], qdf, k=3)


@pytest.fixture(scope="module")
def labeled_corpus(spark, corpus):
    df, V = corpus
    labels = np.arange(len(V)) % 4
    rows = [(i, [float(x) for x in V[i]], int(labels[i])) for i in range(len(V))]
    ldf = spark.createDataFrame(
        rows, "id long, vector array<float>, label int"
    ).repartition(6)
    return ldf, V, labels


def test_grouped_knn_matches_per_group_brute_force(spark, labeled_corpus, queries):
    ldf, V, labels = labeled_corpus
    qdf, Q = queries
    res = knn.grouped_knn(ldf, qdf, k=3, group_col="label", metric=D.L2)
    got = {
        (r["query_id"], r["group"], r["rank"]): (r["id"], r["distance"])
        for r in res.collect()
    }
    M = D.pairwise(D.L2, V.astype(np.float64), Q.astype(np.float64))
    for j in range(Q.shape[0]):
        for g in range(4):
            idx = np.nonzero(labels == g)[0]
            order = np.lexsort((idx, M[idx, j]))[:3]
            for rank, pos in enumerate(order, start=1):
                want_id = int(idx[pos])
                got_id, got_d = got[(j, g, rank)]
                assert got_id == want_id
                assert abs(got_d - M[want_id, j]) < 1e-9
    # every (query, group) has exactly k rows
    assert len(got) == Q.shape[0] * 4 * 3


def test_grouped_knn_string_group(spark, queries):
    rng = np.random.default_rng(3)
    V = rng.normal(size=(40, 32)).astype(np.float32)
    rows = [
        (i, [float(x) for x in V[i]], "even" if i % 2 == 0 else "odd")
        for i in range(len(V))
    ]
    df = spark.createDataFrame(rows, "id long, vector array<float>, src string")
    qdf, _ = queries
    res = knn.grouped_knn(df, qdf.limit(2), k=2, group_col="src")
    rows = res.collect()
    assert {r["group"] for r in rows} == {"even", "odd"}
    for r in rows:
        parity = 0 if r["group"] == "even" else 1
        assert r["id"] % 2 == parity


def test_mine_hard_negatives_excludes_anchor_label(spark, labeled_corpus):
    ldf, V, labels = labeled_corpus
    anchors = ldf.filter(F.col("id") < 6).select(
        F.col("id").alias("query_id"),
        F.col("vector").alias("qvec"),
        "label",
    )
    res = knn.mine_hard_negatives(ldf, anchors, k=5, metric=D.L2)
    rows = res.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    M = D.pairwise(D.L2, V.astype(np.float64), V[:6].astype(np.float64))
    for qid in range(6):
        # no result may share the anchor's label (so never the anchor itself)
        for r in by_q[qid]:
            assert labels[r["id"]] != labels[qid]
        # matches the constrained brute force exactly
        idx = np.nonzero(labels != labels[qid])[0]
        order = np.lexsort((idx, M[idx, qid]))[:5]
        want = [int(idx[p]) for p in order]
        got = [r["id"] for r in sorted(by_q[qid], key=lambda r: r["rank"])]
        assert got == want


def test_mine_hard_negatives_empty_anchor_batch(spark, labeled_corpus):
    ldf, _, _ = labeled_corpus
    empty = ldf.filter(F.col("id") < 0).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec"), "label"
    )
    with pytest.raises(ValueError, match="empty anchor batch"):
        knn.mine_hard_negatives(ldf, empty, k=3)


def test_grouped_knn_null_group_rows_are_excluded(spark, queries):
    """A NULL facet is not a facet: null-group rows are filtered before the
    scan instead of crashing np.unique with a mixed object array."""
    rng = np.random.default_rng(7)
    V = rng.normal(size=(30, 32)).astype(np.float32)
    rows = [
        (i, [float(x) for x in V[i]], None if i % 3 == 0 else f"g{i % 2}")
        for i in range(len(V))
    ]
    df = spark.createDataFrame(rows, "id long, vector array<float>, src string")
    qdf, _ = queries
    res = knn.grouped_knn(df, qdf.limit(2), k=2, group_col="src").collect()
    assert {r["group"] for r in res} == {"g0", "g1"}
    assert all(r["id"] % 3 != 0 for r in res)


@pytest.fixture(scope="module")
def mmr_inputs(spark):
    """1-D corpus with hand-checkable geometry: two near-duplicates close to
    the query and one far-but-diverse candidate."""
    vecs = {1: 0.0, 2: 0.1, 3: 10.0}
    rel = {1: 0.0, 2: 0.1, 3: 0.5}
    vdf = spark.createDataFrame(
        [(i, [v]) for i, v in vecs.items()], "id long, vector array<float>"
    )
    sdf = spark.createDataFrame(
        [(0, i, d) for i, d in rel.items()],
        "query_id long, id long, distance double",
    )
    return vdf, sdf


def test_mmr_rerank_lam1_reproduces_input_ranking(spark, mmr_inputs):
    vdf, sdf = mmr_inputs
    rows = sorted(
        knn.mmr_rerank(vdf, sdf, k=3, lam=1.0).collect(), key=lambda r: r.rank
    )
    assert [r.id for r in rows] == [1, 2, 3]
    assert [r.distance for r in rows] == [0.0, 0.1, 0.5]
    assert [r.rank for r in rows] == [1, 2, 3]


def test_mmr_rerank_diversity_promotes_far_candidate(spark, mmr_inputs):
    """Hand-computed greedy at lam=0.5 (squared-L2 pair distances):
    pick1 = id1 (best relevance); then id2 scores 0.5*0.1 - 0.5*0.01 =
    0.045 while id3 scores 0.5*0.5 - 0.5*100 = -49.75 -> the diverse id3
    overtakes the near-duplicate id2."""
    vdf, sdf = mmr_inputs
    rows = sorted(
        knn.mmr_rerank(vdf, sdf, k=3, lam=0.5).collect(), key=lambda r: r.rank
    )
    assert [r.id for r in rows] == [1, 3, 2]
    # distances are the ORIGINAL shortlist relevance, untouched by MMR
    assert [r.distance for r in rows] == [0.0, 0.5, 0.1]


def test_mmr_rerank_k_truncates_and_validates(spark, mmr_inputs):
    vdf, sdf = mmr_inputs
    assert knn.mmr_rerank(vdf, sdf, k=2, lam=0.7).count() == 2
    with pytest.raises(ValueError, match="lam"):
        knn.mmr_rerank(vdf, sdf, k=2, lam=1.5)


# ---------------------------------------------------------------------------
# matryoshka_knn (MRL truncated-prefix cascade)
# ---------------------------------------------------------------------------
def _mrl_reference(V, Q, k, prefix, shortlist_k, metric):
    """Dense two-stage reference: shortlist on prefix dims, exact re-score."""
    out = {}
    M1 = D.pairwise(metric, V[:, :prefix].astype(np.float64),
                    Q[:, :prefix].astype(np.float64))
    M2 = D.pairwise(metric, V.astype(np.float64), Q.astype(np.float64))
    for j in range(Q.shape[0]):
        short = np.lexsort((np.arange(len(V)), M1[:, j]))[:shortlist_k]
        order = sorted(short, key=lambda i: (M2[i, j], i))[:k]
        out[j] = [int(i) for i in order]
    return out


@pytest.mark.parametrize("metric", [D.L2, D.COSINE])
def test_matryoshka_matches_dense_reference(spark, corpus, queries, metric):
    df, V = corpus
    qdf, Q = queries
    got = knn.matryoshka_knn(
        df, qdf, k=5, prefix_dim=8, shortlist_k=40, metric=metric
    ).collect()
    want = _mrl_reference(V, Q, 5, 8, 40, metric)
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["id"])
    assert by_q == want


def test_matryoshka_full_prefix_equals_exact(spark, corpus, queries):
    """prefix_dim = full width + shortlist >= corpus -> identical to
    exact_knn (the cascade is lossless when nothing is truncated)."""
    df, V = corpus
    qdf, _ = queries
    got = knn.matryoshka_knn(
        df, qdf, k=5, prefix_dim=32, shortlist_k=300, metric=D.L2
    ).collect()
    exact = knn.exact_knn(df, qdf, k=5, metric=D.L2).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["id"]) for r in rows)
    assert key(got) == key(exact)


def test_matryoshka_stage2_distance_is_full_width(spark, corpus, queries):
    """Reported distances are FULL-dimension distances, not prefix ones."""
    df, V = corpus
    qdf, Q = queries
    got = knn.matryoshka_knn(
        df, qdf, k=3, prefix_dim=8, shortlist_k=40, metric=D.L2
    ).collect()
    for r in got:
        want = float(np.sum((V[r["id"]].astype(np.float64)
                             - Q[r["query_id"]].astype(np.float64)) ** 2))
        assert abs(r["distance"] - want) < 1e-6


def test_matryoshka_validation(spark, corpus, queries):
    df, _ = corpus
    qdf, _ = queries
    with pytest.raises(ValueError, match="prefix_dim"):
        knn.matryoshka_knn(df, qdf, k=5, prefix_dim=0)
    with pytest.raises(ValueError, match="shortlist_k"):
        knn.matryoshka_knn(df, qdf, k=5, prefix_dim=8, shortlist_k=3)


def test_topk_merge_single_exchange_equals_two_window(spark):
    """The one-exchange merge (min-distance aggregate dedup + shared rank
    window) must return EXACTLY the rows of the two-window shape (a
    row_number dedup window per (query_id, id), then the rank window),
    including multi-list duplicates with differing distances (keep the
    min) and (distance, id) tie-breaks."""
    from pyspark.sql import Window

    rows = [
        # (query_id, id, distance) — id 7 appears twice for q1 (keep 0.5),
        # q2 has a distance tie broken by id
        (1, 7, 0.9), (1, 7, 0.5), (1, 3, 0.7), (1, 9, 0.7), (1, 2, 2.0),
        (2, 4, 1.0), (2, 1, 1.0), (2, 8, 0.1),
    ]
    cand = spark.createDataFrame(
        rows, "query_id long, id long, distance double"
    )
    a = {tuple(r) for r in knn.topk_per_query(cand, 3).collect()}
    dd = Window.partitionBy("query_id", "id").orderBy(F.col("distance").asc())
    rk = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("id").asc()
    )
    two_window = (
        cand.withColumn("__dd", F.row_number().over(dd))
        .filter(F.col("__dd") == 1)
        .withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", "id", "distance")
    )
    b = {tuple(r) for r in two_window.collect()}
    assert a == b
    assert (1, 1, 7, 0.5) in a  # dedup kept the min distance
    # q2 tie at 1.0 broke to the smaller id at rank 2
    assert (2, 2, 1, 1.0) in a and (2, 3, 4, 1.0) in a
