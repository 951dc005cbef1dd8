from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
from cuda_acceleratedvectordatabaseengine_spark.metrics import mean_recall
from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans, knn
from cuda_acceleratedvectordatabaseengine_spark.sources import tables
from cuda_acceleratedvectordatabaseengine_spark.sources.epochs import EpochManager


@pytest.fixture(scope="module")
def emb_corpus(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )


@pytest.fixture(scope="module")
def emb_queries(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


@pytest.fixture(scope="module")
def index(spark, sf_dir, emb_corpus, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("indexes"))
    emb = tables.load(spark, sf_dir, "embeddings")
    init = kmeans.label_centroids(emb)  # deterministic init (FIXTURES.md §2)
    return ivf.IVFIndex.build(
        emb_corpus, base, "emb_l2", nlist=10, metric=D.L2, init=init, max_iter=2
    )


def test_full_probe_equals_exact(spark, index, emb_corpus, emb_queries):
    # IVF completeness: nprobe = nlist ⇒ identical to brute force
    # (FIXTURES.md invariant)
    approx = index.search(emb_queries, k=10, nprobe=10)
    exact = knn.exact_knn(emb_corpus, emb_queries, k=10, metric=D.L2)
    assert mean_recall(approx, exact) == 1.0
    # distances too, not just ids
    a = {(r["query_id"], r["id"]): r["distance"] for r in approx.collect()}
    e = {(r["query_id"], r["id"]): r["distance"] for r in exact.collect()}
    assert a.keys() == e.keys()
    for key in a:
        assert abs(a[key] - e[key]) < 1e-9


def test_recall_monotone_in_nprobe(spark, index, emb_corpus, emb_queries):
    exact = knn.exact_knn(emb_corpus, emb_queries, k=10, metric=D.L2)
    recalls = [
        mean_recall(index.search(emb_queries, k=10, nprobe=p), exact)
        for p in (1, 2, 5, 10)
    ]
    assert all(b >= a - 1e-12 for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0
    assert recalls[0] > 0.3  # label-centroid lists are informative


def test_search_invariants(spark, index, emb_queries):
    res = index.search(emb_queries, k=5, nprobe=3).collect()
    per_q = {}
    for r in res:
        assert 0 <= r["id"] < 2000
        assert np.isfinite(r["distance"]) and r["distance"] >= 0
        per_q.setdefault(r["query_id"], []).append(r)
    assert len(per_q) == 20
    for rs in per_q.values():
        rs.sort(key=lambda r: r["rank"])
        ds = [r["distance"] for r in rs]
        assert ds == sorted(ds)
        ids = [r["id"] for r in rs]
        assert len(ids) == len(set(ids))


def test_dimension_validation(spark, index):
    bad = spark.createDataFrame([(0, [1.0, 2.0])], "query_id long, qvec array<float>")
    with pytest.raises(ValueError, match="dimension"):
        index.search(bad, k=5)


def test_empty_batch_rejected(spark, index, emb_queries):
    with pytest.raises(ValueError, match="empty"):
        index.search(emb_queries.filter(F.col("query_id") < 0), k=5)


def test_partition_pruning_in_plan(spark, index, emb_queries):
    # the probe decision must become a parquet partition filter
    qids, Q = knn.collect_query_matrix(emb_queries.limit(1))
    probe = ivf.select_nprobe_lists(index.centroids, Q, 2, D.L2)
    needed = sorted({int(x) for x in probe.ravel()})
    plan = index.vectors.filter(
        F.col("list_id").isin(needed)
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan


def test_epoch_lifecycle(spark, emb_corpus, tmp_path):
    base = str(tmp_path)
    emb_small = emb_corpus.limit(100)
    C = np.zeros((4, 64))
    idx1 = ivf.IVFIndex.build(
        emb_small, base, "life", nlist=4, init=C, train=False
    )
    mgr = EpochManager(base, "life")
    assert mgr.active_epoch() == 1
    idx2 = ivf.IVFIndex.build(emb_small, base, "life", nlist=4, init=C, train=False)
    assert mgr.active_epoch() == 2
    assert mgr.list_epochs() == [1, 2]
    # manifests are self-describing
    m = mgr.read_manifest(2)
    assert m.num_vectors == 100 and m.nlist == 4 and m.dimension == 64
    # activation pins the epoch a reader resolves
    mgr.activate(1)
    assert ivf.IVFIndex.load(spark, base, "life").epoch == 1
    with pytest.raises(ValueError):
        mgr.activate(99)


def test_epoch_gc_keeps_newest_and_active(spark, emb_corpus, tmp_path):
    base = str(tmp_path)
    emb_small = emb_corpus.limit(50)
    C = np.zeros((2, 64))
    for _ in range(5):
        ivf.IVFIndex.build(emb_small, base, "gc", nlist=2, init=C, train=False)
    mgr = EpochManager(base, "gc")
    assert mgr.list_epochs() == [1, 2, 3, 4, 5]
    mgr.activate(1)  # active epoch outside the newest-3 window
    doomed = mgr.cleanup(keep=3)
    assert doomed == [2]  # 1 survives (active), 3..5 survive (newest 3)
    assert mgr.list_epochs() == [1, 3, 4, 5]


def test_stats_and_warmup(spark, index):
    st = index.stats()
    assert st["num_vectors"] == 2000 or st["num_vectors"] == 500
    assert st["nlist"] == 10
    assert sum(st["list_sizes"].values()) == st["num_vectors"]
    cached = index.warmup(lists=[0, 1])
    assert cached.count() == st["list_sizes"].get(0, 0) + st["list_sizes"].get(1, 0)


def test_stats_balance_block(spark, index):
    """r10: balance summary — the quantizer property train-sample size
    buys (PERF.md r10) — must be self-consistent with list_sizes and
    carry the closed-form probe amplification 1 + CV^2."""
    st = index.stats()
    b = st["balance"]
    arr = np.zeros(st["nlist"])
    for lid, cnt in st["list_sizes"].items():
        arr[lid] = cnt
    mean = arr.mean()
    cv = arr.std() / mean
    assert abs(b["mean_list_size"] - mean) < 1e-9
    assert abs(b["list_size_cv"] - cv) < 1e-3
    assert b["max_list_size"] == int(arr.max())
    assert b["empty_lists"] == int((arr == 0).sum())
    assert abs(b["probe_amplification_est"] - (1 + cv * cv)) < 2e-3
    assert b["probe_amplification_est"] >= 1.0


def test_compact_preserves_results_new_epoch(spark, emb_corpus, emb_queries, tmp_path):
    emb_init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(6).collect()],
        dtype=np.float64,
    )
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "to_compact", nlist=6, init=emb_init, train=False
    )
    before = {
        (r.query_id, r.rank, r.id)
        for r in idx.search(emb_queries, k=5, nprobe=6).collect()
    }
    compacted = idx.compact()
    # new epoch, activated; source epoch untouched
    assert compacted.epoch == idx.epoch + 1
    assert compacted.manager.active_epoch() == compacted.epoch
    assert idx.manager.read_manifest(idx.epoch).num_vectors == compacted.manifest.num_vectors
    after = {
        (r.query_id, r.rank, r.id)
        for r in compacted.search(emb_queries, k=5, nprobe=6).collect()
    }
    assert before == after
    # layout actually coalesced: one file chain per list partition
    import glob

    parts = glob.glob(f"{compacted.manager.vectors_path(compacted.epoch)}/list_id=*/")
    assert len(parts) == 6


def test_access_stats_lfu(spark, index, emb_queries):
    fresh = ivf.IVFIndex.load(
        spark, index.manager.base_dir, index.manager.index_name
    )
    assert fresh.access_count == {} and fresh.search_seq == 0
    nq = emb_queries.count()
    fresh.search(emb_queries, k=5, nprobe=2).count()
    # every query probes exactly 2 lists -> total access count is 2*nq
    assert sum(fresh.access_count.values()) == 2 * nq
    assert all(seq == 1 for seq in fresh.last_access_seq.values())
    fresh.search(emb_queries, k=5, nprobe=1).count()
    assert sum(fresh.access_count.values()) == 3 * nq
    assert fresh.search_seq == 2
    # nprobe=1 touches the rank-1 lists again: their last_access_seq moved
    assert max(fresh.last_access_seq.values()) == 2
    # hot_lists ranking: count desc, list_id asc; warmup defaults to it
    ranked = fresh.hot_lists()
    counts = [c for _, c in ranked]
    assert counts == sorted(counts, reverse=True)
    top1 = fresh.hot_lists(1)[0][0]
    sizes = fresh.stats()["list_sizes"]
    assert fresh.warmup(top=1).count() == sizes[top1]
    df = fresh.access_stats_df()
    assert df.columns == ["list_id", "access_count", "last_access_seq"]
    assert df.count() == len(fresh.access_count)


def test_rerank_exact_identity_on_flat(spark, index, emb_queries):
    # IVF-Flat distances are already exact: rerank is a semantic identity
    plain = index.search(emb_queries, k=5, nprobe=4)
    rr = index.search(emb_queries, k=5, nprobe=4, rerank_exact=True, rerank_k=20)
    a = [(r["query_id"], r["rank"], r["id"]) for r in plain.orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["rank"], r["id"]) for r in rr.orderBy("query_id", "rank").collect()]
    assert a == b


def test_search_batch_heterogeneous_params(spark, index, emb_corpus):
    """search_batch (ivf_flat_index.h:55): per-request params, fused by
    param group, results identical to per-request search() calls."""
    from cuda_acceleratedvectordatabaseengine_spark.metrics import (
        LatencyRecorder,
        latency_summary,
    )

    vecs = {r["id"]: r["vector"] for r in emb_corpus.limit(6).collect()}
    ids = sorted(vecs)
    reqs = [
        ivf.SearchRequest(query_id=ids[0], qvec=vecs[ids[0]], k=3, nprobe=2),
        ivf.SearchRequest(query_id=ids[1], qvec=vecs[ids[1]], k=3, nprobe=2),
        ivf.SearchRequest(query_id=ids[2], qvec=vecs[ids[2]], k=5, nprobe=10),
        ivf.SearchRequest(
            query_id=ids[3], qvec=vecs[ids[3]], k=2, nprobe=10,
            rerank_exact=True, rerank_k=8,
        ),
    ]
    rec = LatencyRecorder()
    got = index.search_batch(reqs, recorder=rec)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
    # row counts per request k
    assert {q: len(v) for q, v in by_q.items()} == {
        ids[0]: 3, ids[1]: 3, ids[2]: 5, ids[3]: 2
    }
    # each request matches its individual search
    for req in reqs:
        qdf = spark.createDataFrame(
            [(req.query_id, req.qvec)], "query_id long, qvec array<float>"
        )
        solo = index.search(
            qdf, k=req.k, nprobe=req.nprobe,
            rerank_exact=req.rerank_exact, rerank_k=req.rerank_k,
        )
        exp = sorted((r["rank"], r["id"]) for r in solo.collect())
        assert sorted(by_q[req.query_id]) == exp
    # latency recorder: one row per param group, request counts conserved
    assert len(rec.rows) == 3
    assert sum(r[2] for r in rec.rows) == 4
    assert latency_summary(rec.requests_df(spark)).collect()[0]["cnt"] == 4
    # duplicate ids rejected
    with pytest.raises(ValueError, match="duplicate"):
        index.search_batch([reqs[0], reqs[0]])
    with pytest.raises(ValueError, match="empty"):
        index.search_batch([])


def test_search_batch_concurrent_groups_match_serial(spark, index, emb_corpus):
    """Concurrent group submission (the reference's parallel batch
    processors, query_service.cpp:267-285) must produce exactly the serial
    results — groups are independent by construction — and must not be
    slower than draining the same groups serially."""
    import time

    vecs = {r["id"]: r["vector"] for r in emb_corpus.limit(6).collect()}
    ids = sorted(vecs)
    reqs = [
        ivf.SearchRequest(query_id=ids[0], qvec=vecs[ids[0]], k=3, nprobe=2),
        ivf.SearchRequest(query_id=ids[1], qvec=vecs[ids[1]], k=3, nprobe=2),
        ivf.SearchRequest(query_id=ids[2], qvec=vecs[ids[2]], k=5, nprobe=10),
        ivf.SearchRequest(query_id=ids[3], qvec=vecs[ids[3]], k=4, nprobe=4),
        ivf.SearchRequest(
            query_id=ids[4], qvec=vecs[ids[4]], k=2, nprobe=10,
            rerank_exact=True, rerank_k=8,
        ),
    ]

    def rows_of(df):
        return sorted((r["query_id"], r["rank"], r["id"]) for r in df.collect())

    from cuda_acceleratedvectordatabaseengine_spark.metrics import LatencyRecorder

    # warm both paths once (JIT/classloading), then time the EAGER serial
    # drain (recorder forces per-group materialization — the drain the
    # concurrent mode exists to overlap) against concurrent submission
    serial = rows_of(index.search_batch(reqs))
    t0 = time.perf_counter()
    serial2 = rows_of(index.search_batch(reqs, recorder=LatencyRecorder()))
    t_serial = time.perf_counter() - t0
    t0 = time.perf_counter()
    conc = rows_of(
        index.search_batch(reqs, recorder=LatencyRecorder(), max_concurrency=4)
    )
    t_conc = time.perf_counter() - t0
    assert conc == serial == serial2
    # overlap must not LOSE time; generous margin for scheduler noise
    assert t_conc <= t_serial * 1.5, (t_conc, t_serial)
    # pool property untouched in the threads' parent
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_list_tier_concurrent_fills_match_the_lazy_plan(spark, index, emb_corpus):
    """Groups submitted from more threads than cores onto a fresh handle
    fill its list tier under one lock and score on the driver with
    per-thread workspaces: every group's rows, distances included, equal
    the lazy ``search`` plan's, the tier holds every probed list once, and
    its byte count matches its blocks (a lost update would break it)."""
    import sys

    fresh = ivf.IVFIndex.load(
        spark, index.manager.base_dir, index.manager.index_name
    )
    vecs = {r["id"]: r["vector"] for r in emb_corpus.limit(32).collect()}
    reqs = [
        ivf.SearchRequest(query_id=qid, qvec=v, k=5, nprobe=1 + j % 8)
        for j, (qid, v) in enumerate(sorted(vecs.items()))
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        got = sorted(
            tuple(r)
            for r in fresh.search_batch(reqs, max_concurrency=8).collect()
        )
    finally:
        sys.setswitchinterval(interval)
    want = []
    for nprobe in range(1, 9):
        group = [r for r in reqs if r.nprobe == nprobe]
        qdf = spark.createDataFrame(
            [(r.query_id, r.qvec) for r in group],
            "query_id long, qvec array<float>",
        )
        want += [tuple(r) for r in index.search(qdf, k=5, nprobe=nprobe).collect()]
    assert got == sorted(want)
    assert set(fresh._tier) == set(fresh.access_count)
    assert fresh._tier_bytes == sum(b.nbytes for b in fresh._tier.values())


def test_warmup_evict_cycle(spark, index):
    fresh = ivf.IVFIndex.load(
        spark, index.manager.base_dir, index.manager.index_name
    )
    a = fresh.warmup(lists=[0, 1])
    assert a.is_cached
    assert fresh.warmup(lists=[1, 0]) is a  # registry hit, no re-cache
    b = fresh.warmup(lists=[2])
    # evicting list 1 releases the {0,1} set but not {2}
    assert fresh.evict([1]) == 1
    assert not a.is_cached and b.is_cached
    assert fresh.evict() == 1
    assert not b.is_cached
    assert fresh.evict() == 0


def test_search_batch_priority_order(spark, index, emb_corpus):
    """V6: the fused group containing the most urgent request runs first
    (load_balancer.cpp:273-329); results are unaffected by ordering."""
    from cuda_acceleratedvectordatabaseengine_spark.metrics import LatencyRecorder
    from cuda_acceleratedvectordatabaseengine_spark.streaming.flow import Priority

    vecs = {r["id"]: r["vector"] for r in emb_corpus.limit(3).collect()}
    ids = sorted(vecs)
    reqs = [
        # two LOW requests whose params sort FIRST lexicographically...
        ivf.SearchRequest(query_id=ids[0], qvec=vecs[ids[0]], k=2, nprobe=2,
                          priority=Priority.LOW),
        ivf.SearchRequest(query_id=ids[1], qvec=vecs[ids[1]], k=2, nprobe=2,
                          priority=Priority.LOW),
        # ...and one URGENT request with later-sorting params
        ivf.SearchRequest(query_id=ids[2], qvec=vecs[ids[2]], k=5, nprobe=10,
                          priority=Priority.URGENT),
    ]
    rec = LatencyRecorder()
    got = index.search_batch(reqs, recorder=rec, use_scheduler_pools=True)
    # urgent group (1 request) recorded before the low group (2 requests)
    assert [r[2] for r in rec.rows] == [1, 2]
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert {q: len(v) for q, v in by_q.items()} == {ids[0]: 2, ids[1]: 2, ids[2]: 5}
    # pool restored after the batch
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_murmur3_matches_spark_hash(spark):
    """The driver-side murmur3 used for exact epoch-write routing must be
    bit-for-bit Spark's F.hash on IntegerType — partition placement depends
    on it. Covers negatives and large magnitudes."""
    from cuda_acceleratedvectordatabaseengine_spark.sources import epochs as EP

    vals = list(range(0, 200)) + [-1, -200, 2**31 - 1, -(2**31), 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    got = {r["x"]: r["h"] for r in df.select("x", F.hash("x").alias("h")).collect()}
    for v in vals:
        assert EP._murmur3_int32(v) == got[v], v


def test_partition_tokens_cover_every_slot():
    from cuda_acceleratedvectordatabaseengine_spark.sources import epochs as EP

    for nlist in (1, 2, 7, 128, 1024):
        toks = EP.partition_tokens(nlist)
        assert toks is not None
        slots = {EP._murmur3_int32(t) % nlist for t in toks}
        assert slots == set(range(nlist))


def test_epoch_write_one_list_per_task(spark, emb_corpus, tmp_path):
    """Exact shuffle routing: every inverted list lands alone in its write
    task, so each list_id directory holds exactly one parquet file and no
    task carried two lists (the balls-in-bins straggler the token routing
    exists to kill)."""
    emb = emb_corpus
    init = np.asarray(
        [r["vector"] for r in emb.orderBy("id").limit(10).collect()], dtype=np.float64
    )
    idx = ivf.IVFIndex.build(
        emb, str(tmp_path), "routed", nlist=10, metric=D.L2, init=init, train=False
    )
    vdir = idx.manager.vectors_path(idx.epoch)
    for name in sorted(os.listdir(vdir)):
        if not name.startswith("list_id="):
            continue
        parts = [f for f in os.listdir(os.path.join(vdir, name)) if f.endswith(".parquet")]
        assert len(parts) == 1, f"{name} written by {len(parts)} tasks"
    # index still searches correctly after routing
    q = emb.limit(3).select(F.col("id").alias("query_id"), F.col("vector").alias("qvec"))
    assert idx.search(q, k=5, nprobe=10).count() == 15


def test_broadcast_routing_matches_literal_routing(spark):
    """Above ROUTING_LITERAL_MAX the token lookup switches from an inline
    array literal to a broadcast mapping join; both must place every
    list_id alone in its own shuffle partition."""
    from cuda_acceleratedvectordatabaseengine_spark.sources import epochs as EP

    nlist = 16
    df = spark.createDataFrame(
        [(i, i % nlist) for i in range(160)], "id long, list_id int"
    )
    for literal_max in (EP.ROUTING_LITERAL_MAX, 4):  # literal vs broadcast path
        routed = EP.route_to_list_partitions(df, nlist, literal_max=literal_max)
        assert routed.columns == df.columns
        per_part = routed.rdd.mapPartitions(
            lambda it: [set(r["list_id"] for r in it)]
        ).collect()
        non_empty = [s for s in per_part if s]
        assert len(non_empty) == nlist
        assert all(len(s) == 1 for s in non_empty)


def test_capacity_driven_lfu_eviction(spark, index):
    """V9 capacity policy (GpuCache declaration, ivf_flat_index.h:191-222):
    warming past the byte budget evicts the coldest set (lowest summed
    access_count); the hot set stays pinned."""
    fresh = ivf.IVFIndex.load(
        spark, index.manager.base_dir, index.manager.index_name
    )
    # make lists 0/1 hot, list 2 cold
    fresh.access_count = {0: 50, 1: 50, 2: 1}
    hot = fresh.warmup(lists=[0, 1])
    cold = fresh.warmup(lists=[2])
    assert hot.is_cached and cold.is_cached
    # budget that fits roughly one set -> the cold {2} set must go
    budget = fresh._warm_bytes[frozenset({0, 1})]
    evicted = fresh.set_warm_budget(budget)
    assert evicted == [frozenset({2})]
    assert hot.is_cached and not cold.is_cached
    # a new cold warm immediately overflows and is itself evicted — and the
    # caller is TOLD so (ADVICE r03: no silent unpinned returns)
    cold2 = fresh.warmup(lists=[2])
    assert not cold2.is_cached and hot.is_cached
    assert fresh.last_warmup_evicted
    # clearing the budget stops enforcement
    fresh.set_warm_budget(None)
    again = fresh.warmup(lists=[2])
    assert again.is_cached and hot.is_cached
    assert not fresh.last_warmup_evicted
    fresh.evict()


def test_incremental_add_delta_epochs(spark, emb_corpus, tmp_path):
    """Reference add() parity (ivf_flat_index.cpp:148-202) on immutable
    epochs: the delta epoch holds ONLY the new vectors, readers union the
    chain, counts are cumulative, search sees both generations, compact
    collapses the chain, and GC never orphans a parent."""
    mid = emb_corpus.agg(F.expr("percentile(id, 0.5)")).collect()[0][0]
    base_df = emb_corpus.filter(F.col("id") < mid)
    delta_df = emb_corpus.filter(F.col("id") >= mid)
    n_base, n_delta = base_df.count(), delta_df.count()
    assert n_base > 0 and n_delta > 0
    probe_base = base_df.orderBy("id").limit(1).collect()[0]["id"]
    probe_delta = delta_df.orderBy(F.col("id").desc()).limit(1).collect()[0]["id"]

    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(10).collect()],
        dtype=np.float64,
    )
    idx = ivf.IVFIndex.build(
        base_df, str(tmp_path), "chain", nlist=10, metric=D.L2,
        init=init, train=False,
    )
    idx2 = idx.add(delta_df)

    assert idx2.manifest.parent_epoch == idx.epoch
    assert idx2.manifest.num_vectors == n_base + n_delta
    assert idx2.vectors.count() == n_base + n_delta
    # the delta epoch dir holds only the delta rows (O(delta) write)
    delta_only = spark.read.parquet(idx2.manager.vectors_path(idx2.epoch))
    assert delta_only.count() == n_delta

    # full-probe search over the chain == brute force over the union
    q = emb_corpus.filter(F.col("id").isin(probe_base, probe_delta)).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = idx2.search(q, k=5, nprobe=10)
    want = knn.exact_knn(
        emb_corpus.select("id", "vector"), q, k=5, metric=D.L2
    )
    gr = {(r["query_id"], r["rank"]): r["id"] for r in got.collect()}
    wr = {(r["query_id"], r["rank"]): r["id"] for r in want.collect()}
    assert gr == wr
    # both generations are reachable (their own vector is each query's top-1)
    assert gr[(probe_base, 1)] == probe_base
    assert gr[(probe_delta, 1)] == probe_delta

    # compact collapses the chain into a full epoch with the same answers
    flat = idx2.compact()
    assert flat.manifest.parent_epoch is None
    assert flat.manifest.num_vectors == n_base + n_delta
    got2 = {(r["query_id"], r["rank"]): r["id"] for r in
            flat.search(q, k=5, nprobe=10).collect()}
    assert got2 == wr

    # GC keeps ancestors of retained epochs: chain epochs 1<-2, plus 3
    # (compacted, active). keep=1 would doom 1 and 2, but 2's survival is
    # moot — only ancestor-safety matters: activate the DELTA epoch and GC
    flat.manager.activate(idx2.epoch)
    doomed = flat.manager.cleanup(keep=1)
    remaining = flat.manager.list_epochs()
    assert idx2.epoch in remaining and idx.epoch in remaining  # parent kept
    assert flat.epoch in remaining  # newest kept
    assert doomed == []
    # reload through the chain still works after GC
    reloaded = ivf.IVFIndex.load(spark, str(tmp_path), "chain")
    assert reloaded.vectors.count() == n_base + n_delta


def test_filtered_search_matches_filtered_exact(spark, index, emb_corpus, emb_queries):
    """Filtered ANN: search(where=...) must equal exact kNN over the
    filtered corpus at fullprobe (both flat and through search_batch), and
    the predicate must reach the parquet reader as a pushed filter."""
    import io
    from contextlib import redirect_stdout

    qdf = emb_queries.limit(5)
    got = index.search(qdf, k=5, nprobe=10, where="id % 3 = 0")
    rows = got.collect()
    assert rows and all(r["id"] % 3 == 0 for r in rows)
    exact = knn.exact_knn(
        emb_corpus.filter(F.col("id") % 3 == 0), qdf, k=5, metric=D.L2
    )
    want = sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())
    assert sorted((r["query_id"], r["rank"], r["id"]) for r in rows) == want

    # rerank keeps the predicate on the join-back source
    rr = index.search(
        qdf, k=5, nprobe=10, where="id % 3 = 0", rerank_exact=True, rerank_k=20
    )
    assert sorted((r["query_id"], r["rank"], r["id"]) for r in rr.collect()) == want

    # the predicate is pushed into the parquet scan, not applied post-hoc
    buf = io.StringIO()
    with redirect_stdout(buf):
        index.search(qdf, k=5, nprobe=10, where="id % 3 = 0").explain("formatted")
    plan = buf.getvalue()
    pushed = [seg.splitlines()[0] for seg in plan.split("PushedFilters")[1:]]
    assert pushed and any("id" in p for p in pushed)

    # search_batch carries the predicate per request (param-group fusion)
    reqs = [
        ivf.SearchRequest(query_id=r["query_id"], qvec=r["qvec"], k=5,
                          nprobe=10, where="id % 3 = 0")
        for r in qdf.collect()
    ]
    batch = index.search_batch(reqs)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in batch.collect()
    ) == want


def test_delete_tombstone_epochs(spark, emb_corpus, emb_queries, tmp_path):
    """Delete-by-id via tombstone delta epochs: O(delta) write, deleted ids
    vanish from search, a later re-add wins, compaction materializes."""
    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(6).collect()],
        dtype=np.float64,
    )
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "with_del", nlist=6, init=init, train=False
    )
    n = emb_corpus.count()
    victims = [r["id"] for r in emb_corpus.filter(F.col("id") % 5 == 0).collect()]
    deleted = idx.delete(victims)
    assert deleted.manager.active_epoch() == deleted.epoch
    assert deleted.vectors.count() == n - len(victims)
    assert deleted.manifest.num_vectors == n - len(victims)
    # a deleted vector's own embedding no longer finds it
    victim = victims[0]
    qdf = emb_corpus.filter(F.col("id") == victim).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = deleted.search(qdf, k=3, nprobe=6).collect()
    assert got and all(r["id"] not in set(victims) for r in got)

    # re-add one deleted id: the NEWER epoch wins over the tombstone
    readd = deleted.add(emb_corpus.filter(F.col("id") == victim))
    assert readd.vectors.count() == n - len(victims) + 1
    top = readd.search(qdf, k=1, nprobe=6).collect()
    assert top and top[0]["id"] == victim

    # compaction materializes: one full epoch, tombstones gone
    compacted = readd.compact()
    assert compacted.manifest.parent_epoch is None
    assert compacted.manifest.num_tombstones == 0
    assert compacted.vectors.count() == n - len(victims) + 1
    assert not os.path.isdir(
        compacted.manager.tombstones_path(compacted.epoch)
    )


def test_pq_chain_respects_tombstones(spark, emb_corpus, tmp_path):
    """PQ serving over a chain with a tombstone tip: codes exclude deleted
    ids, the handle loads (codebooks resolved from the PQ ancestor), and a
    deleted vector is unreachable through ADC + rerank."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import pq

    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(6).collect()],
        dtype=np.float64,
    )
    base = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "pq_del", nlist=6, init=init, train=False
    )
    pq.IVFPQIndex.build_from_ivf(base, m=16, nbits=8, seed=42)
    victims = [r["id"] for r in emb_corpus.limit(7).collect()]
    base.delete(victims)

    served = pq.IVFPQIndex.load(spark, str(tmp_path), "pq_del")
    n = emb_corpus.count()
    assert served.codes.count() == n - len(victims)
    qdf = emb_corpus.filter(F.col("id") == victims[0]).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = served.search(qdf, k=3, nprobe=6, rerank_exact=True, rerank_k=10).collect()
    assert got and all(r["id"] not in set(victims) for r in got)



def test_sq_cascade_survives_delete(spark, emb_corpus, tmp_path):
    """The SQ cascade keeps serving after a delete: the tombstone-only tip
    resolves the sidecar from its SQ-encoded ancestor, so cascade="sq"
    still answers — k rows per query, no deleted id, and every live query
    vector ranks itself first."""
    from cuda_acceleratedvectordatabaseengine_spark.operators.sq import (
        IVFSQIndex,
    )

    init = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").limit(6).collect()],
        dtype=np.float64,
    )
    base = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "sq_casc_del", nlist=6, init=init, train=False
    )
    IVFSQIndex.build_from_ivf(base)
    victims = [r["id"] for r in emb_corpus.orderBy("id").limit(4).collect()]
    base.delete(victims)

    served = ivf.IVFIndex.load(spark, str(tmp_path), "sq_casc_del")
    live = [
        r["id"]
        for r in emb_corpus.filter(~F.col("id").isin(victims))
        .orderBy("id").limit(6).collect()
    ]
    qdf = emb_corpus.filter(F.col("id").isin(victims[:2] + live)).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    k = 5
    got = served.search(qdf, k=k, nprobe=6, cascade="sq").collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == sorted(victims[:2] + live)
    assert all(len(rs) == k for rs in by_q.values())
    assert all(r["id"] not in set(victims) for r in got)
    for qid in live:
        assert min(by_q[qid], key=lambda r: r["rank"])["id"] == qid


# -- range (radius) search --------------------------------------------------


def _range_radius_for(spark, emb_corpus, emb_queries, k=15):
    """Data-derived radius: the max k-th NN distance over the query batch,
    so every query has hits and result sizes stay modest."""
    exact = knn.exact_knn(emb_corpus, emb_queries, k=k, metric=D.L2)
    return exact.filter(F.col("rank") == k).agg(F.max("distance")).collect()[0][0]


def _range_rows(df):
    return {
        (r["query_id"], r["id"]): r["distance"]
        for r in df.select("query_id", "id", "distance").collect()
    }


def test_range_search_matches_bruteforce(spark, index, emb_corpus, emb_queries):
    radius = _range_radius_for(spark, emb_corpus, emb_queries)
    brute = _range_rows(knn.range_search(emb_corpus, emb_queries, radius, metric=D.L2))
    pruned = _range_rows(index.range_search(emb_queries, radius))
    assert brute.keys() == pruned.keys()
    for key in brute:
        assert abs(brute[key] - pruned[key]) < 1e-9
    # and both equal the definitional filter over exact distances
    qids, Q = knn.collect_query_matrix(emb_queries)
    V = np.asarray(
        [r["vector"] for r in emb_corpus.orderBy("id").collect()], dtype=np.float64
    )
    ids = np.asarray([r["id"] for r in emb_corpus.orderBy("id").collect()])
    dmat = D.pairwise(D.L2, V, Q)
    expect = {
        (int(qids[c]), int(ids[r])): dmat[r, c]
        for r, c in zip(*np.nonzero(dmat <= radius))
    }
    assert expect.keys() == brute.keys()


def test_range_pruning_skips_lists_and_stays_exact(spark, tmp_path):
    # Well-separated clusters: the covering-radius bound MUST prune. (The
    # sf embeddings are near-uniform 64-d where covering balls overlap
    # everything — pruning is data-dependent, so we pin it on data with
    # actual cluster structure.)
    rng = np.random.default_rng(7)
    centers = np.array(
        [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]], dtype=np.float64
    )
    rows = []
    for ci, c in enumerate(centers):
        pts = c + rng.normal(scale=0.5, size=(50, 2))
        rows += [
            (ci * 50 + i, [float(x) for x in p]) for i, p in enumerate(pts)
        ]
    corpus = spark.createDataFrame(rows, "id long, vector array<float>")
    idx = ivf.IVFIndex.build(
        corpus, str(tmp_path), "range_clust", nlist=4, init=centers, train=False
    )
    one_q = spark.createDataFrame(
        [(0, [0.1, -0.2])], "query_id long, qvec array<float>"
    )
    radius = 4.0  # squared L2: covers cluster 0 spread, far from others
    qids, Q = knn.collect_query_matrix(one_q)
    mask = ivf.select_range_lists(idx.centroids, Q, radius, idx.list_radii(), D.L2)
    assert mask.sum() < idx.manifest.nlist, "expected pruning at a tight radius"
    brute = _range_rows(knn.range_search(corpus, one_q, radius, metric=D.L2))
    pruned = _range_rows(idx.range_search(one_q, radius))
    assert brute.keys() == pruned.keys() and len(brute) >= 3


def test_range_search_max_results_cap(spark, index, emb_corpus, emb_queries):
    radius = _range_radius_for(spark, emb_corpus, emb_queries, k=10)
    capped = index.range_search(emb_queries, radius, max_results=4)
    per_q = {}
    for r in capped.collect():
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["distance"]))
    assert all(len(v) <= 4 for v in per_q.values())
    # cap keeps the NEAREST hits: equals exact top-4 within radius
    exact = knn.exact_knn(emb_corpus, emb_queries, k=4, metric=D.L2)
    e = {(r["query_id"], r["rank"]): r["id"] for r in exact.collect()
         if r["distance"] <= radius}
    c = {(r["query_id"], r["rank"]): r["id"] for r in capped.collect()}
    assert e == c


def test_range_search_cosine_scans_all_lists(spark, index, emb_corpus, emb_queries):
    one_q = emb_queries.limit(1)
    qids, Q = knn.collect_query_matrix(one_q)
    mask = ivf.select_range_lists(
        index.centroids, Q, 0.25, index.list_radii(), D.COSINE
    )
    assert mask.all()  # no valid triangle bound for 1-cos -> no pruning
    brute = _range_rows(
        knn.range_search(emb_corpus, one_q, 0.25, metric=D.COSINE)
    )
    pruned = _range_rows(index.range_search(one_q, 0.25, metric=D.COSINE))
    assert brute.keys() == pruned.keys()


def test_range_search_validation(spark, index, emb_queries):
    with pytest.raises(ValueError, match="radius"):
        index.range_search(emb_queries, -1.0)
    with pytest.raises(ValueError, match="empty"):
        index.range_search(emb_queries.filter(F.col("query_id") < 0), 1.0)


def test_suggest_nprobe_monotone_and_target(spark, sf_dir):
    from cuda_acceleratedvectordatabaseengine_spark import metrics
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans
    from cuda_acceleratedvectordatabaseengine_spark.sources import tables
    import tempfile

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    init = kmeans.label_centroids(emb)
    idx = ivf.IVFIndex.build(
        corpus, tempfile.mkdtemp(prefix="cavde-sweep-"), "sweep",
        nlist=init.shape[0], init=init, train=False,
    )
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    rows = metrics.recall_sweep(idx, corpus, qdf, k=10, nprobes=(1, 2, 4, 8)).collect()
    recalls = [r["mean_recall"] for r in rows]
    # more probes never hurt recall; full-ish probe approaches 1
    assert recalls == sorted(recalls)
    assert recalls[-1] >= 0.9
    # the suggestion meets the target with the smallest qualifying nprobe
    np_pick, sweep = metrics.suggest_nprobe(
        idx, corpus, qdf, target_recall=recalls[-1], k=10, nprobes=(1, 2, 4, 8)
    )
    qualifying = [r["nprobe"] for r in sweep if r["mean_recall"] >= recalls[-1]]
    assert np_pick == min(qualifying)
    with pytest.raises(ValueError, match="target_recall"):
        metrics.suggest_nprobe(idx, corpus, qdf, target_recall=0.0)
    # r10 verdict #3 arithmetic pins: (a) an unreachable target falls
    # back to the LARGEST candidate (the caller learns the target is
    # unreachable at this nlist instead of getting a silent lie), and
    # (b) candidates above nlist clamp to nlist (a full probe) rather
    # than erroring — the sweep the 768-d operating-point probe runs
    # (scripts/recall_operating_point_768d.py) relies on both.
    np_unreach, sweep2 = metrics.suggest_nprobe(
        idx, corpus, qdf, target_recall=1.0, k=10, nprobes=(1,)
    )
    if all(r["mean_recall"] < 1.0 for r in sweep2):
        assert np_unreach == max(r["nprobe"] for r in sweep2)
    nlist = idx.centroids.shape[0]
    np_clamp, sweep3 = metrics.suggest_nprobe(
        idx, corpus, qdf, target_recall=0.99, k=10, nprobes=(nlist * 8,)
    )
    assert np_clamp == nlist
    assert [r["nprobe"] for r in sweep3] == [nlist]
    # r12: early_stop picks the IDENTICAL candidate (smallest meeting the
    # target) while evaluating only the ascending prefix up to it — the
    # returned sweep is that prefix, with per-candidate means matching
    # the full sweep's
    np_es, sweep_es = metrics.suggest_nprobe(
        idx, corpus, qdf, target_recall=recalls[-1], k=10,
        nprobes=(1, 2, 4, 8), early_stop=True,
    )
    assert np_es == np_pick
    assert [r["nprobe"] for r in sweep_es] == [
        r["nprobe"] for r in sweep if r["nprobe"] <= np_pick
    ]
    full = {r["nprobe"]: r["mean_recall"] for r in sweep}
    for r in sweep_es:
        assert r["mean_recall"] == pytest.approx(full[r["nprobe"]], abs=1e-9)
    # unreachable target under early_stop still falls back to the largest
    np_es2, sweep_es2 = metrics.suggest_nprobe(
        idx, corpus, qdf, target_recall=1.0, k=10, nprobes=(1, 2),
        early_stop=True,
    )
    if all(r["mean_recall"] < 1.0 for r in sweep_es2):
        assert np_es2 == 2 and len(sweep_es2) == 2


# ---------------------------------------------------------------------------
# two-level bucketed epoch layout (nlist > epochs.MAX_LIST_DIRS)
# ---------------------------------------------------------------------------
def test_bucketed_layout_write_and_search(
    spark, sf_dir, emb_corpus, emb_queries, tmp_path, monkeypatch
):
    """Above MAX_LIST_DIRS the epoch write switches to list_bucket dirs
    (O(MAX_LIST_DIRS) output dirs regardless of nlist): search results
    stay exactly brute-force at full probe, the pruned scan partition-
    prunes on list_bucket AND pushes the list_id filter, the manifest
    records the layout, and a delta-add chain folds correctly."""
    from cuda_acceleratedvectordatabaseengine_spark.sources import epochs

    monkeypatch.setattr(epochs, "MAX_LIST_DIRS", 8)
    emb = tables.load(spark, sf_dir, "embeddings")
    init = kmeans.label_centroids(emb)
    nlist = init.shape[0]
    assert nlist > 8, "fixture must exceed the patched MAX_LIST_DIRS"
    idx = ivf.IVFIndex.build(
        emb_corpus.filter(F.col("id") % 2 == 0),
        str(tmp_path), "bkt", nlist=nlist, metric=D.L2, init=init, train=False,
    )
    # layout: bucket dirs only, count bounded by the patched cap
    vdir = idx.manager.vectors_path(idx.epoch)
    names = [n for n in os.listdir(vdir) if "=" in n]
    assert names and all(n.startswith("list_bucket=") for n in names)
    assert len(names) <= 8
    assert idx.manifest.extra["lists_per_bucket"] == idx.lists_per_bucket
    # full probe == exact on the base epoch
    half = emb_corpus.filter(F.col("id") % 2 == 0)
    approx = idx.search(emb_queries, k=10, nprobe=nlist)
    exact = knn.exact_knn(half, emb_queries, k=10, metric=D.L2)
    a = {(r["query_id"], r["id"]) for r in approx.collect()}
    e = {(r["query_id"], r["id"]) for r in exact.collect()}
    assert a == e
    # the pruned scan partition-prunes the bucket dirs and pushes list_id
    pruned = epochs.prune_lists(idx.vectors, [0, 1], idx.lists_per_bucket)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "list_bucket" in plan.split("PartitionFilters")[1].splitlines()[0]
    # delta add on the bucketed chain: chain fold + search still exact
    delta = idx.add(emb_corpus.filter(F.col("id") % 2 == 1))
    approx2 = delta.search(emb_queries, k=10, nprobe=nlist)
    exact2 = knn.exact_knn(emb_corpus, emb_queries, k=10, metric=D.L2)
    a2 = {(r["query_id"], r["id"]) for r in approx2.collect()}
    e2 = {(r["query_id"], r["id"]) for r in exact2.collect()}
    assert a2 == e2


def test_bucketed_layout_sidecar_codes(
    spark, sf_dir, emb_corpus, emb_queries, tmp_path, monkeypatch
):
    """SQ sidecar codes follow the same bucketed layout policy and the
    quantized search still matches its flat-layout twin exactly (SQ is
    deterministic, so result equality is a strong check)."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import sq as SQ
    from cuda_acceleratedvectordatabaseengine_spark.sources import epochs

    emb = tables.load(spark, sf_dir, "embeddings")
    init = kmeans.label_centroids(emb)
    nlist = init.shape[0]

    def build(base, cap):
        monkeypatch.setattr(epochs, "MAX_LIST_DIRS", cap)
        base_idx = ivf.IVFIndex.build(
            emb_corpus, base, "sqb", nlist=nlist, metric=D.L2,
            init=init, train=False,
        )
        return SQ.IVFSQIndex.build_from_ivf(base_idx)

    bucketed = build(str(tmp_path / "bucketed"), 8)
    cdir = bucketed.manager.sq_codes_path(bucketed.epoch)
    names = [n for n in os.listdir(cdir) if "=" in n]
    assert names and all(n.startswith("list_bucket=") for n in names)
    flat = build(str(tmp_path / "flat"), 1 << 20)
    got_b = {
        (r["query_id"], r["rank"], r["id"])
        for r in bucketed.search(emb_queries, k=10, nprobe=4).collect()
    }
    got_f = {
        (r["query_id"], r["rank"], r["id"])
        for r in flat.search(emb_queries, k=10, nprobe=4).collect()
    }
    assert got_b == got_f


# ---------------------------------------------------------------------------
# query-locality fusion (_list_scanner fuse path, r7): the fused
# bucket-local GEMM must emit exactly the same post-merge top-k as the
# per-list loop it replaces
# ---------------------------------------------------------------------------
def _scan_batches(scanner, rbs):
    out = []
    for rb in scanner(iter(rbs)):
        q = rb.column(rb.schema.get_field_index("query_id")).to_numpy()
        i = rb.column(rb.schema.get_field_index("id")).to_numpy()
        d = rb.column(rb.schema.get_field_index("distance")).to_numpy()
        out.extend(zip(q.tolist(), i.tolist(), d.tolist()))
    return out


def _merge_topk(cands, k):
    """T4 merge semantics in numpy: dedup by (query, id) keep min dist,
    rank by (distance, id), take k."""
    best = {}
    for q, i, d in cands:
        cur = best.get((q, i))
        if cur is None or d < cur:
            best[(q, i)] = d
    by_q = {}
    for (q, i), d in best.items():
        by_q.setdefault(q, []).append((d, i))
    return {
        q: [(i, d) for d, i in sorted(rows)[:k]] for q, rows in by_q.items()
    }


def _scanner_fixture(seed=5, n=240, d=16, nlist=8, nq=12, nprobe=3):
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, d))
    ids = np.arange(n, dtype=np.int64)
    lids = np.sort(rng.integers(0, nlist, n).astype(np.int64))
    Q = rng.standard_normal((nq, d))
    qids = np.arange(100, 100 + nq, dtype=np.int64)
    probe = np.stack(
        [rng.choice(nlist, nprobe, replace=False) for _ in range(nq)]
    ).astype(np.int64)

    def rb(sl):
        return pa.RecordBatch.from_arrays(
            [
                pa.array(ids[sl]),
                pa.array(list(map(list, V[sl].astype(np.float32)))),
                pa.array(lids[sl]),
            ],
            names=["id", "vector", "list_id"],
        )
    return V, ids, lids, Q, qids, probe, rb


@pytest.mark.parametrize("splits", [1, 3])
def test_list_scanner_fused_equals_per_list(splits):
    V, ids, lids, Q, qids, probe, rb = _scanner_fixture()
    n, k = len(ids), 4
    cuts = np.linspace(0, n, splits + 1).astype(int)
    rbs = [rb(slice(a, b)) for a, b in zip(cuts, cuts[1:])]
    per_list = _scan_batches(
        ivf._list_scanner(qids, Q, probe, k, D.L2, fuse_cap=0.0), rbs
    )
    fused = _scan_batches(
        ivf._list_scanner(qids, Q, probe, k, D.L2, fuse_cap=float("inf")), rbs
    )
    auto = _scan_batches(
        ivf._list_scanner(qids, Q, probe, k, D.L2), rbs
    )
    want = _merge_topk(per_list, k)
    for got_cands in (fused, auto):
        got = _merge_topk(got_cands, k)
        assert got.keys() == want.keys()
        for q in want:
            assert [i for i, _ in got[q]] == [i for i, _ in want[q]]
            for (_, dg), (_, dw) in zip(got[q], want[q]):
                assert abs(dg - dw) < 1e-9
    # the fused oracle from first principles: per query, brute-force over
    # exactly the rows of its probed lists (float32 storage mirrored)
    V32 = V.astype(np.float32).astype(np.float64)
    for qi, q in enumerate(qids):
        allowed = np.isin(lids, probe[qi])
        d2 = ((V32[allowed] - Q[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids[allowed], d2))[:k]
        assert [i for i, _ in _merge_topk(fused, k)[q]] == ids[allowed][
            order
        ].tolist()


def test_list_scanner_fused_short_lists_emit_finite_only():
    """A query whose probed lists hold fewer than k members must emit
    exactly those members — the +inf mask rows never leak out."""
    V, ids, lids, Q, qids, probe, rb = _scanner_fixture(n=40, nlist=8)
    # query 0 probes only list 0; others probe the rest (diverse sets so
    # the mask matters)
    probe[0] = [0, 0, 0]
    members0 = int((lids == 0).sum())
    k = members0 + 25
    fused = _scan_batches(
        ivf._list_scanner(qids, Q, probe, k, D.L2, fuse_cap=float("inf")),
        [rb(slice(None))],
    )
    rows_q0 = [(i, d) for q, i, d in fused if q == qids[0]]
    assert len(rows_q0) == members0
    assert all(np.isfinite(d) for _, d in rows_q0)
    assert sorted(i for i, _ in rows_q0) == ids[lids == 0].tolist()


def test_list_scanner_fusion_cost_gate():
    """Disjoint query sets over many lists must NOT fuse under the default
    cap (the union would inflate FLOPs ~nlist-fold): verify the gate by
    checking the default-path emission granularity matches the per-list
    loop (one top-k per (probed list, query)), not the fused batch-level
    top-k."""
    import pyarrow as pa

    rng = np.random.default_rng(9)
    n, d, nlist = 4000, 8, 40
    V = rng.standard_normal((n, d))
    ids = np.arange(n, dtype=np.int64)
    lids = np.sort(rng.integers(0, nlist, n).astype(np.int64))
    # 40 queries, each probing exactly its own list: perfectly disjoint
    Q = rng.standard_normal((nlist, d))
    qids = np.arange(nlist, dtype=np.int64)
    probe = np.arange(nlist, dtype=np.int64)[:, None]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(ids),
            pa.array(list(map(list, V.astype(np.float32)))),
            pa.array(lids),
        ],
        names=["id", "vector", "list_id"],
    )
    k = 3
    default = _scan_batches(
        ivf._list_scanner(qids, Q, probe, k, D.L2), [batch]
    )
    forced = _scan_batches(
        ivf._list_scanner(qids, Q, probe, k, D.L2, fuse_cap=float("inf")),
        [batch],
    )
    # same merged results either way (ids exact; distances to 1e-9 — the
    # two paths legitimately differ in L2 form below/above the 8-query
    # pairwise switchover)
    md, mf = _merge_topk(default, k), _merge_topk(forced, k)
    assert md.keys() == mf.keys()
    for q in md:
        assert [i for i, _ in md[q]] == [i for i, _ in mf[q]]
        for (_, dd), (_, df) in zip(md[q], mf[q]):
            assert abs(dd - df) < 1e-9
    # ...but the default path must have taken the per-list branch: with
    # disjoint sets both emit k rows per (list, query), so instead pin the
    # gate arithmetic itself
    flops_exact = sum(
        int((lids == l).sum()) * 1 for l in range(nlist)
    )
    flops_fused = n * nlist
    assert flops_fused > ivf.FUSE_INFLATION_CAP * flops_exact


@pytest.mark.parametrize("splits", [1, 2])
def test_range_scanner_fused_equals_per_list(splits):
    """Range emission is unreduced, so fused vs per-list must agree on the
    exact (query, id) pair SET and distances to 1e-9."""
    V, ids, lids, Q, qids, probe, rb = _scanner_fixture(seed=11)
    # admitted-lists mask in the range scanner's dict form
    by_list = {}
    for qi, lists in enumerate(probe):
        for lid in lists:
            by_list.setdefault(int(lid), []).append(qi)
    by_list = {l: np.asarray(q, dtype=np.int64) for l, q in by_list.items()}
    radius = 20.0
    n = len(ids)
    cuts = np.linspace(0, n, splits + 1).astype(int)
    rbs = [rb(slice(a, b)) for a, b in zip(cuts, cuts[1:])]
    per_list = _scan_batches(
        ivf._range_list_scanner(qids, Q, by_list, radius, D.L2, fuse_cap=0.0),
        rbs,
    )
    fused = _scan_batches(
        ivf._range_list_scanner(
            qids, Q, by_list, radius, D.L2, fuse_cap=float("inf")
        ),
        rbs,
    )
    a = {(q, i): d for q, i, d in per_list}
    b = {(q, i): d for q, i, d in fused}
    assert a.keys() == b.keys() and a
    for key in a:
        assert abs(a[key] - b[key]) < 1e-9
        assert b[key] <= radius


def test_tune_recall_stamps_operating_point(
    spark, emb_corpus, emb_queries, tmp_path
):
    # r11 verdict #2: tune_recall sweeps, picks the smallest candidate
    # meeting the target, stamps it into the manifest, and
    # search(nprobe=None) serves at the stamped point
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "tuned", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    stamp = idx.tune_recall(
        emb_corpus, target_recall=0.9, queries=emb_queries, k=10,
        nprobes=(1, 2, 5, 10),
    )
    # stamp keys are namespaced by serving surface since r13 (flat here)
    assert stamp["suggested_nprobe_flat"] in (1, 2, 5, 10)
    assert stamp["recall_target_flat"] == 0.9
    # full probe is exact, so the doubled-series fallback guarantees the
    # target is reachable -> met here (nprobe=10 gives recall 1.0)
    assert stamp["recall_target_met_flat"]
    assert stamp["measured_recall_flat"] >= 0.9
    # confidence fields (r12 verdict #3)
    assert stamp["recall_n_queries_flat"] >= 1
    # the stamp is the SMALLEST candidate meeting the target: every
    # smaller candidate must measure below it
    exact = knn.exact_knn(emb_corpus, emb_queries, k=10, metric=D.L2)
    for smaller in [
        p for p in (1, 2, 5, 10) if p < stamp["suggested_nprobe_flat"]
    ]:
        r = mean_recall(idx.search(emb_queries, k=10, nprobe=smaller), exact)
        assert r < 0.9, (smaller, r)
    # round-trips through the manifest on disk
    reloaded = ivf.IVFIndex.load(spark, str(tmp_path), "tuned")
    assert (
        reloaded.manifest.extra["suggested_nprobe_flat"]
        == stamp["suggested_nprobe_flat"]
    )
    # search with nprobe unspecified runs at the stamped point: identical
    # result set to passing it explicitly
    a = reloaded.search(emb_queries, k=10).collect()
    b = reloaded.search(
        emb_queries, k=10, nprobe=stamp["suggested_nprobe_flat"]
    ).collect()
    assert {(r["query_id"], r["id"]) for r in a} == {
        (r["query_id"], r["id"]) for r in b
    }
    # ...and meets the contract on the tuning sample
    assert (
        mean_recall(reloaded.search(emb_queries, k=10), exact) >= 0.9
    )


def test_build_recall_target_end_to_end(spark, emb_corpus, emb_queries, tmp_path):
    # build(recall_target=) is tune_recall wired into the build path;
    # an untuned epoch still defaults to DEFAULT_NPROBE
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "contract", nlist=10, metric=D.L2,
        seed=42, max_iter=2, recall_target=0.9, recall_queries=emb_queries,
    )
    ex = idx.manifest.extra
    assert ex["recall_target_flat"] == 0.9 and ex["recall_target_met_flat"]
    assert idx.resolved_nprobe(None) == ex["suggested_nprobe_flat"]
    assert idx.resolved_nprobe(3) == 3  # explicit always wins
    plain = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "plain", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    assert plain.resolved_nprobe(None) == ivf.DEFAULT_NPROBE


def test_tune_recall_review_fixes(spark, emb_corpus, emb_queries, tmp_path):
    """r12 in-round review: (a) update_manifest_extra resolves epoch=None
    to the active epoch and supports key removal; (b) suggest_nprobe on
    an empty query sample raises a clear ValueError on both paths;
    (c) SearchRequest with nprobe unset resolves to the stamped point."""
    from cuda_acceleratedvectordatabaseengine_spark import metrics
    from cuda_acceleratedvectordatabaseengine_spark.operators.ivf import (
        SearchRequest,
        run_search_batch,
    )

    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "rv", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    # (a) epoch=None targets the ACTIVE epoch; remove= drops keys
    m = idx.manager.update_manifest_extra(None, {"tmp_key": 1})
    assert m.epoch == idx.epoch and m.extra["tmp_key"] == 1
    m = idx.manager.update_manifest_extra(None, {}, remove=("tmp_key",))
    assert "tmp_key" not in m.extra
    # (b) empty query sample -> clear error, both sweep modes
    empty_q = emb_queries.filter(F.col("query_id") < 0)
    for es in (False, True):
        with pytest.raises(ValueError, match="empty"):
            metrics.suggest_nprobe(
                idx, emb_corpus, empty_q, target_recall=0.9,
                nprobes=(1, 2), early_stop=es,
            )
    # (c) search_batch honors the stamp when nprobe is unset
    stamp = idx.tune_recall(
        emb_corpus, target_recall=0.9, queries=emb_queries, k=10,
        nprobes=(1, 2, 5, 10),
    )
    reqs = [
        SearchRequest(query_id=int(r["query_id"]), qvec=list(r["qvec"]), k=5)
        for r in emb_queries.limit(4).collect()
    ]
    got = run_search_batch(idx, reqs)
    explicit = run_search_batch(
        idx,
        [SearchRequest(query_id=r.query_id, qvec=r.qvec, k=5,
                       nprobe=stamp["suggested_nprobe_flat"]) for r in reqs],
    )
    assert {(r["query_id"], r["id"]) for r in got.collect()} == {
        (r["query_id"], r["id"]) for r in explicit.collect()
    }


def test_resolve_nprobe_per_surface_namespacing():
    """r12 ADVICE: the stamp is measured on exactly one surface — each
    handle resolves only its own namespaced key; the un-suffixed pre-r13
    key is honored FLAT-ONLY (r13 verdict #3: pre-namespacing tunes all
    measured on the flat scan, so a quantized surface serving the shared
    stamp would assert a recall never measured on it); explicit nprobe
    always wins."""

    class Man:
        def __init__(self, extra):
            self.extra = extra

    m = Man({"suggested_nprobe_flat": 4})
    assert ivf.resolve_nprobe(m, None, "flat") == 4
    assert ivf.resolve_nprobe(m, None, "pq") == ivf.DEFAULT_NPROBE
    assert ivf.resolve_nprobe(m, None, "sq") == ivf.DEFAULT_NPROBE
    assert ivf.resolve_nprobe(m, 3, "flat") == 3  # explicit wins
    m2 = Man({"suggested_nprobe_pq": 16, "suggested_nprobe_flat": 2})
    assert ivf.resolve_nprobe(m2, None, "pq") == 16
    assert ivf.resolve_nprobe(m2, None, "flat") == 2
    legacy = Man({"suggested_nprobe": 6})  # pre-r13 shared stamp
    assert ivf.resolve_nprobe(legacy, None, "flat") == 6  # flat keeps it
    for s in ("pq", "sq", "bq"):  # quantized surfaces never serve it
        assert ivf.resolve_nprobe(legacy, None, s) == ivf.DEFAULT_NPROBE
    # a namespaced key beats the legacy one even on flat
    both = Man({"suggested_nprobe": 6, "suggested_nprobe_flat": 12})
    assert ivf.resolve_nprobe(both, None, "flat") == 12
    assert ivf.resolve_nprobe(Man({}), None, "flat") == ivf.DEFAULT_NPROBE


def test_onepass_sweep_matches_per_candidate(
    spark, index, emb_corpus, emb_queries
):
    """r12 verdict #1 differential twin: the one-pass prefix-rank sweep
    must be VALUE-equal to the per-candidate search sweep on the exact
    (flat) surface — recalls are ratios of small integers, so equality
    is exact, not approximate."""
    from cuda_acceleratedvectordatabaseengine_spark import metrics as M

    cands = (1, 2, 4, 8, 10)
    one = M.recall_sweep_onepass(
        index, emb_corpus, emb_queries, k=10, nprobes=cands
    )
    per = M.recall_sweep(
        index, emb_corpus, emb_queries, k=10, nprobes=cands
    ).collect()
    assert [r["nprobe"] for r in one] == [r["nprobe"] for r in per]
    for a, b in zip(one, per):
        assert abs(a["mean_recall"] - b["mean_recall"]) < 1e-12, (a, b)
    # nprobe = nlist is a full probe — exact by construction
    assert one[-1]["mean_recall"] == 1.0
    # monotone in nprobe (prefix counting can only add hits)
    rs = [r["mean_recall"] for r in one]
    assert rs == sorted(rs)
    # confidence fields ride along for the stamp's CI
    assert all(r["n_queries"] == one[0]["n_queries"] for r in one)
    assert one[0]["n_queries"] >= 2 and one[0]["std_recall"] is not None


def test_suggest_nprobe_onepass_choice_identical(
    spark, index, emb_corpus, emb_queries
):
    from cuda_acceleratedvectordatabaseengine_spark import metrics as M

    for target in (0.3, 0.6, 0.9, 1.0):
        chosen_one, _ = M.suggest_nprobe(
            index, emb_corpus, emb_queries, target_recall=target,
            nprobes=(1, 2, 4, 8, 10), onepass=True,
        )
        chosen_per, _ = M.suggest_nprobe(
            index, emb_corpus, emb_queries, target_recall=target,
            nprobes=(1, 2, 4, 8, 10), early_stop=True,
        )
        assert chosen_one == chosen_per, target


def test_tune_recall_onepass_stamp_equals_per_candidate(
    spark, emb_corpus, emb_queries, tmp_path
):
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "op_twin", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    s_one = idx.tune_recall(
        emb_corpus, target_recall=0.9, queries=emb_queries, k=10,
        nprobes=(1, 2, 5, 10),
    )
    idx.manifest = idx.manager.update_manifest_extra(
        idx.epoch, {}, remove=tuple(s_one)
    )
    idx.scan_is_exact = False  # force the per-candidate twin path
    try:
        s_per = idx.tune_recall(
            emb_corpus, target_recall=0.9, queries=emb_queries, k=10,
            nprobes=(1, 2, 5, 10),
        )
    finally:
        del idx.scan_is_exact  # restore the class attribute
    for key in (
        "suggested_nprobe_flat",
        "recall_target_flat",
        "recall_k_flat",
        "recall_target_met_flat",
        "recall_n_queries_flat",
    ):
        assert s_one[key] == s_per[key], key
    assert abs(
        s_one["measured_recall_flat"] - s_per["measured_recall_flat"]
    ) < 1e-12
    assert abs(s_one["recall_ci_low_flat"] - s_per["recall_ci_low_flat"]) < 1e-9


def test_delta_epochs_inherit_recall_stamp(
    spark, emb_corpus, emb_queries, tmp_path
):
    """r12 ADVICE: add/delete write delta epochs that FOLD the parent's
    recall stamp down the chain (marked stale) so a recall_target index
    keeps serving at its tuned operating point; compact carries the
    stamp verbatim; a fresh tune clears the stale marker."""
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "inh", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    stamp = idx.tune_recall(
        emb_corpus, target_recall=0.9, queries=emb_queries, k=10,
        nprobes=(1, 2, 5, 10),
    )
    tuned_np = stamp["suggested_nprobe_flat"]
    idx.manifest = idx.manager.read_manifest(idx.epoch)
    delta_src = emb_corpus.limit(5).select(
        (F.col("id") + 100_000).alias("id"), "vector"
    )
    new = idx.add(delta_src, activate=True)
    ex = new.manifest.extra
    assert ex["suggested_nprobe_flat"] == tuned_np
    assert ex["recall_stamp_stale_flat"] is True
    assert ex["recall_stamp_source_epoch_flat"] == idx.epoch
    # the contract survives a disk round-trip on the ACTIVE epoch
    reloaded = ivf.IVFIndex.load(spark, str(tmp_path), "inh")
    assert reloaded.epoch == new.epoch
    assert reloaded.resolved_nprobe(None) == tuned_np
    # tombstone delta inherits too
    some_id = emb_corpus.select("id").head(1)[0]["id"]
    deleted = new.delete([int(some_id)], activate=True)
    assert deleted.manifest.extra["suggested_nprobe_flat"] == tuned_np
    assert deleted.manifest.extra["recall_stamp_stale_flat"] is True
    # compaction rewrites layout, never semantics: stamp verbatim,
    # existing stale marker preserved, no new one invented
    comp = deleted.compact(activate=True)
    cex = comp.manifest.extra
    assert cex["suggested_nprobe_flat"] == tuned_np
    assert cex["recall_stamp_stale_flat"] is True
    # a fresh tune on the delta clears the stale marker for its surface
    new.tune_recall(
        new.vectors.select("id", "vector"), target_recall=0.9,
        queries=emb_queries, k=10, nprobes=(1, 2, 5, 10),
    )
    ex2 = new.manager.read_manifest(new.epoch).extra
    assert "recall_stamp_stale_flat" not in ex2
    assert "recall_stamp_source_epoch_flat" not in ex2


def test_fresh_tune_supersedes_legacy_stamp(
    spark, emb_corpus, emb_queries, tmp_path
):
    """r13 in-round review #3: a pre-namespacing (un-suffixed) stamp —
    measured on an UNKNOWN surface — and its inherited stale markers
    must be cleared by the first real per-surface measurement; leaving
    them would keep other surfaces serving the ambiguous legacy point
    and make the stale marker unclearable forever."""
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "legacy", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    # simulate a pre-r13 manifest: legacy stamp + inherited stale marker
    idx.manifest = idx.manager.update_manifest_extra(
        idx.epoch,
        {
            "suggested_nprobe": 4,
            "recall_target": 0.8,
            "measured_recall": 0.85,
            "recall_k": 10,
            "recall_target_met": True,
            "recall_stamp_stale": True,
            "recall_stamp_source_epoch": 0,
        },
    )
    # only FLAT honors the legacy fallback (r13 verdict #3); quantized
    # surfaces never serve a stamp measured on the flat scan
    assert ivf.resolve_nprobe(idx.manifest, None, "flat") == 4
    assert ivf.resolve_nprobe(idx.manifest, None, "pq") == ivf.DEFAULT_NPROBE
    idx.tune_recall(
        emb_corpus, target_recall=0.9, queries=emb_queries, k=10,
        nprobes=(1, 2, 5, 10),
    )
    ex = idx.manager.read_manifest(idx.epoch).extra
    for legacy_key in (
        "suggested_nprobe", "recall_target", "measured_recall",
        "recall_k", "recall_target_met", "recall_stamp_stale",
        "recall_stamp_source_epoch",
    ):
        assert legacy_key not in ex, legacy_key
    assert "suggested_nprobe_flat" in ex
    # other surfaces now fall back to the default, not the stale legacy
    man = idx.manager.read_manifest(idx.epoch)
    assert ivf.resolve_nprobe(man, None, "pq") == ivf.DEFAULT_NPROBE


def test_nonflat_tune_warns_when_legacy_stamp_served_untuned_flat(
    spark, emb_corpus, emb_queries, tmp_path
):
    """r13 ADVICE #2: clearing the legacy shared stamp is invisible at
    runtime, but it demotes an UNTUNED flat surface (the only surface
    the legacy stamp still serves) from its tuned point to
    DEFAULT_NPROBE — a non-flat tune that does this must say so."""
    import warnings as W

    from cuda_acceleratedvectordatabaseengine_spark.operators.sq import (
        IVFSQIndex,
    )

    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "legacy_w", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    idx.manifest = idx.manager.update_manifest_extra(
        idx.epoch, {"suggested_nprobe": 4}  # pre-r13 manifest, flat-serving
    )
    sq = IVFSQIndex.build_from_ivf(idx)
    with pytest.warns(UserWarning, match="UNTUNED flat"):
        ivf.tune_recall_handle(
            sq, emb_corpus, target_recall=0.5, queries=emb_queries,
            k=10, nprobes=(1, 2, 5, 10),
        )
    man = idx.manager.read_manifest(idx.epoch)
    assert "suggested_nprobe" not in man.extra
    assert "suggested_nprobe_sq" in man.extra
    assert ivf.resolve_nprobe(man, None, "flat") == ivf.DEFAULT_NPROBE
    # a SECOND non-flat tune has no legacy stamp left to strand: silent
    with W.catch_warnings():
        W.simplefilter("error", UserWarning)
        try:
            ivf.tune_recall_handle(
                sq, emb_corpus, target_recall=0.5, queries=emb_queries,
                k=10, nprobes=(1, 2, 5, 10),
            )
        except UserWarning as w:  # CI-straddle warnings are fine; ours isn't
            assert "UNTUNED flat" not in str(w)


def test_source_epoch_marker_survives_multi_delta_chain():
    """r13 ADVICE #1: the stale marker's source epoch names the epoch
    that MEASURED the stamp; folding it down a multi-delta chain must
    not re-point it at intermediate deltas that measured nothing."""
    fresh = {"suggested_nprobe_flat": 5, "measured_recall_flat": 0.9}
    d1 = ivf.inherited_manifest_extra(fresh, parent_epoch=3)
    assert d1["recall_stamp_source_epoch_flat"] == 3
    assert d1["recall_stamp_stale_flat"] is True
    d2 = ivf.inherited_manifest_extra(d1, parent_epoch=4)
    assert d2["recall_stamp_source_epoch_flat"] == 3  # NOT 4
    d3 = ivf.inherited_manifest_extra(d2, parent_epoch=5)
    assert d3["recall_stamp_source_epoch_flat"] == 3
    # the legacy un-suffixed family gets the same treatment
    leg = ivf.inherited_manifest_extra({"suggested_nprobe": 2}, 7)
    leg2 = ivf.inherited_manifest_extra(leg, 8)
    assert leg2["recall_stamp_source_epoch"] == 7
    # compaction (mark_stale=False) carries markers verbatim
    comp = ivf.inherited_manifest_extra(d2, parent_epoch=9, mark_stale=False)
    assert comp["recall_stamp_source_epoch_flat"] == 3


def test_tune_self_tightens_straddling_ci_on_onepass(
    spark, emb_corpus, tmp_path, monkeypatch
):
    """When the CI straddles the target on an AUTO-drawn sample and the
    surface tunes one-pass (cheap: ~one ground-truth pass), the tuner
    re-sweeps once at RECALL_TUNE_MAX_QUERIES and stamps the larger
    measurement; a caller-pinned queries= sample is never expanded."""
    # tiny initial sample so the CI is wide and likely straddles
    monkeypatch.setattr(ivf, "RECALL_TUNE_QUERIES", 8)
    monkeypatch.setattr(ivf, "RECALL_TUNE_MAX_QUERIES", 40)
    idx = ivf.IVFIndex.build(
        emb_corpus, str(tmp_path), "tighten", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    # sweep over targets until one straddles at n=8 (data-dependent);
    # the expanded stamp must then record the 40-query measurement
    import warnings as _w

    expanded = False
    for target in (0.35, 0.5, 0.65, 0.8, 0.9):
        with _w.catch_warnings():
            _w.simplefilter("ignore")
            stamp = idx.tune_recall(emb_corpus, target_recall=target, k=10)
        assert stamp["recall_n_queries_flat"] in (8, 40)
        if stamp["recall_n_queries_flat"] == 40:
            expanded = True
            break
        # no straddle at n=8 for this target -> no expansion: correct
        lo = stamp.get("recall_ci_low_flat")
        if lo is not None:
            assert not (lo < target <= stamp["recall_ci_high_flat"])
    assert expanded, "no target straddled at n=8 — fixture too easy?"
    # caller-pinned sample: never expanded even when straddling
    qdf = (
        emb_corpus.limit(8)
        .select(F.col("id").alias("query_id"), F.col("vector").alias("qvec"))
        .localCheckpoint(eager=True)
    )
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        stamp2 = idx.tune_recall(
            emb_corpus, target_recall=target, k=10, queries=qdf
        )
    assert stamp2["recall_n_queries_flat"] == 8
