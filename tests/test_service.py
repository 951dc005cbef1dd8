"""VectorEngine facade — the reference's QueryService + AdminService
surface (proto/vdb.proto:89-109) driven end-to-end:

create_index -> build_epoch (from a parquet source) -> activate_epoch ->
load_index -> search / search_batch / warmup -> get_stats -> metrics ->
health, plus every validation error the reference's server returns.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
from cuda_acceleratedvectordatabaseengine_spark.operators import knn
from cuda_acceleratedvectordatabaseengine_spark.service import (
    MetricsCollector,
    SearchRequest,
    VectorEngine,
)
from cuda_acceleratedvectordatabaseengine_spark.sources import tables


@pytest.fixture(scope="module")
def tmp_root():
    d = tempfile.mkdtemp(prefix="cavde-service-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_root):
    # a parquet source the AdminService would be pointed at
    emb = tables.load(spark, sf_dir, "embeddings")
    emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).write.mode("overwrite").parquet(f"{tmp_root}/source")
    return VectorEngine(spark, f"{tmp_root}/data")


def test_create_index_validation(engine):
    with pytest.raises(ValueError, match="name required"):
        engine.create_index("", 64)
    with pytest.raises(ValueError, match="Invalid dimension"):
        engine.create_index("bad", 0)
    with pytest.raises(ValueError, match="Invalid dimension"):
        engine.create_index("bad", 65537)
    cfg = engine.create_index("emb", 64, metric="l2", nlist=8)
    assert cfg["nlist"] == 8 and cfg["metric"] == D.L2
    with pytest.raises(ValueError, match="already exists"):
        engine.create_index("emb", 64)
    # nlist default mirrors query_service.cpp:444
    cfg2 = engine.create_index("defaults", 64)
    assert cfg2["nlist"] == 1000 and cfg2["nbits"] == 8


def test_full_lifecycle(spark, engine, tmp_root, sf_dir):
    # build an epoch from the parquet source; not auto-activated
    epoch = engine.build_epoch("emb", f"{tmp_root}/source", seed=42, max_iter=2)
    with pytest.raises(ValueError, match="no active epoch"):
        engine.load_index("emb")
    engine.activate_epoch("emb", epoch)
    engine.load_index("emb")

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # full probe == exact brute force
    got = engine.search("emb", queries, topk=5, nprobe=8)
    exact = knn.exact_knn(corpus, queries, k=5, metric=D.L2)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in got.collect()
    ) == sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())

    # heterogeneous batch through the facade
    vecs = {r["id"]: r["vector"] for r in corpus.limit(2).collect()}
    ids = sorted(vecs)
    reqs = [
        SearchRequest(query_id=ids[0], qvec=vecs[ids[0]], k=3, nprobe=8),
        SearchRequest(query_id=ids[1], qvec=vecs[ids[1]], k=2, nprobe=8),
    ]
    rows = engine.search_batch("emb", reqs).collect()
    assert {r["query_id"] for r in rows} == set(ids)

    # warmup + stats
    engine.warmup("emb")
    st = engine.get_stats("emb")
    assert st["total_vectors"] == corpus.count()
    assert st["current_epoch"] == str(epoch)
    assert st["storage_bytes"] > 0

    # V7 metrics recorded by the facade
    m = engine.metrics.get_metrics()
    assert m["indices"]["emb"]["search_count"] == 1 + len(reqs)
    text = engine.metrics.prometheus_format()
    assert 'vdb_searches_total{index="emb"}' in text
    assert "vdb_queries_per_second" in text

    # V8 health over loaded indices
    assert engine.health()["status"] == "SERVING"


def test_search_validation(spark, engine, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    with pytest.raises(LookupError, match="not loaded"):
        engine.search("ghost-not-loaded", queries, topk=5)
    with pytest.raises(ValueError, match="name required"):
        engine.search("", queries, topk=5)
    with pytest.raises(ValueError, match="topk"):
        engine.search("emb", queries, topk=0)
    with pytest.raises(ValueError, match="topk"):
        engine.search("emb", queries, topk=1001)
    with pytest.raises(ValueError, match="empty query batch"):
        engine.search("emb", queries.filter(F.lit(False)), topk=5)
    bad_dim = queries.select(
        "query_id", F.slice("qvec", 1, 8).alias("qvec")
    )
    with pytest.raises(ValueError, match="dimension"):
        engine.search("emb", bad_dim, topk=5)
    with pytest.raises(LookupError, match="does not exist"):
        engine.build_epoch("ghost", "/nowhere")
    with pytest.raises(LookupError, match="does not exist"):
        engine.get_stats("ghost")


def test_epoch_swap_and_cleanup(spark, engine, tmp_root):
    """Two epochs; activate swaps serving atomically; cleanup keeps newest."""
    e1 = engine.build_epoch("emb", f"{tmp_root}/source", seed=42, max_iter=1)
    engine.activate_epoch("emb", e1)  # hot-reloads the loaded handle
    assert engine._indices["emb"].epoch == e1
    assert engine.get_stats("emb")["current_epoch"] == str(e1)
    kept = engine.cleanup_epochs("emb", keep=1)
    assert kept and engine.get_stats("emb")["current_epoch"] == str(e1)


def test_pq_index_through_facade(spark, engine, tmp_root):
    engine.create_index("emb_pq", 64, metric="l2", nlist=8, m=16, nbits=8)
    epoch = engine.build_epoch("emb_pq", f"{tmp_root}/source", seed=42, max_iter=1)
    engine.activate_epoch("emb_pq", epoch)
    engine.load_index("emb_pq")
    emb = engine.spark.read.parquet(f"{tmp_root}/source")
    queries = emb.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    # ADC search + exact rerank through the same facade verb
    got = engine.search("emb_pq", queries, topk=5, nprobe=8,
                        rerank_exact=True, rerank_k=20).collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}
    assert all(len([x for x in got if x["query_id"] == q]) == 5 for q in (0, 1, 2))
    # batch + warmup work on the PQ handle too
    vecs = {r["id"]: r["vector"] for r in emb.limit(2).collect()}
    ids = sorted(vecs)
    rows = engine.search_batch(
        "emb_pq",
        [SearchRequest(query_id=ids[0], qvec=vecs[ids[0]], k=2, nprobe=8)],
    ).collect()
    assert len(rows) == 2
    engine.warmup("emb_pq", lists=[0, 1])
    assert engine.get_stats("emb_pq")["total_vectors"] == emb.count()
    # V8 health must stay SERVING with a PQ handle loaded (the PQ handle
    # carries a manifest like the flat one; health_service.cpp:84-156)
    assert engine._indices["emb_pq"].manifest is not None
    assert engine.health() == {
        "status": "SERVING",
        "compute": True,
        "memory": True,
        "indices_loaded": True,
    }


def test_metrics_collector_reference_semantics():
    clk_t = [0.0]
    mc = MetricsCollector(clock=lambda: clk_t[0])
    for v in [10.0, 20.0, 30.0, 40.0, 50.0]:
        mc.record_search_latency("i", v)
    mc.increment_search_count("i", 5)
    mc.record_search_recall("i", 0.8)
    mc.record_search_recall("i", 1.0)
    clk_t[0] = 10.0
    m = mc.get_metrics()
    im = m["indices"]["i"]
    # reference percentile: sorted[int(p*(n-1))] (query_service.cpp:790-798)
    assert im["p50_latency_ms"] == 30.0
    assert im["p95_latency_ms"] == 40.0  # int(0.95*4) = 3
    assert im["p99_latency_ms"] == 40.0
    assert im["avg_recall"] == pytest.approx(0.9)
    assert m["qps"] == pytest.approx(0.5)
    # bounded histogram: >10000 trims to newest 5000 (cpp:783-787)
    for v in range(10001):
        mc.record_search_latency("big", float(v))
    assert len(mc._latencies["big"]) == 5001


def test_warm_budget_and_health_watch_via_facade(spark, engine):
    """V9 capacity + V8 Watch through the service surface: the budget caps
    the loaded index's warm cache, and watch_health registers/unregisters a
    push listener over THIS engine's indices."""
    warmed = engine.warmup("emb", lists=[0, 1])
    assert warmed.is_cached
    evicted = engine.set_warm_budget("emb", 1)  # 1 byte: everything warm must go
    assert evicted and not warmed.is_cached
    engine.set_warm_budget("emb", None)

    seen = []
    watch = engine.watch_health(seen.append)
    try:
        assert watch.last is None  # push-only: no event yet
        watch.onQueryStarted(type("E", (), {"id": "q-test"})())
        assert seen and seen[-1]["status"] == "SERVING"
        assert seen[-1]["indices_loaded"] is True
    finally:
        engine.unwatch_health(watch)


def test_add_vectors_delta_through_facade(spark, engine, tmp_root, sf_dir):
    """Incremental ingest via the service: add a delta shard to the active
    epoch, activate, and search reaches the new vectors."""
    emb = tables.load(spark, sf_dir, "embeddings")
    big = emb.agg(F.max("vec_id")).collect()[0][0]
    # negate the embeddings so the delta vectors are distinct content (a
    # verbatim copy would tie at distance 0 and lose to the smaller id)
    delta = emb.limit(5).select(
        (F.col("vec_id") + big + 1).alias("id"),
        F.transform("embedding", lambda x: -x).alias("vector"),
    )
    delta.write.parquet(f"{tmp_root}/delta_src")
    before = engine.get_stats("emb")["total_vectors"]
    epoch = engine.add_vectors("emb", f"{tmp_root}/delta_src", activate=True)
    stats = engine.get_stats("emb")
    assert stats["current_epoch"] == str(epoch)
    assert stats["total_vectors"] == before + 5
    q = delta.limit(1).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    top = engine.search("emb", q, topk=1, nprobe=10).collect()
    assert top and top[0]["id"] == q.collect()[0]["query_id"]


def test_add_vectors_on_pq_index_reencodes(spark, engine, tmp_root):
    """Incremental add on a PQ-configured index must re-encode BEFORE the
    pointer swap — activating a codeless delta epoch would make every
    subsequent load_index fail (the facade picks IVFPQIndex when m>0)."""
    emb = engine.spark.read.parquet(f"{tmp_root}/source")
    n = emb.count()
    big = emb.agg(F.max("id")).collect()[0][0]
    delta = emb.limit(4).select(
        (F.col("id") + big + 1).alias("id"),
        F.transform("vector", lambda x: -x).alias("vector"),
    )
    delta.write.parquet(f"{tmp_root}/pq_delta_src")
    epoch = engine.add_vectors("emb_pq", f"{tmp_root}/pq_delta_src", activate=True)
    engine.load_index("emb_pq")  # would raise without the re-encode
    assert engine.get_stats("emb_pq")["total_vectors"] == n + 4
    # storage gauge covers the whole chain, like the cumulative count
    assert engine.get_stats("emb_pq")["storage_bytes"] > 0
    q = delta.limit(1).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    got = engine.search("emb_pq", q, topk=1, nprobe=8,
                        rerank_exact=True, rerank_k=10).collect()
    assert got and got[0]["id"] == q.collect()[0]["query_id"]
    assert engine.get_stats("emb_pq")["current_epoch"] == str(epoch)


def test_range_search_through_facade(spark, engine, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = knn.exact_knn(corpus, queries, k=8, metric=D.L2)
    radius = exact.filter(F.col("rank") == 8).agg(F.max("distance")).collect()[0][0]
    got = engine.range_search("emb", queries, radius)
    expect = knn.range_search(corpus, queries, radius, metric=D.L2)
    g = {(r["query_id"], r["id"]) for r in got.collect()}
    e = {(r["query_id"], r["id"]) for r in expect.collect()}
    assert g == e and len(g) >= 3 * 8


def test_sq_variant_through_facade(spark, engine, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    engine.encode_sq("emb")
    engine.load_index("emb", variant="sq")
    got = engine.search("emb", queries, topk=5, nprobe=8, rerank_exact=True, rerank_k=50)
    exact = knn.exact_knn(corpus, queries, k=5, metric=D.L2)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in got.collect()
    ) == sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())
    # SQ handles have no covering-radius pruning: range falls back to exact scan
    r8 = exact.filter(F.col("rank") == 3).agg(F.max("distance")).collect()[0][0]
    rng = engine.range_search("emb", queries, r8)
    expect = knn.range_search(corpus, queries, r8, metric=D.L2)
    assert {(r["query_id"], r["id"]) for r in rng.collect()} == {
        (r["query_id"], r["id"]) for r in expect.collect()
    }
    engine.load_index("emb", variant="flat")
    with pytest.raises(ValueError, match="variant"):
        engine.load_index("emb", variant="nope")


def test_snapshot_verbs_through_facade(spark, engine, tmp_root, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    summary = engine.export_snapshot("emb", f"{tmp_root}/snap")
    assert summary["num_vectors"] > 0
    epoch = engine.import_snapshot(f"{tmp_root}/snap", index="emb_restored")
    engine.load_index("emb_restored", epoch)
    a = sorted(map(tuple, engine.search("emb", queries, topk=5, nprobe=8).collect()))
    b = sorted(
        map(tuple, engine.search("emb_restored", queries, topk=5, nprobe=8).collect())
    )
    assert a == b
    # the imported index is a first-class citizen: stats + config exist
    st = engine.get_stats("emb_restored")
    assert st["total_vectors"] == summary["num_vectors"]


def test_index_health_through_facade(spark, engine, tmp_root):
    engine.create_index("emb_h", 64, metric="l2", nlist=8)
    epoch = engine.build_epoch("emb_h", f"{tmp_root}/source", seed=42, max_iter=2)
    engine.activate_epoch("emb_h", epoch)
    engine.load_index("emb_h")
    health = {r["list_id"]: r for r in engine.index_health("emb_h").collect()}
    emb_n = engine.spark.read.parquet(f"{tmp_root}/source").count()
    # every vector accounted for, all distortions finite and non-negative,
    # margins strictly positive (nearest != runner-up for trained centroids)
    assert sum(r["n_vecs"] for r in health.values()) == emb_n
    for r in health.values():
        assert 0.0 <= r["mean_dist"] <= r["max_dist"]
        assert r["mean_margin"] > 0.0
    # list ids come from the index's own trained quantizer
    assert set(health) <= set(range(8))


def test_bq_variant_through_facade(spark, engine, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    engine.encode_bq("emb")
    engine.load_index("emb", variant="bq")
    # 1-bit codes + generous exact rerank recovers the exact top-k
    got = engine.search(
        "emb", queries, topk=5, nprobe=10, rerank_exact=True, rerank_k=200
    )
    exact = knn.exact_knn(corpus, queries, k=5, metric=D.L2)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in got.collect()
    ) == sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())
    engine.load_index("emb", variant="flat")


def test_search_mmr_diversity_through_facade(spark, engine, sf_dir):
    """mmr_lambda routes the search through a wider shortlist + MMR
    greedy re-rank: lam=1.0 reproduces the plain ranking exactly; a low
    lam still returns the nearest hit first, k rows per query, and only
    shortlist members."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plain = engine.search("emb", queries, topk=5, nprobe=8)
    mmr1 = engine.search("emb", queries, topk=5, nprobe=8, mmr_lambda=1.0)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in mmr1.collect()
    ) == sorted((r["query_id"], r["rank"], r["id"]) for r in plain.collect())

    pool = {
        (r["query_id"], r["id"])
        for r in engine.search("emb", queries, topk=20, nprobe=8).collect()
    }
    top1 = {
        r["query_id"]: r["id"]
        for r in plain.collect()
        if r["rank"] == 1
    }
    rows = engine.search(
        "emb", queries, topk=5, nprobe=8, mmr_lambda=0.3, mmr_pool=20
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        assert len(rs) == 5
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        # first pick is always the plain nearest (empty selection = pure
        # relevance), every pick comes from the searched shortlist
        first = min(rs, key=lambda r: r["rank"])
        assert first["id"] == top1[qid]
        for r in rs:
            assert (qid, r["id"]) in pool


def test_search_mmr_pool_validation(spark, engine, sf_dir):
    """mmr_pool outside [topk, MAX_TOPK] fails with an error naming
    mmr_pool (not a confusing internal 'topk' error), and a large topk
    with default pool clamps to MAX_TOPK instead of failing."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import knn

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    with pytest.raises(ValueError, match="mmr_pool"):
        engine.search("emb", queries, topk=5, mmr_lambda=0.5, mmr_pool=3)
    with pytest.raises(ValueError, match="mmr_pool"):
        engine.search(
            "emb", queries, topk=5, mmr_lambda=0.5, mmr_pool=knn.MAX_TOPK + 1
        )
    # topk=300 -> default pool 4*topk=1200 must clamp to MAX_TOPK, not
    # blow up validate_topk on the internal shortlist request (row count
    # per query is corpus/nprobe-bounded; the clamp is what's under test)
    rows = engine.search(
        "emb", queries, topk=300, nprobe=8, mmr_lambda=0.9
    ).collect()
    counts: dict = {}
    for r in rows:
        counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
    assert counts and all(0 < c <= 300 for c in counts.values())


def test_delete_vectors_by_predicate(spark, engine, sf_dir):
    """where= deletes resolve the matching ids distributed and tombstone
    them: activated searches never return a deleted id; exactly one of
    ids=/where= is enforced."""
    with pytest.raises(ValueError, match="exactly one"):
        engine.delete_vectors("emb")
    with pytest.raises(ValueError, match="exactly one"):
        engine.delete_vectors("emb", ids=[1], where="id < 2")

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    epoch = engine.delete_vectors("emb", where="id % 7 = 3", activate=True)
    assert epoch > 0
    rows = engine.search("emb", queries, topk=10, nprobe=8).collect()
    assert rows and all(r["id"] % 7 != 3 for r in rows)


def test_retrain_reclusters_live_view(spark, engine, sf_dir):
    """retrain trains fresh centroids on the current live view (after the
    predicate delete above) and writes a new full epoch: same live ids,
    full-probe search still exact, deleted ids still absent; a present
    sidecar (SQ here) is re-encoded onto the new epoch with inherited
    params."""
    before = engine.get_stats("emb")
    epoch = engine.retrain("emb", seed=7, activate=True)
    assert epoch > int(before["current_epoch"])
    after = engine.get_stats("emb")
    assert after["total_vectors"] == before["total_vectors"]
    assert after["current_epoch"] == str(epoch)

    emb = tables.load(spark, sf_dir, "embeddings")
    live = emb.filter(F.col("vec_id") % 7 != 3).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = engine.search("emb", queries, topk=5, nprobe=8)
    exact = knn.exact_knn(live, queries, k=5, metric=D.L2)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in got.collect()
    ) == sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())
    assert all(r["id"] % 7 != 3 for r in got.collect())

    # sidecar maintenance through retrain: encode SQ on the active epoch,
    # retrain again -> the NEW epoch carries a chain-scope SQ sidecar too
    engine.encode_sq("emb")
    epoch2 = engine.retrain("emb", seed=8, activate=True)
    from cuda_acceleratedvectordatabaseengine_spark.sources.epochs import (
        EpochManager,
    )

    man = EpochManager(engine.data_path, "emb").read_manifest(epoch2)
    assert man.sq and man.sq["scope"] == "chain"
    got2 = engine.load_index("emb", variant="sq") or engine.search(
        "emb", queries, topk=5, nprobe=8
    )
    assert got2 is not None


def test_merge_index_shard_build(spark, engine, tmp_root, sf_dir):
    """Shard-merge lifecycle (FAISS merge_from semantics): two indexes
    built independently over disjoint id halves fold into one via an
    O(|src|) delta epoch on dst; full-probe search over the merged index
    equals exact brute force over the union, and the id-disjointness
    precondition is enforced."""
    emb = tables.load(spark, sf_dir, "embeddings")
    half_a = emb.filter(F.col("vec_id") < 250).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    half_b = emb.filter(F.col("vec_id") >= 250).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    half_a.write.parquet(f"{tmp_root}/shard_a_src")
    half_b.write.parquet(f"{tmp_root}/shard_b_src")
    for name, src in [("shard_a", "shard_a_src"), ("shard_b", "shard_b_src")]:
        engine.create_index(name, 64, metric="l2", nlist=4)
        ep = engine.build_epoch(name, f"{tmp_root}/{src}", seed=1, max_iter=2)
        engine.activate_epoch(name, ep)

    with pytest.raises(ValueError, match="must differ"):
        engine.merge_index("shard_a", "shard_a")

    n_a = engine.get_stats("shard_a")["total_vectors"]
    n_b = engine.get_stats("shard_b")["total_vectors"]
    epoch = engine.merge_index("shard_a", "shard_b", activate=True)
    stats = engine.get_stats("shard_a")
    assert stats["current_epoch"] == str(epoch)
    assert stats["total_vectors"] == n_a + n_b == 500

    engine.load_index("shard_a")
    union = half_a.unionByName(half_b)
    queries = emb.filter(F.col("vec_id").isin(3, 260, 401)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = engine.search("shard_a", queries, topk=5, nprobe=4)
    exact = knn.exact_knn(union, queries, k=5, metric=D.L2)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in got.collect()
    ) == sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())

    # src is untouched and still searchable on its own
    assert engine.get_stats("shard_b")["total_vectors"] == n_b

    # overlapping id spaces are rejected (merged index now holds b's ids)
    with pytest.raises(ValueError, match="exist in both"):
        engine.merge_index("shard_a", "shard_b")

    # config mismatches are rejected up front, before any distributed work
    engine.create_index("shard_dim", 32, metric="l2", nlist=4)
    with pytest.raises(ValueError, match="dimension mismatch"):
        engine.merge_index("shard_a", "shard_dim")
    engine.create_index("shard_met", 64, metric="ip", nlist=4)
    with pytest.raises(ValueError, match="metric mismatch"):
        engine.merge_index("shard_a", "shard_met")


def test_compact_index_through_facade(spark, engine, tmp_root, sf_dir):
    """Facade compaction: a chain of build + add-delta + tombstone-delete
    rewrites into ONE full epoch (parent_epoch None), live view and
    search results unchanged; on a PQ-configured index the sidecar is
    re-encoded before any activation so load_index keeps working."""
    emb = tables.load(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    src.write.parquet(f"{tmp_root}/cmp_src")
    emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 240)).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).write.parquet(f"{tmp_root}/cmp_delta")

    engine.create_index("cmp", 64, metric="l2", nlist=4)
    ep = engine.build_epoch("cmp", f"{tmp_root}/cmp_src", seed=3, max_iter=2)
    engine.activate_epoch("cmp", ep)
    engine.add_vectors("cmp", f"{tmp_root}/cmp_delta", activate=True)
    engine.delete_vectors("cmp", [0, 1, 2, 201], activate=True)

    epoch = engine.compact_index("cmp", activate=True)
    engine.load_index("cmp")
    stats = engine.get_stats("cmp")
    assert stats["current_epoch"] == str(epoch)
    assert stats["total_vectors"] == 200 + 40 - 4

    from cuda_acceleratedvectordatabaseengine_spark.operators.ivf import (
        IVFIndex,
    )

    idx = IVFIndex.load(spark, f"{tmp_root}/data", "cmp", epoch)
    assert idx.manifest.parent_epoch is None  # one full epoch, chain folded

    live = emb.filter(
        (F.col("vec_id") < 240) & (~F.col("vec_id").isin(0, 1, 2, 201))
    ).select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id").isin(7, 210)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = engine.search("cmp", queries, topk=5, nprobe=4)
    exact = knn.exact_knn(live, queries, k=5, metric=D.L2)
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in got.collect()
    ) == sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())

    # PQ-configured index: compaction must land codes before activation
    engine.create_index("cmp_pq", 64, metric="l2", nlist=4, m=8, nbits=4)
    ep = engine.build_epoch("cmp_pq", f"{tmp_root}/cmp_src", seed=3, max_iter=2)
    engine.activate_epoch("cmp_pq", ep)
    engine.add_vectors("cmp_pq", f"{tmp_root}/cmp_delta", activate=True)
    epoch = engine.compact_index("cmp_pq", activate=True)
    engine.load_index("cmp_pq")  # would raise on a codeless epoch
    assert engine.get_stats("cmp_pq")["total_vectors"] == 240


def test_suggest_params_facade(spark, tmp_path):
    from cuda_acceleratedvectordatabaseengine_spark.service import VectorEngine

    eng = VectorEngine(spark, str(tmp_path / "sp"))
    assert eng.suggest_params(50_000_000) == {"nlist": 4096, "nprobe": 32}


def test_recall_target_through_facade(spark, engine, tmp_root, sf_dir):
    # create_index(recall_target=) declares the contract; build_epoch
    # sweeps + stamps; search with nprobe unspecified serves the stamped
    # operating point (r11 verdict #2)
    with pytest.raises(ValueError, match="recall_target"):
        engine.create_index("badrt", 64, recall_target=1.5)
    cfg = engine.create_index(
        "tuned_rt", 64, metric="l2", nlist=8, recall_target=0.9
    )
    assert cfg["recall_target"] == 0.9
    epoch = engine.build_epoch("tuned_rt", f"{tmp_root}/source", activate=True)
    engine.load_index("tuned_rt", epoch)
    idx = engine._loaded("tuned_rt")
    ex = idx.manifest.extra
    # stamp keys are namespaced by serving surface since r13 (flat here)
    assert ex["recall_target_flat"] == 0.9 and "suggested_nprobe_flat" in ex
    assert ex["recall_target_met_flat"] and ex["measured_recall_flat"] >= 0.9
    # confidence fields (r12 verdict #3) ride along
    assert ex["recall_n_queries_flat"] >= 1
    emb = tables.load(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # facade search with nprobe unspecified == explicit stamped nprobe
    a = engine.search("tuned_rt", qdf, topk=5)
    b = engine.search(
        "tuned_rt", qdf, topk=5, nprobe=ex["suggested_nprobe_flat"]
    )
    assert {(r["query_id"], r["id"]) for r in a.collect()} == {
        (r["query_id"], r["id"]) for r in b.collect()
    }


def test_recall_target_pq_index_tuned_on_serving_surface(
    spark, engine, tmp_root, sf_dir
):
    # r12 in-round review: a PQ index's recall contract must be measured
    # on the ADC surface it serves, not the flat scan the sidecar is
    # encoded from — build_epoch tunes through the PQ handle for m > 0
    engine.create_index(
        "tuned_pq_rt", 64, metric="l2", nlist=8, m=8, recall_target=0.5
    )
    epoch = engine.build_epoch(
        "tuned_pq_rt", f"{tmp_root}/source", activate=True
    )
    engine.load_index("tuned_pq_rt", epoch)
    idx = engine._loaded("tuned_pq_rt")
    from cuda_acceleratedvectordatabaseengine_spark.operators.pq import (
        IVFPQIndex,
    )

    assert isinstance(idx, IVFPQIndex)
    ex = idx.manifest.extra
    # PQ-surface tune stamps the _pq namespace; the flat namespace stays
    # unstamped so a flat handle on the same epoch would NOT assert a
    # contract measured on the ADC scan (r12 ADVICE)
    assert ex["recall_target_pq"] == 0.5 and "suggested_nprobe_pq" in ex
    assert "suggested_nprobe_flat" not in ex
    # the stamp is honest for the PQ surface: recompute mean recall@10
    # at the stamped nprobe THROUGH the PQ handle and compare
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qdf = corpus.limit(64).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    ).localCheckpoint(eager=True)
    from cuda_acceleratedvectordatabaseengine_spark.metrics import (
        mean_recall,
    )

    exact = knn.exact_knn(corpus, qdf, k=10, metric=D.L2)
    got = mean_recall(
        idx.search(qdf, k=10, nprobe=ex["suggested_nprobe_pq"]), exact
    )
    # not exact equality: the tune sampled its own 64 queries; assert the
    # contract direction instead — when the manifest says met, the ADC
    # surface really delivers >= target on a fresh sample within noise
    if ex["recall_target_met_pq"]:
        assert got >= ex["recall_target_pq"] - 0.15, (got, ex)


def test_add_vectors_keeps_recall_contract(spark, engine, tmp_root, sf_dir):
    """r12 ADVICE: an index created with recall_target must not lose its
    contract after an incremental add — the delta epoch inherits the
    stamp (stale-marked) and search(nprobe=None) keeps serving at the
    tuned point; retune_recall=True replaces it with a fresh
    measurement on the updated live view."""
    engine.create_index(
        "rt_addkeep", 64, metric="l2", nlist=8, recall_target=0.9
    )
    epoch = engine.build_epoch(
        "rt_addkeep", f"{tmp_root}/source", activate=True
    )
    engine.load_index("rt_addkeep", epoch)
    stamped = engine._loaded("rt_addkeep").manifest.extra[
        "suggested_nprobe_flat"
    ]
    # a small second batch, disjoint ids
    emb = tables.load(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 500_000).alias("id"),
        F.col("embedding").alias("vector"),
    ).write.mode("overwrite").parquet(f"{tmp_root}/delta_src")
    e2 = engine.add_vectors("rt_addkeep", f"{tmp_root}/delta_src", activate=True)
    idx = engine._loaded("rt_addkeep")
    assert idx.epoch == e2
    ex = idx.manifest.extra
    assert ex["suggested_nprobe_flat"] == stamped
    assert ex["recall_stamp_stale_flat"] is True
    assert idx.resolved_nprobe(None) == stamped
    # retune_recall: fresh stamp on the updated corpus, stale cleared
    e3 = engine.add_vectors(
        "rt_addkeep", f"{tmp_root}/delta_src", activate=True,
        retune_recall=True,
    )
    ex3 = engine._loaded("rt_addkeep").manifest.extra
    assert engine._loaded("rt_addkeep").epoch == e3
    assert "recall_stamp_stale_flat" not in ex3
    assert ex3["recall_target_flat"] == 0.9
    # retune without a declared contract is a loud error
    engine.create_index("rt_nocontract", 64, metric="l2", nlist=8)
    engine.build_epoch("rt_nocontract", f"{tmp_root}/source", activate=True)
    with pytest.raises(ValueError, match="without recall_target"):
        engine.add_vectors(
            "rt_nocontract", f"{tmp_root}/delta_src", retune_recall=True
        )


def test_cold_storage_through_facade(spark, engine, tmp_root, sf_dir):
    """create_index(storage="cold") records the regime, build_epoch
    stamps it and auto-builds the SQ8 sidecar the cascade scans, and
    add_vectors maintains the sidecar so the cold index keeps cascading
    across deltas (r12 verdict #2)."""
    with pytest.raises(ValueError, match="storage"):
        engine.create_index("badsto", 64, storage="tepid")
    cfg = engine.create_index(
        "cold_ix", 64, metric="l2", nlist=8, storage="cold"
    )
    assert cfg["storage"] == "cold"
    epoch = engine.build_epoch("cold_ix", f"{tmp_root}/source", activate=True)
    engine.load_index("cold_ix", epoch)
    idx = engine._loaded("cold_ix")
    assert idx.manifest.extra["storage_regime"] == "cold"
    assert idx.manifest.sq  # sidecar auto-built for the cold cascade
    # the sidecar survives an incremental add (O(delta) encode)
    emb = tables.load(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 6).select(
        (F.col("vec_id") + 700_000).alias("id"),
        F.col("embedding").alias("vector"),
    ).write.mode("overwrite").parquet(f"{tmp_root}/cold_delta")
    e2 = engine.add_vectors("cold_ix", f"{tmp_root}/cold_delta", activate=True)
    idx2 = engine._loaded("cold_ix")
    assert idx2.epoch == e2
    assert idx2.manifest.extra["storage_regime"] == "cold"
    assert idx2.manifest.sq  # delta encoded, cascade still resolvable
    # serving still returns exact top-k through the facade
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    assert engine.search("cold_ix", qdf, topk=5).count() == 15


def test_retrain_remeasures_recall_contract(spark, engine, tmp_root):
    """retrain writes a FRESH full epoch with new centroids — the old
    stamp is invalid by construction (routing changed), so the contract
    is re-measured, not inherited: the retrained epoch carries a fresh
    un-stale stamp and keeps serving at a tuned operating point."""
    engine.create_index(
        "rt_retrain", 64, metric="l2", nlist=8, recall_target=0.9
    )
    e1 = engine.build_epoch("rt_retrain", f"{tmp_root}/source", activate=True)
    engine.load_index("rt_retrain", e1)
    e2 = engine.retrain("rt_retrain", seed=43, max_iter=2, activate=True)
    assert e2 != e1
    ex = engine._loaded("rt_retrain").manifest.extra
    assert ex["recall_target_flat"] == 0.9
    assert "suggested_nprobe_flat" in ex
    assert "recall_stamp_stale_flat" not in ex  # fresh measurement


def test_add_vectors_maintains_out_of_band_pq_sidecar(
    spark, engine, tmp_root, sf_dir
):
    """r13 in-round review #5: a PQ sidecar built OUT-OF-BAND on a
    flat-configured index (cfg m == 0) must still be delta-encoded by
    add_vectors — the streaming ingest maintains every sidecar on the
    chain, and the facade add must not leave the new tip codeless."""
    from cuda_acceleratedvectordatabaseengine_spark.operators.pq import (
        IVFPQIndex,
    )

    engine.create_index("oob_pq", 64, metric="l2", nlist=8)  # m == 0
    e1 = engine.build_epoch("oob_pq", f"{tmp_root}/source", activate=True)
    engine.load_index("oob_pq", e1)
    IVFPQIndex.build_from_ivf(engine._loaded("oob_pq"), m=8, nbits=8, seed=42)
    emb = tables.load(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 800_000).alias("id"),
        F.col("embedding").alias("vector"),
    ).write.mode("overwrite").parquet(f"{tmp_root}/oob_delta")
    e2 = engine.add_vectors("oob_pq", f"{tmp_root}/oob_delta", activate=True)
    # the tip carries codes: the PQ surface keeps loading and serving
    pq = IVFPQIndex.load(spark, f"{tmp_root}/data", "oob_pq", epoch=e2)
    qdf = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    assert pq.search(qdf, k=5, nprobe=8).count() == 10


def test_cold_storage_with_recall_target_tunes_after_sidecar(
    spark, engine, tmp_root
):
    """r13 in-round review #1, facade leg: a cold index with a recall
    contract builds its SQ sidecar FIRST and tunes through the
    cascade-capable serving path — the stamp lands and the stale marker
    machinery stays clean."""
    engine.create_index(
        "cold_rt", 64, metric="l2", nlist=8, storage="cold",
        recall_target=0.8,
    )
    epoch = engine.build_epoch("cold_rt", f"{tmp_root}/source", activate=True)
    engine.load_index("cold_rt", epoch)
    idx = engine._loaded("cold_rt")
    ex = idx.manifest.extra
    assert idx.manifest.sq  # sidecar existed before the tune
    assert ex["storage_regime"] == "cold"
    assert ex["recall_target_flat"] == 0.8
    assert "suggested_nprobe_flat" in ex
    assert "recall_stamp_stale_flat" not in ex


def test_merge_index_maintains_sidecars(spark, engine, tmp_root, sf_dir):
    """r13 second review pass #1: merge_index writes a delta epoch like
    add_vectors, so chain sidecars (here: a cold index's SQ) must be
    delta-encoded on the merge tip — a codeless tip silently disables
    the cold cascade after the first shard merge."""
    emb = tables.load(spark, sf_dir, "embeddings")
    for name, pred in (
        ("m_cold_a", F.col("vec_id") % 2 == 0),
        ("m_cold_b", F.col("vec_id") % 2 == 1),
    ):
        emb.filter(pred).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        ).write.mode("overwrite").parquet(f"{tmp_root}/{name}_src")
        engine.create_index(name, 64, metric="l2", nlist=8, storage="cold")
        ep = engine.build_epoch(name, f"{tmp_root}/{name}_src", seed=7,
                                max_iter=2)
        engine.activate_epoch(name, ep)
    e2 = engine.merge_index("m_cold_a", "m_cold_b", activate=True)
    engine.load_index("m_cold_a", e2)
    idx = engine._loaded("m_cold_a")
    assert idx.manifest.sq  # merge tip carries codes
    assert idx.manifest.extra["storage_regime"] == "cold"


def test_search_job_budget_on_delta_chain(
    spark, engine, tmp_root, sf_dir, count_jobs, monkeypatch
):
    """An online request on a base + delta + tombstone chain runs in at
    most 3 Spark jobs: the query batch (one Arrow job), the tombstone
    broadcast and the one-wave scan whose per-task top-k merges on the
    driver; the caller's collect runs none. Its rows equal the
    distributed merge's (forced with LOCAL_MERGE_MAX_ROWS = 0), plain,
    filtered and reranked."""
    emb = tables.load(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 300).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).write.parquet(f"{tmp_root}/budget_src")
    emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 360)).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).write.parquet(f"{tmp_root}/budget_delta")
    engine.create_index("budget", 64, metric="l2", nlist=8)
    ep = engine.build_epoch("budget", f"{tmp_root}/budget_src", seed=5, max_iter=2)
    engine.activate_epoch("budget", ep)
    engine.load_index("budget")
    engine.add_vectors("budget", f"{tmp_root}/budget_delta", activate=True)
    deleted = [3, 11, 305, 310]
    engine.delete_vectors("budget", deleted, activate=True)

    picks = emb.filter(F.col("vec_id") < 360).orderBy("vec_id").limit(16).collect()
    qdf = spark.createDataFrame(
        [(i, list(r["embedding"])) for i, r in enumerate(picks)],
        "query_id long, qvec array<float>",
    )

    def rows(**kw):
        res = engine.search("budget", qdf, topk=10, nprobe=4, **kw)
        return res, sorted(tuple(r) for r in res.collect())

    # the first search on a fresh handle lists the chain's files; the
    # budget is the steady state of a serving handle
    rows()
    for kw in ({}, {"where": "id % 3 = 0"}, {"rerank_exact": True, "rerank_k": 20}):
        (res, local), n = count_jobs(lambda: rows(**kw))
        assert len(local) == 16 * 10
        assert not {r[2] for r in local} & set(deleted)
        assert res.isLocal()
        # the rerank joins the shortlist back to the pruned scan: the
        # shortlist and tombstone broadcasts and the re-scoring scan are
        # three more jobs
        assert n["jobs"] <= (6 if "rerank_exact" in kw else 3), (kw, n)
        with monkeypatch.context() as m:
            m.setattr(knn, "LOCAL_MERGE_MAX_ROWS", 0)
            dist, distributed = rows(**kw)
        assert not dist.isLocal()
        assert local == distributed, kw


def test_code_handle_job_budget_on_delta_chain(
    spark, engine, tmp_root, sf_dir, count_jobs, monkeypatch
):
    """PQ, SQ and BQ handles search through the flat handle's frame. On a
    base + delta chain an online request runs at most 2 Spark jobs, plain
    or filtered: the query batch and the one-wave code scan, whose
    per-task top-k merges on the driver. A reranked one runs at most 4:
    its shortlist's broadcast and the re-scoring scan of the probed raw
    vectors are two more. A tombstone epoch on the tip adds its
    anti-join's broadcast to every folded read: one job to the code scan,
    one more to the re-scoring scan. Rows equal the distributed merge's
    (forced with LOCAL_MERGE_MAX_ROWS = 0), and a cascade other than
    "auto" is refused on a code handle."""
    from cuda_acceleratedvectordatabaseengine_spark.operators.bq import IVFBQIndex
    from cuda_acceleratedvectordatabaseengine_spark.operators.ivf import IVFIndex
    from cuda_acceleratedvectordatabaseengine_spark.operators.pq import IVFPQIndex
    from cuda_acceleratedvectordatabaseengine_spark.operators.sq import IVFSQIndex

    emb = tables.load(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 300).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).write.parquet(f"{tmp_root}/codes_src")
    emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 360)).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).write.parquet(f"{tmp_root}/codes_delta")
    engine.create_index("codes", 64, metric="l2", nlist=8)
    ep = engine.build_epoch("codes", f"{tmp_root}/codes_src", seed=5, max_iter=2)
    engine.activate_epoch("codes", ep)
    base = IVFIndex.load(spark, engine.data_path, "codes")
    IVFPQIndex.build_from_ivf(base, m=4)
    IVFSQIndex.build_from_ivf(base)
    IVFBQIndex.build_from_ivf(base)
    # the delta epoch gets each sidecar's O(delta) encode
    engine.add_vectors("codes", f"{tmp_root}/codes_delta", activate=True)

    picks = emb.filter(F.col("vec_id") < 360).orderBy("vec_id").limit(16).collect()
    qdf = spark.createDataFrame(
        [(i, list(r["embedding"])) for i, r in enumerate(picks)],
        "query_id long, qvec array<float>",
    )

    def rows(**kw):
        res = engine.search("codes", qdf, topk=10, nprobe=4, **kw)
        return res, sorted(tuple(r) for r in res.collect())

    def check(deleted, tombstone_jobs):
        for variant in ("pq", "sq", "bq"):
            engine.load_index("codes", variant=variant)
            rows()  # a fresh handle's first search lists the chain's files
            for kw in (
                {}, {"where": "id % 3 = 0"}, {"rerank_exact": True, "rerank_k": 20}
            ):
                (res, local), n = count_jobs(lambda: rows(**kw))
                assert len(local) == 16 * 10
                assert not {r[2] for r in local} & set(deleted)
                assert res.isLocal()
                budget = (4 + 2 * tombstone_jobs if "rerank_exact" in kw
                          else 2 + tombstone_jobs)
                assert n["jobs"] <= budget, (variant, kw, n)
                with monkeypatch.context() as m:
                    m.setattr(knn, "LOCAL_MERGE_MAX_ROWS", 0)
                    dist, distributed = rows(**kw)
                assert not dist.isLocal()
                assert local == distributed, (variant, kw)
            with pytest.raises(ValueError, match="flat IVF handles only"):
                rows(cascade="sq")

    check([], 0)
    deleted = [3, 11, 305, 310]
    engine.delete_vectors("codes", deleted, activate=True)
    check(deleted, 1)


def test_first_search_after_activation_runs_no_schema_job(
    spark, engine, tmp_root, sf_dir, count_jobs
):
    """The first request after each activation (a base, then base +
    delta, then base + delta + tombstones) runs at most the 3 jobs of a
    warm request: every chain leg is read with the schema its layout
    implies, so none pays Spark's one-task parquet schema-inference job.
    Its rows equal a warm repeat's."""
    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    emb.filter(F.col("id") < 300).write.parquet(f"{tmp_root}/fresh_src")
    emb.filter((F.col("id") >= 300) & (F.col("id") < 360)).write.parquet(
        f"{tmp_root}/fresh_delta"
    )
    picks = emb.filter(F.col("id") < 360).orderBy("id").limit(16).collect()
    qdf = spark.createDataFrame(
        [(i, list(r["vector"])) for i, r in enumerate(picks)],
        "query_id long, qvec array<float>",
    )

    def search():
        return sorted(
            tuple(r) for r in engine.search("fresh", qdf, topk=10, nprobe=4).collect()
        )

    def first_request_budget():
        first, n = count_jobs(search)
        assert n["jobs"] <= 3, n
        assert len(first) == 16 * 10
        assert first == search()
        return first

    engine.create_index("fresh", 64, metric="l2", nlist=8)
    ep = engine.build_epoch("fresh", f"{tmp_root}/fresh_src", seed=5, max_iter=2)
    engine.activate_epoch("fresh", ep)
    engine.load_index("fresh")
    first_request_budget()
    engine.add_vectors("fresh", f"{tmp_root}/fresh_delta", activate=True)
    assert {r[2] for r in first_request_budget()} & set(range(300, 360))
    deleted = [3, 11, 305, 310]
    engine.delete_vectors("fresh", deleted, activate=True)
    assert not {r[2] for r in first_request_budget()} & set(deleted)


def test_list_tier_warm_request_runs_one_job(
    spark, engine, tmp_root, sf_dir, count_jobs
):
    """The driver-resident list tier: a cold request reads its probed lists
    in one job beside the query batch's, a warm one runs the query batch's
    job only. On a base, then a base + delta + tombstone chain, then a
    compacted epoch, plain and reranked rows equal the lazy ``search``
    plan's; a delete followed by activation drops the deleted ids that
    the previous handle's tier still held. Over its budget the tier
    reads nothing and the Spark scan gives the same rows."""
    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    emb.filter(F.col("id") < 300).write.parquet(f"{tmp_root}/tier_src")
    emb.filter((F.col("id") >= 300) & (F.col("id") < 360)).write.parquet(
        f"{tmp_root}/tier_delta"
    )
    # eight base vectors and eight delta vectors
    picks = emb.filter(
        (F.col("id") < 8) | F.col("id").between(300, 307)
    ).orderBy("id").collect()
    # a frame built from a Python list, as a serving client sends it
    qdf = spark.createDataFrame(
        [(i, list(r["vector"])) for i, r in enumerate(picks)],
        "query_id long, qvec array<float>",
    )

    def search(**kw):
        res = engine.search("tier", qdf, topk=10, nprobe=4, **kw)
        assert res.isLocal()
        return sorted(tuple(r) for r in res.collect())

    def lazy(**kw):
        plan = engine._loaded("tier").search(qdf, k=10, nprobe=4, **kw)
        return sorted(tuple(r) for r in plan.collect())

    def budget(cold_jobs, **kw):
        cold, n = count_jobs(lambda: search(**kw))
        assert n["jobs"] <= cold_jobs, (kw, n)
        warm, n = count_jobs(lambda: search(**kw))
        assert n["jobs"] == 1, (kw, n)
        assert cold == warm == lazy(**kw)
        assert len(warm) == 16 * 10
        return warm

    engine.create_index("tier", 64, metric="l2", nlist=8)
    ep = engine.build_epoch("tier", f"{tmp_root}/tier_src", seed=5, max_iter=2)
    engine.activate_epoch("tier", ep)
    engine.load_index("tier")
    budget(2)
    engine.add_vectors("tier", f"{tmp_root}/tier_delta", activate=True)
    budget(2)
    rerank = {"rerank_exact": True, "rerank_k": 20}
    budget(1, **rerank)  # the plain request already filled its lists
    # each query is a corpus vector: its own id is its nearest neighbour
    deleted = [3, 5, 301, 306]
    assert {r[2] for r in search() if r[1] == 1} >= set(deleted)
    old = engine._loaded("tier")
    engine.delete_vectors("tier", deleted, activate=True)
    assert engine._loaded("tier") is not old and old._tier
    # a tombstone chain's fill also runs the tombstone broadcast's job
    for kw in ({}, rerank):
        assert not {r[2] for r in budget(3, **kw)} & set(deleted)
    engine.compact_index("tier", activate=True)
    for kw in ({}, rerank):
        assert not {r[2] for r in budget(2, **kw)} & set(deleted)
    # probed lists that do not fit the budget are not read into the tier:
    # a 1-byte budget empties it, and requests take the pruned Spark scan
    idx = engine._loaded("tier")
    warm = search()
    assert idx._tier and idx._tier_bytes > 0
    engine.set_warm_budget("tier", 1)
    try:
        assert not idx._tier and idx._tier_bytes == 0
        spark_rows, n = count_jobs(search)
        assert not idx._tier
        assert n["jobs"] >= 2, n  # the query batch and the scan
        assert spark_rows == warm
    finally:
        engine.set_warm_budget("tier", None)
