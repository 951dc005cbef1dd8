from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.operators import dedup
from cuda_acceleratedvectordatabaseengine_spark.sources import tables

BASE = "spark merges batches of vector data into partitioned tables for fast scans "


@pytest.fixture(scope="module")
def docs(spark):
    """Planted structure: 0/1 exact dups (modulo whitespace/case), 2/3 near
    dups (one word changed), 4..9 unrelated, 10 empty."""
    texts = {
        0: BASE * 5,
        1: ("  " + BASE.upper() * 5 + "  "),
        2: BASE * 4 + BASE.replace("fast", "slow"),
        3: BASE * 5,
        4: "completely different content about streaming watermarks and windows " * 5,
        5: "the quick brown fox jumps over the lazy dog repeatedly every day " * 5,
        6: "une phrase en francais qui ne ressemble a rien d autre ici vraiment " * 5,
        7: "der schnelle braune fuchs springt uber den faulen hund jeden tag " * 5,
        8: "numbers 123 456 789 and symbols #$% fill this document entirely " * 5,
        9: "final unrelated document with its own unique vocabulary tokens here " * 5,
        10: "   ",
    }
    rows = [(i, t) for i, t in texts.items()]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicate_groups(docs).collect()
    # 0, 1, 3 are identical after normalization (lower + whitespace collapse)
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 1, 3] and groups[0]["cnt"] == 3
    kept = dedup.dedup_exact(docs).select("doc_id").collect()
    kept_ids = sorted(r["doc_id"] for r in kept)
    assert kept_ids == [0, 2, 4, 5, 6, 7, 8, 9, 10]
    stats = dedup.exact_dedup_stats(docs).collect()[0]
    assert (stats["n_docs"], stats["n_unique"], stats["n_dup"]) == (11, 9, 2)


def test_ngram_jaccard_exact(spark, docs):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # exact-dup pairs at jaccard 1.0; near-dup pair (2, x) high but < 1
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 3)] == 1.0 and pairs[(1, 3)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    # unrelated docs never pair
    assert all(a <= 3 and b <= 3 for a, b in pairs)


def test_minhash_lsh_matches_exact(spark, docs):
    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert lsh == exact  # verify=True: no false positives; planted j>=0.8: no misses


def test_minhash_estimate_mode(spark, docs):
    est = dedup.minhash_dedup_pairs(docs, threshold=0.5, verify=False).collect()
    got = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in est}
    assert (0, 1) in got and got[(0, 1)] == 1.0  # identical sigs estimate 1.0


def test_lsh_candidates_deterministic(spark, docs):
    c1 = sorted(map(tuple, dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(docs)).collect()))
    c2 = sorted(map(tuple, dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(docs)).collect()))
    assert c1 == c2


def test_simhash(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[3]  # identical token multiset -> identical simhash
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 3)] == 0
    # near-dup 2 is within a small ball of 0/3 (one word of ~55 changed)
    assert (2, 3) in pairs or (0, 2) in pairs
    assert all(h <= 3 for h in pairs.values())


def test_embedding_near_dup(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup_pairs(emb, tau=1.15).collect()
    assert all(r["vec_id_a"] < r["vec_id_b"] for r in pairs)
    assert all(0 <= r["d2"] < 1.15 for r in pairs)
    pdf = emb.toPandas()
    V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    d2 = ((V[:, None, :] - V[None, :, :]) ** 2).sum(-1)
    iu = np.triu_indices(len(V), k=1)
    want = int((d2[iu] < 1.15).sum())
    assert len(pairs) == want


def test_stop_shingle_removal(spark, docs):
    # capping shingle doc-frequency must not create pairs, only drop them
    base = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_doc_freq=3
        ).collect()
    }
    assert capped <= base | capped  # sanity: runs and yields pairs


@pytest.mark.parametrize("driver_threshold", [1_000_000, 0])
def test_connected_components_chain_and_clique(spark, driver_threshold):
    # chain 1-2-3-4-5 (diameter 4 exercises pointer jumping), clique 10-11-12,
    # isolated pair 20-21; threshold=0 forces the distributed path
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (20, 21)],
        "doc_id_a long, doc_id_b long",
    )
    cc = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(
            pairs, driver_threshold=driver_threshold
        ).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    clusters = {
        r["cluster_id"]: r["sz"] for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert clusters == {1: 5, 10: 3, 20: 2}


def test_connected_components_long_chain_checkpoints(spark):
    """A 64-node path graph needs >5 pointer-jumping rounds, so the
    distributed loop crosses its lineage-checkpoint boundary at least once
    (every 5 iterations) and must still converge to the single min label."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_id_a long, doc_id_b long"
    )
    cc = dedup.connected_components(pairs, driver_threshold=0)
    got = {r["doc_id"]: r["component"] for r in cc.collect()}
    assert got == {i: 0 for i in range(64)}
    # the returned frame is checkpointed — no relation-cache entry leaks
    assert not cc.storageLevel.useMemory or cc.rdd.is_checkpointed


def test_resolve_duplicates_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 4)], "doc_id_a long, doc_id_b long")
    out = dedup.resolve_duplicates(docs, pairs).collect()
    by_id = {r["doc_id"]: r for r in out}
    # cluster {0,3,4} -> canonical 0; singletons 1,2,5 canonical themselves
    assert [by_id[i]["cluster_id"] for i in range(6)] == [0, 1, 2, 0, 0, 5]
    assert [by_id[i]["is_canonical"] for i in range(6)] == [
        True, True, True, False, False, True,
    ]
    kept = sorted(r["doc_id"] for r in out if r["is_canonical"])
    assert kept == [0, 1, 2, 5]


def test_shared_cache_registry(spark):
    """Bounded, semantically-keyed persistence: identical logical plans hit
    the same entry, the LRU cap evicts the coldest, release() frees all,
    and an externally cleared entry is re-persisted on hit."""
    from cuda_acceleratedvectordatabaseengine_spark.util import SharedCache

    reg = SharedCache(max_entries=2)
    a1 = spark.range(100).selectExpr("id", "id * 2 as y")
    a2 = spark.range(100).selectExpr("id", "id * 2 as y")  # same plan
    b = spark.range(50)
    p1 = reg.persist(a1)
    assert reg.persist(a2) is p1  # semantic hit, no duplicate entry
    assert len(reg) == 1 and p1.storageLevel.useMemory
    p2 = reg.persist(b)
    assert len(reg) == 2
    c = spark.range(7).selectExpr("id + 3 as z")
    reg.persist(c)  # cap 2 -> the coldest (p1) is evicted
    assert len(reg) == 2
    assert not p1.storageLevel.useMemory
    assert p2.storageLevel.useMemory
    # externally cleared entries re-persist on hit
    spark.catalog.clearCache()
    p2b = reg.persist(spark.range(50))
    assert p2b is p2 and p2.storageLevel.useMemory
    assert reg.release() == 2
    assert not p2.storageLevel.useMemory and len(reg) == 0


def test_shared_cache_hash_collision_keeps_both(spark, monkeypatch):
    """A 32-bit semanticHash collision must NOT substitute the wrong
    relation: colliding plans live side-by-side in the key's bucket, each
    hit returns ITS OWN frame, and both stay evictable."""
    from cuda_acceleratedvectordatabaseengine_spark.util import SharedCache

    reg = SharedCache(max_entries=4)
    monkeypatch.setattr(SharedCache, "_key", staticmethod(lambda df: ("forced",)))
    a = spark.range(10).selectExpr("id", "id * 2 as y")
    b = spark.range(99).selectExpr("id + 5 as z")  # different plan, same key
    pa_ = reg.persist(a)
    pb = reg.persist(b)
    assert pa_ is not pb and len(reg) == 2
    # each plan hits its own entry, never the collider's
    assert reg.persist(spark.range(10).selectExpr("id", "id * 2 as y")) is pa_
    assert reg.persist(spark.range(99).selectExpr("id + 5 as z")) is pb
    assert pa_.count() == 10 and pb.count() == 99
    assert reg.release() == 2
    assert not pa_.storageLevel.useMemory and not pb.storageLevel.useMemory


def test_bucket_size_cap_bounds_degenerate_lsh(spark):
    """A degenerate cluster of identical docs must not go quadratic in the
    band self-join: with the cap, its oversized buckets are dropped whole
    while small-bucket (genuine near-dup) pairs still surface."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base * 3) for i in range(30)]  # 30-identical cluster
    rows += [(100, "completely different text about spark and parquet files"),
             (101, "completely different text about spark and parquet stuff")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.minhash_dedup_pairs(
        df, threshold=0.5, max_bucket_size=10
    ).collect()
    # the 30-clone cluster (29*30/2 = 435 pairs) is dropped; the genuine
    # 2-doc near pair has bucket size 2 everywhere and survives
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in capped} == {(100, 101)}

    uncapped = dedup.minhash_dedup_pairs(
        df, threshold=0.5, max_bucket_size=None
    ).collect()
    assert len(uncapped) == 435 + 1


def test_bucket_size_cap_bounds_degenerate_simhash(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base * 3) for i in range(30)]
    # a 2-member bucket (pair of identical docs, hamming 0) must survive
    rows += [(100, "completely different text about spark and parquet files"),
             (101, "completely different text about spark and parquet files")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.simhash_near_pairs(df, max_hamming=3, max_bucket_size=10).collect()
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in capped}
    assert (100, 101) in got
    assert all(a >= 100 for a, _b in got)  # no clone-cluster pairs

    uncapped = dedup.simhash_near_pairs(
        df, max_hamming=3, max_bucket_size=None
    ).collect()
    assert len(uncapped) == 435 + 1


# -- asymmetric containment ---------------------------------------------------


def test_containment_detects_subsumed_document(spark):
    """A short doc fully quoted inside a long one: containment(short in
    long) = 1.0 while Jaccard is small — the asymmetric signal."""
    short = "alpha beta gamma delta epsilon"
    long_ = short + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    rows = {
        (r["inner_id"], r["outer_id"]): r["containment"]
        for r in dedup.containment_pairs(df, tau=0.9, n=3).collect()
    }
    assert rows == {(1, 2): 1.0}
    # symmetric Jaccard misses this pair entirely at the same bar
    assert dedup.ngram_jaccard_pairs(df, threshold=0.9, n=3).count() == 0
    # lowering tau exposes the reverse direction at its true ratio 3/15
    both = {
        (r["inner_id"], r["outer_id"]): r["containment"]
        for r in dedup.containment_pairs(df, tau=0.1, n=3).collect()
    }
    assert both[(1, 2)] == 1.0
    assert abs(both[(2, 1)] - 3 / 15) < 1e-9


def test_containment_matches_python_reference(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents").limit(120)
    got = {
        (r["inner_id"], r["outer_id"]): r["containment"]
        for r in dedup.containment_pairs(docs, tau=0.3, n=3).collect()
    }

    rows = docs.select("doc_id", "text").collect()

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sh = {r["doc_id"]: shingles(r["text"]) for r in rows if r["text"].strip()}
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = len(sh[a] & sh[b])
            if not c:
                continue
            if c / len(sh[a]) >= 0.3:
                want[(a, b)] = c / len(sh[a])
            if c / len(sh[b]) >= 0.3:
                want[(b, a)] = c / len(sh[b])
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9


def test_containment_validation(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tau"):
        dedup.containment_pairs(df, tau=0.0)


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_edit_pairs_matches_python_reference(spark, docs):
    """Every surfaced pair carries the exact Levenshtein distance
    (differential vs a pure-Python DP), and the pair set equals brute
    force over the Jaccard-floor candidates."""
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    cand = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.3).collect()
    }
    want = {}
    for a, b in cand:
        d = _py_lev(texts[a], texts[b])
        ml = max(len(texts[a]), len(texts[b]))
        sim = 1.0 if ml == 0 else 1.0 - d / ml
        if sim >= 0.6:
            want[(a, b)] = (d, round(sim, 9))
    got = {
        (r["doc_id_a"], r["doc_id_b"]): (r["edit_distance"], round(r["edit_sim"], 9))
        for r in dedup.fuzzy_edit_pairs(docs, min_similarity=0.6).collect()
    }
    assert got == want
    assert got, "fixture should surface at least the exact-dup pair (0,3)"
    # exact dups (same normalized text, differing case/whitespace) are
    # NOT distance-0 but are still far above the floor
    assert got[(0, 3)][0] == 0 and got[(0, 3)][1] == 1.0


def test_fuzzy_edit_pairs_banded_threshold(spark, docs):
    """max_distance enables the banded early-exit without changing any
    surviving row: results at a generous cap equal the uncapped run, and
    a tiny cap keeps only the distance-0 pairs."""
    full = {
        (r["doc_id_a"], r["doc_id_b"]): r["edit_distance"]
        for r in dedup.fuzzy_edit_pairs(docs, min_similarity=0.6).collect()
    }
    capped = {
        (r["doc_id_a"], r["doc_id_b"]): r["edit_distance"]
        for r in dedup.fuzzy_edit_pairs(
            docs, min_similarity=0.6, max_distance=100_000
        ).collect()
    }
    assert capped == full
    tiny = {
        (r["doc_id_a"], r["doc_id_b"]): r["edit_distance"]
        for r in dedup.fuzzy_edit_pairs(
            docs, min_similarity=0.0, max_distance=0
        ).collect()
    }
    assert tiny == {p: d for p, d in full.items() if d == 0}


def test_fuzzy_edit_pairs_validation(spark, docs):
    with pytest.raises(ValueError, match="min_similarity"):
        dedup.fuzzy_edit_pairs(docs, min_similarity=1.5)


def test_minhash_verify_impls_identical(spark, docs):
    """The array_intersect verification must emit exactly the rows of the
    flat shingle-table join (two joins back to the shingle table, a
    per-pair count, two size joins) — pair set AND jaccard values.
    ngram_jaccard_pairs computes that join over every pair sharing a
    shingle, so with verify=True and no LSH misses the two must agree."""
    got = {}
    for name, op in (
        ("array_intersect", dedup.minhash_dedup_pairs),
        ("shingle_join", dedup.ngram_jaccard_pairs),
    ):
        dedup.shared_cache.release()
        got[name] = sorted(
            (r["doc_id_a"], r["doc_id_b"], round(r["jaccard"], 12))
            for r in op(docs, threshold=0.5).collect()
        )
    assert got["array_intersect"] == got["shingle_join"]
    assert got["array_intersect"], "fixture must produce pairs"
