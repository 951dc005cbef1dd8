"""The benchmark's workloads. Each drives the engine only through its public
entry points (``service.VectorEngine``, ``operators.dedup``,
``operators.textops``) and checks every output against ground truth from
``truth``.

- ``index_churn``: a vector index that takes writes beside reads. Set-up
  builds an IVF-Flat index, adds a batch (delta epoch), deletes a batch
  (tombstone epoch), activates each and serves one warm-up request. The
  measured window serves small online requests from one client that waits
  for every reply (closed loop, 1 client, Zipf-skewed over the clusters)
  against that three-epoch chain, then runs one bulk search, compacts, and
  runs the bulk search again on the compacted index. The measured
  operation is one online request; the window's wall time (bulk searches
  and compaction included) is the measured time.
- ``dedup_pipeline``: one pass of exact-dedup stats, MinHash pairs,
  duplicate clusters and chunk + hashed embedding over a fresh generated
  corpus with planted duplicates. The measured operation is one pass.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import datagen as G
from . import truth as TR

SCALES = {
    "full": {
        "index_churn": dict(
            d=64, clusters=32, nlist=32, k=10, nq=16, nprobe=8, bulk_nprobe=16,
            zipf=1.1, n=10_000, add=500, delete=250, uniform=250,
            min_requests=12, max_requests=64,
        ),
        "dedup_pipeline": dict(docs=800, vocab=3000, exact=0.05, near=0.15, edit=0.03,
                               threshold=0.8, max_tokens=64, overlap=16, dim=64,
                               pair_sample=300),
    },
    "tiny": {
        "index_churn": dict(
            d=16, clusters=8, nlist=8, k=5, nq=4, nprobe=3, bulk_nprobe=4,
            zipf=1.1, n=1500, add=100, delete=50, uniform=40,
            min_requests=2, max_requests=4,
        ),
        "dedup_pipeline": dict(docs=200, vocab=500, exact=0.05, near=0.15, edit=0.03,
                               threshold=0.8, max_tokens=32, overlap=8, dim=16,
                               pair_sample=50),
    },
}

def _engine(run, name: str):
    from cuda_acceleratedvectordatabaseengine_spark.service import VectorEngine

    return VectorEngine(run.spark, run.path(name))


# -- index_churn ---------------------------------------------------------------

INDEX = "churn"


def _churn_inputs(run) -> dict:
    """Every input of the workload: the base set, an add batch, a delete
    set, the live set after both, the online requests (the first is the
    warm-up) and the bulk queries (uniform probes near live vectors, plus
    every added vector, which must find itself)."""
    p = run.p
    rng = G.rng_for(run.seed, 10)
    C = G.centers(rng, p["clusters"], p["d"])
    weights = G.zipf_weights(p["clusters"], p["zipf"], rng)
    X, _ = G.clustered_vectors(rng, C, p["n"])
    ids = rng.permutation(np.arange(p["n"], dtype=np.int64) * 5 + 2)
    base = run.path("base.parquet")
    G.write_vectors(base, ids, X)
    live = dict(zip(ids.tolist(), X))

    ax, _ = G.clustered_vectors(rng, C, p["add"])
    aids = np.arange(int(ids.max()) + 1, int(ids.max()) + 1 + p["add"], dtype=np.int64)
    add_path = run.path("add.parquet")
    G.write_vectors(add_path, aids, ax)
    live.update(zip(aids.tolist(), ax))
    # deletions never touch the adds: those must find themselves
    dels = rng.choice(ids, p["delete"], replace=False)
    for i in dels.tolist():
        del live[i]
    live_ids = np.fromiter(live, dtype=np.int64)
    picks = rng.choice(live_ids, p["uniform"], replace=False)
    uq = np.stack([live[i] for i in picks.tolist()])
    uq = (uq + rng.normal(scale=0.5, size=uq.shape)).astype(np.float32)
    requests = []
    for _ in range(1 + p["max_requests"]):
        c = rng.choice(len(C), p["nq"], p=weights)
        requests.append((C[c] + rng.normal(size=(p["nq"], p["d"]))).astype(np.float32))
    return dict(
        base=base, add_path=add_path, add_ids=aids, delete=dels,
        state=dict(live_ids=live_ids, live_x=np.stack([live[i] for i in live_ids.tolist()]),
                   deleted=set(dels.tolist()), self_ids=aids, self_from=p["uniform"]),
        requests=requests, bulk=np.concatenate([uq, ax]),
    )


def _search(run, eng, q, nprobe):
    qids = np.arange(len(q), dtype=np.int64)
    df = run.spark.createDataFrame(G.query_rows(qids, q), G.QUERY_SCHEMA)
    rows = eng.search(INDEX, df, topk=run.p["k"], nprobe=nprobe).collect()
    run.note(results=len(rows))
    return qids, rows


def _check_search(run, qids, q, rows, state, bulk: bool) -> None:
    k = run.p["k"]
    by_q = TR.group_results(rows)
    live = dict(zip(state["live_ids"].tolist(), state["live_x"]))
    errs = TR.check_knn(by_q, qids, q, k, live, state["deleted"])
    if bulk:
        for j, want in enumerate(state["self_ids"].tolist()):
            got = by_q.get(int(qids[state["self_from"] + j]), [])
            if not got or got[0][1] != want:
                errs.append(f"added id {want} does not find itself")
                break
    run.check(errs)
    truth = TR.exact_topk(q, state["live_x"], state["live_ids"], k)
    run.quality.append(TR.recall(by_q, qids, truth))


def index_churn(run) -> None:
    from cuda_acceleratedvectordatabaseengine_spark.sources.epochs import EpochManager

    p = run.p
    inp = _churn_inputs(run)
    state = inp["state"]
    detail: dict = {}
    searches = []

    def timed(phase, fn):
        t0 = time.perf_counter()
        with run.group(phase):
            res = fn()
        detail.setdefault(phase, []).append(time.perf_counter() - t0)
        return res

    def build():
        eng.create_index(INDEX, p["d"], nlist=p["nlist"])
        eng.build_epoch(INDEX, inp["base"], seed=run.seed, activate=True)
        eng.load_index(INDEX)

    def bulk():
        q = inp["bulk"]
        qids, rows = timed("churn.search", lambda: _search(run, eng, q, p["bulk_nprobe"]))
        searches.append((qids, q, rows, True))
        run.items += len(q)

    with run.setup_phase():
        run.start_session()
        eng = _engine(run, "index")
        # the ingest is set-up, but its spans and Spark accounting feed the
        # write-side per-layer figures
        with run.traced_setup("ingest"):
            timed("churn.build", build)
            timed("churn.add", lambda: eng.activate_epoch(
                INDEX, eng.add_vectors(INDEX, inp["add_path"])))
            timed("churn.delete", lambda: eng.activate_epoch(
                INDEX, eng.delete_vectors(INDEX, ids=inp["delete"].tolist())))
        q = inp["requests"][0]
        with run.group("churn.request"):
            qids, rows = _search(run, eng, q, p["nprobe"])
        searches.append((qids, q, rows, False))
    chain = len(EpochManager(eng.data_path, INDEX).epoch_chain())

    t0 = time.perf_counter()
    for q in inp["requests"][1:]:
        if len(run.op_ms) >= p["min_requests"] and not run.time_left():
            break
        with run.op() as st:
            with run.group("churn.request"):
                qids, rows = _search(run, eng, q, p["nprobe"])
        if st["ok"]:
            searches.append((qids, q, rows, False))
            run.items += len(q)
    run.key = "chain"
    bulk()
    run.key = "compacted"
    timed("churn.compact", lambda: eng.compact_index(INDEX, activate=True))
    bulk()
    # the whole window is measured work: the bulk searches and compaction too
    run.measured_s = time.perf_counter() - t0

    for qids, q, rows, is_bulk in searches:
        _check_search(run, qids, q, rows, state, is_bulk)
    index_dir = os.path.join(eng.data_path, INDEX)
    disk = sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(index_dir) for f in fs)
    chain_s, compacted_s = detail["churn.search"]
    run.detail.update(
        search_p50_ms=float(np.median(run.op_ms)),
        search_requests=len(run.op_ms),
        chain_length_at_requests=chain,
        build_s=detail["churn.build"][0],
        ingest_vectors_per_s=len(inp["add_ids"]) / detail["churn.add"][0],
        delete_s=detail["churn.delete"][0],
        bulk_search_qps_chain=len(inp["bulk"]) / chain_s,
        bulk_search_qps_compacted=len(inp["bulk"]) / compacted_s,
        compact_s=detail["churn.compact"][0],
        disk_bytes_per_vector_byte=disk / state["live_x"].nbytes,
        recall_at_10=float(np.mean(run.quality)),
    )
    run.chain_lengths = [chain]


# -- dedup_pipeline ------------------------------------------------------------

def _corpus(run, stream: int, n_docs: int):
    p = run.p
    rng = G.rng_for(run.seed, stream)
    vocab = G.vocabulary(rng, p["vocab"])
    n_base = int(round(n_docs / (1 + p["exact"] + p["near"])))
    ids, texts, planted = G.documents(rng, vocab, n_base, p["exact"], p["near"], p["edit"])
    path = run.path(f"docs-{stream}.parquet")
    G.write_documents(path, ids, texts)
    return path, ids, texts, planted


def _dedup_pass(run, path: str) -> dict:
    """One pipeline pass. Each lazy step is materialised by the action at
    its end, inside its own job group."""
    from pyspark.sql import functions as F

    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup as DD
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops as TO

    p = run.p
    docs = run.spark.read.parquet(path)
    out = {}
    with run.group("dedup.exact"):
        out["stats"] = DD.exact_dedup_stats(docs).collect()[0]
    with run.group("dedup.minhash_pairs"):
        pairs = DD.minhash_dedup_pairs(docs, threshold=p["threshold"])
        out["pairs"] = pairs.collect()
    with run.group("dedup.clusters"):
        out["clusters"] = DD.duplicate_clusters(pairs).collect()
    with run.group("textops.chunk_embed"):
        chunks = TO.chunk_documents(docs, max_tokens=p["max_tokens"], overlap=p["overlap"])
        keyed = chunks.select(
            (F.col("doc_id") * 10_000 + F.col("chunk_id")).alias("chunk_key"),
            "chunk_text",
        )
        vecs = TO.dense_hashed_vectors(keyed, dim=p["dim"], text_col="chunk_text",
                                       id_col="chunk_key")
        norm = F.sqrt(F.aggregate("vector", F.lit(0.0), lambda a, v: a + v * v))
        out["embed"] = vecs.agg(
            F.count("*").alias("n"),
            F.sum((F.size("vector") != p["dim"]).cast("int")).alias("bad_dim"),
            F.sum((F.abs(norm - 1.0) > 1e-4).cast("int")).alias("bad_norm"),
        ).collect()[0]
    return out


def _check_dedup(run, out, ids, texts, planted) -> tuple[list[str], float, int]:
    p = run.p
    errs = []
    st = out["stats"]
    if (st["n_docs"], st["n_unique"]) != (len(texts), len(set(texts))):
        errs.append(f"exact stats {st['n_docs']}/{st['n_unique']} != "
                    f"{len(texts)}/{len(set(texts))}")
    text_of = dict(zip(ids.tolist(), texts))
    sh = {}

    def shingles(i):
        if i not in sh:
            sh[i] = TR.shingles(text_of[i])
        return sh[i]

    pairs = [(int(r["doc_id_a"]), int(r["doc_id_b"])) for r in out["pairs"]]
    if any(a >= b for a, b in pairs) or len(set(pairs)) != len(pairs):
        errs.append("pairs are not distinct a<b pairs")
    rng = G.rng_for(run.seed, 99, len(pairs))
    sample = rng.permutation(len(pairs))[:p["pair_sample"]]
    for j in sample.tolist():
        a, b = pairs[j]
        jac = TR.jaccard(shingles(a), shingles(b))
        if jac < p["threshold"] - 1e-9:
            errs.append(f"pair ({a},{b}) has exact Jaccard {jac:.3f} < threshold")
            break
    found = set(pairs)
    want = [tuple(sorted((a, b))) for a, b, _k in planted
            if TR.jaccard(shingles(a), shingles(b)) >= p["threshold"]]
    pair_recall = sum(1 for pr in want if pr in found) / max(1, len(want))
    comp = TR.components(pairs)
    sizes: dict[int, int] = {}
    for root in comp.values():
        sizes[root] = sizes.get(root, 0) + 1
    got = {(int(r["cluster_id"]), int(r["sz"])) for r in out["clusters"]}
    if got != set(sizes.items()):
        errs.append(f"clusters differ from union-find over the pairs "
                    f"({len(got)} vs {len(sizes)})")
    e = out["embed"]
    n_chunks = sum(TR.chunk_count(t, p["max_tokens"], p["overlap"]) for t in texts)
    if (e["n"], e["bad_dim"], e["bad_norm"]) != (n_chunks, 0, 0):
        errs.append(f"embeddings: {e['n']} rows (want {n_chunks}), "
                    f"{e['bad_dim']} bad dims, {e['bad_norm']} not unit norm")
    return errs, pair_recall, len(want)


def dedup_pipeline(run) -> None:
    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup as DD

    p = run.p
    wpath, *_ = _corpus(run, 50, p["docs"])
    with run.setup_phase():
        run.start_session()
        _dedup_pass(run, wpath)
        DD.shared_cache.release()
    done = []
    i = 0
    # at least three passes: the median is then a middle pass, and a traced
    # run has untraced passes beside traced ones
    while run.time_left() or i < 3:
        path, ids, texts, planted = _corpus(run, 60 + i, p["docs"])
        with run.op() as st:
            out = _dedup_pass(run, path)
        if run.tracer is not None and st["ok"] and run.candidates is not None:
            # outside the timed pass: one extra job over the persisted signatures
            run.key = "trace"
            with run.group("dedup.candidates"):
                out["candidates"] = run.candidates.count()
            run.candidates = None
        DD.shared_cache.release()
        if st["ok"]:
            done.append((out, ids, texts, planted))
            run.items += len(texts)
        i += 1
    recalls = []
    for out, ids, texts, planted in done:
        errs, rec, n_planted = _check_dedup(run, out, ids, texts, planted)
        run.check(errs)
        run.quality.append(rec)
        recalls.append((rec, n_planted, len(out["pairs"])))
    run.detail.update(
        dedup_docs_per_s=run.items / run.measured_s,
        dedup_pair_recall=float(np.mean([r for r, _, _ in recalls])),
        planted_pairs=[n for _, n, _ in recalls],
        verified_pairs=[v for _, _, v in recalls],
        passes=len(done),
    )
    run.dedup_outputs = [out for out, *_ in done]


WORKLOADS = {
    "index_churn": index_churn,
    "dedup_pipeline": dedup_pipeline,
}
