"""Exact brute-force top-k search (T1) with the reference's merge semantics
(T4): ascending distance, dedup by id, ties broken by id.

Reference behavior matched:
- T1 scan: all-pairs distance then top-k per query. The reference's *CPU*
  path (std::partial_sort, engine/ivf_flat_index.cpp:339-384) is the ground
  truth — its GPU kernel's top-k is defective (thread-0-only write,
  engine/kernels.cuh:173-184) and is not reproduced.
- T4 merge: global ascending sort + dedup-by-id + take k
  (engine/ivf_flat_index.cpp:474-518). The reference pads short results with
  (FLT_MAX, UINT64_MAX) sentinels which the server immediately drops
  (server/query_service.cpp:150); variable-length DataFrames make padding
  unnecessary.
- k bounds 1..1000 (server/query_service.cpp:77). The kernel-side k<=32 cap
  (engine/kernels.cuh:125-131) is an implementation limit, not a semantic,
  and is not reproduced.

Two physical strategies, one logical semantics:

``impl="sql"``  — crossJoin(broadcast(queries)) + distance expression +
  per-query top-k window. Fully declarative; Catalyst broadcasts the small
  side so the big corpus never shuffles, but the window still shuffles
  nq*N candidate rows by query_id. Kept for oracle parity and plan clarity.

``impl="numpy"`` (default) — the scale path. Queries are collected (they are
  the small side by contract — a search batch, not a table) and closed over
  by an Arrow ``mapInPandas`` that computes a float64 distance block per
  Arrow batch and keeps only the per-batch top-k per query. Only
  O(partitions * nq * k) candidate rows ever shuffle — the global top-k
  window then runs on a tiny relation. This is the partial/final top-k
  pattern (map-side combine for ORDER BY+LIMIT), and the numpy block product
  is the moral equivalent of the reference's CUDA bruteforce kernel
  (engine/kernels.cuh:84-185) — one dense scan per partition, zero
  cross-partition traffic until the k-row merge.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import distance as D

MAX_TOPK = 1000  # server/query_service.cpp:77
# queries must fit on the driver (O(nq*d) doubles); the reference serves
# batches of <=64 (server/query_service.h:25-31) — we allow far larger but
# enforce the contract instead of leaving it docstring-only.
MAX_QUERY_BATCH = 1_000_000
CANDIDATE_SCHEMA = "query_id long, id long, distance double"
RESULT_SCHEMA = "query_id long, rank int, id long, distance double"
# a T4 merge whose candidate relation holds at most this many rows runs on
# the driver (local_topk): 1M rows of (query_id, id, distance) are ~24 MB of
# Arrow. Above it the merge stays distributed (topk_per_query) — a
# MAX_QUERY_BATCH-sized batch must not land on the driver.
LOCAL_MERGE_MAX_ROWS = 1 << 20


def validate_topk(k: int) -> None:
    if not 1 <= k <= MAX_TOPK:
        raise ValueError(f"topk must be in [1, {MAX_TOPK}], got {k}")


def topk_per_query(
    candidates: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "id",
    distance_col: str = "distance",
    dedup: bool = True,
) -> DataFrame:
    """T4 merge: dedup by id, ascending (distance, id), take k, emit rank.

    Dedup precedes ranking because the same vector can surface from multiple
    probed lists (engine/ivf_flat_index.cpp:493-504); ties break by id so
    results are deterministic across engines and runs.
    """
    if dedup:
        # ONE exchange: hash-partitioning on query_id alone satisfies the
        # clustering requirement of BOTH steps (the dedup groups by
        # (query_id, id), a superset of the key; the rank window by
        # query_id), so the min-aggregate dedup and the top-k window share
        # one shuffle instead of two window stages (OPTIMIZATION_r14.md
        # §3). min() ignores NULL distances; every scanner emits finite
        # non-null values (masked +inf candidates are filtered), and any
        # new scanner must keep that contract.
        candidates = (
            candidates.repartition(query_id_col)
            .groupBy(query_id_col, id_col)
            .agg(F.min(distance_col).alias(distance_col))
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(distance_col).asc(), F.col(id_col).asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col(id_col).alias("id"),
            F.col(distance_col).alias("distance"),
        )
    )


def exact_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = D.L2,
    impl: str = "numpy",
    id_col: str = "id",
    vec_col: str = "vector",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact k-NN of every query against the full corpus.

    Returns RESULTS-shaped DataFrame {query_id, rank, id, distance}.
    """
    validate_topk(k)
    metric = D.parse_metric(metric)
    if impl == "sql":
        return _exact_knn_sql(
            vectors, queries, k, metric, id_col, vec_col, query_id_col, qvec_col
        )
    return _exact_knn_numpy(
        vectors, queries, k, metric, id_col, vec_col, query_id_col, qvec_col
    )


def _exact_knn_sql(vectors, queries, k, metric, id_col, vec_col, query_id_col, qvec_col):
    cand = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"), F.col(qvec_col).alias("qvec")
                )
            )
        )
        .select(
            "query_id",
            "id",
            D.distance_expr(metric, "vector", "qvec").alias("distance"),
        )
    )
    # dedup=False: the corpus contributes each id exactly once per query here
    return topk_per_query(cand, k, dedup=False)


def collect_query_matrix(
    queries: DataFrame, query_id_col: str = "query_id", qvec_col: str = "qvec"
) -> tuple[np.ndarray, np.ndarray]:
    """Queries are a bounded search batch (max_batch_size=64 in the
    reference, server/query_service.h:25-31; we allow far larger but they
    must fit on the driver — O(nq*d) doubles). Enforced by a limit(N+1)
    probe (same pattern as dedup.py's edge-count guard): a query side larger
    than MAX_QUERY_BATCH raises instead of silently OOMing the driver.

    The batch comes back in ONE Arrow job (``toArrow``) and the matrix is a
    flat-buffer reshape (``arrowkit.list_matrix``): a Row ``collect`` of a
    limit runs as ``executeTake``, two jobs and two waves of Python tasks
    for a Python-sourced batch, then rebuilds the matrix row by row. A
    ragged or null query vector raises ``ValueError``."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    tbl = (
        queries.select(query_id_col, qvec_col)
        .limit(MAX_QUERY_BATCH + 1)
        .toArrow()
    )
    if tbl.num_rows > MAX_QUERY_BATCH:
        raise ValueError(
            f"query batch exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}; the query "
            "side must be a bounded search batch, not a table — for "
            "corpus-vs-corpus searches use the join-based operators "
            "(ann.blocked_all_pairs / ann.lsh_near_dup_pairs)"
        )
    rb = pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in tbl.columns], names=["query_id", "qvec"]
    )
    return AK.column(rb, "query_id", np.int64), AK.list_matrix(rb, "qvec")


def merge_topk_arrays(
    qids: np.ndarray, ids: np.ndarray, dist: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The T4 merge of ``topk_per_query(dedup=True)`` over flat numpy
    candidate columns: one row per (query, id) with its minimum distance,
    ordered by (query, distance, id), rank 1..k per query. Returns
    (query_id, rank, id, distance) in that order — the reference's
    host-memory merge (engine/ivf_flat_index.cpp:493-504), vectorized
    across every query of the batch."""
    qids = np.asarray(qids, dtype=np.int64)
    ids = np.asarray(ids, dtype=np.int64)
    dist = np.asarray(dist, dtype=np.float64)
    # min distance per (query, id): sort by (query, id, distance), keep
    # the first row of each pair
    o = np.lexsort((dist, ids, qids))
    q, i, d = qids[o], ids[o], dist[o]
    first = np.ones(len(q), dtype=bool)
    first[1:] = (q[1:] != q[:-1]) | (i[1:] != i[:-1])
    q, i, d = q[first], i[first], d[first]
    o = np.lexsort((i, d, q))
    q, i, d = q[o], i[o], d[o]
    # rank = position within the query's run of rows
    new = np.ones(len(q), dtype=bool)
    new[1:] = q[1:] != q[:-1]
    starts = np.flatnonzero(new)
    rank = np.arange(len(q)) - np.repeat(starts, np.diff(np.r_[starts, len(q)])) + 1
    keep = rank <= k
    return q[keep], rank[keep].astype(np.int32), i[keep], d[keep]


def local_topk(candidates: DataFrame, k: int) -> DataFrame:
    """``topk_per_query(candidates, k, dedup=True)`` with the merge on the
    driver: the candidates come back in one ``toArrow`` job, merge in
    numpy (``merge_topk_arrays``) and return as a local DataFrame, which a
    caller's ``collect`` answers without a job. For a candidate relation
    whose row count is bounded by ``LOCAL_MERGE_MAX_ROWS``."""
    tbl = candidates.select("query_id", "id", "distance").toArrow()
    return result_frame(
        candidates.sparkSession,
        *merge_topk_arrays(
            tbl.column("query_id").to_numpy(),
            tbl.column("id").to_numpy(),
            tbl.column("distance").to_numpy(),
            k,
        ),
    )


def result_frame(spark, q, rank, i, d) -> DataFrame:
    """A local ``RESULT_SCHEMA`` DataFrame of merged (query_id, rank, id,
    distance) arrays, built from Arrow: ``isLocal()``, so its ``collect``
    runs no job."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({"query_id": q, "rank": rank, "id": i, "distance": d}),
        RESULT_SCHEMA,
    )


def exact_rescore(
    vectors: DataFrame,
    shortlist: DataFrame,
    qids: np.ndarray,
    Q: np.ndarray,
    metric: str,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """{query_id, id, distance}: the exact distance of every shortlisted
    (query, id) pair, for a T4 merge to re-rank.

    The shortlist is O(nq * rerank_k) rows — broadcast it against the raw
    vectors so the corpus-side join is shuffle-free. Query ids map to rows
    positionally via searchsorted (O(nq) memory for any id distribution)."""
    joined = vectors.join(F.broadcast(shortlist.select("query_id", id_col)), id_col)
    sort_idx = np.argsort(qids)
    sorted_qids = qids[sort_idx]

    def rescore(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            row_qids = AK.column(rb, "query_id", np.int64)
            qrows = sort_idx[np.searchsorted(sorted_qids, row_qids)]
            yield AK.batch(
                query_id=row_qids,
                id=AK.column(rb, id_col, np.int64),
                distance=D.rowwise(metric, V, Q[qrows]),
            )

    return joined.select("query_id", id_col, vec_col).mapInArrow(
        rescore, schema=CANDIDATE_SCHEMA
    )


def partial_topk_scanner(
    qids: np.ndarray,
    Q: np.ndarray,
    k: int,
    metric: str,
    id_col: str = "id",
    vec_col: str = "vector",
):
    """Build a mapInArrow function: per Arrow batch, zero-copy matrix view +
    dense distance block + batched per-query top-k (np.argpartition ≈
    std::partial_sort, ivf_flat_index.cpp:367-371). No pandas, no per-row
    Python objects, no per-query loop. The block only ranks: each kept
    candidate is reported with its direct-form distance (``D.rowwise``),
    as ``ivf._list_scanner`` does, because a GEMM's rounding depends on
    how many rows shared the block, and so on the partitioning."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ws = D.task_workspace()  # process-pooled score blocks (PERF.md r9)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = AK.column(rb, id_col, np.int64)
            V = AK.list_matrix(rb, vec_col)
            dmat = D.pairwise(metric, V, Q, ws=ws)  # (n, nq)
            qcol, row = AK.topk_rows(dmat, k)
            yield AK.batch(
                query_id=qids[qcol], id=ids[row],
                distance=D.rowwise(metric, V[row], Q[qcol]),
            )

    return scan


def range_scanner(
    qids: np.ndarray,
    Q: np.ndarray,
    radius: float,
    metric: str,
    id_col: str = "id",
    vec_col: str = "vector",
):
    """Build a mapInArrow function emitting EVERY (query, id, distance) pair
    with distance <= radius — the radius-query analog of
    ``partial_topk_scanner``. Unlike top-k there is no per-batch candidate
    bound: the emitted row count is data-dependent, which is exactly the
    semantics of a range query."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ws = D.task_workspace()  # process-pooled score blocks (PERF.md r9)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = AK.column(rb, id_col, np.int64)
            V = AK.list_matrix(rb, vec_col)
            dmat = D.pairwise(metric, V, Q, ws=ws)  # (n, nq)
            rows, cols = np.nonzero(dmat <= radius)
            if rows.size:
                yield AK.batch(
                    query_id=qids[cols], id=ids[rows], distance=dmat[rows, cols]
                )

    return scan


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = D.L2,
    max_results: int | None = None,
    id_col: str = "id",
    vec_col: str = "vector",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact range (radius) search: all corpus vectors within ``radius`` of
    each query, in the index's distance units (squared L2 for ``l2``).

    A verb the reference's proto lacks (SearchRequest is top-k only,
    proto/vdb.proto:16-23) but standard for vector stores. Returns
    {query_id, id, distance} unranked — the result size is data-dependent.
    With ``max_results`` the per-query output is capped at the nearest
    ``max_results`` hits (ascending distance, id tiebreak) and a ``rank``
    column is added; at scale an uncapped radius over a dense corpus is an
    unbounded result, so serving paths should always set a cap.
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    metric = D.parse_metric(metric)
    qids, Q = collect_query_matrix(queries, query_id_col, qvec_col)
    if len(qids) == 0:
        raise ValueError("empty query batch")  # server/query_service.cpp:71-75
    scan = range_scanner(qids, Q, float(radius), metric, id_col, vec_col)
    cand = vectors.select(id_col, vec_col).mapInArrow(scan, schema=CANDIDATE_SCHEMA)
    if max_results is not None:
        validate_topk(max_results)
        return topk_per_query(cand, max_results, dedup=False)
    return cand


def _exact_knn_numpy(vectors, queries, k, metric, id_col, vec_col, query_id_col, qvec_col):
    qids, Q = collect_query_matrix(queries, query_id_col, qvec_col)
    if len(qids) == 0:
        raise ValueError("empty query batch")  # server/query_service.cpp:71-75
    scan = partial_topk_scanner(qids, Q, k, metric, id_col, vec_col)
    cand = vectors.select(id_col, vec_col).mapInArrow(scan, schema=CANDIDATE_SCHEMA)
    return topk_per_query(cand, k, dedup=False)


def grouped_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    group_col: str,
    metric: str = D.L2,
    id_col: str = "id",
    vec_col: str = "vector",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Faceted exact top-k: the k nearest corpus vectors to each query
    WITHIN EACH VALUE of ``group_col`` (category / label / source facet) —
    the 'top results per facet' verb of retrieval UIs and the building
    block for per-domain candidate generation. No reference analog (its
    proto has no group field); standard vector-store surface.

    Scale shape: same partial/final top-k pattern as ``exact_knn`` — each
    Arrow batch computes ONE dense distance block, then takes a per-group
    top-k from it (one vectorized argpartition per group present in the
    batch), so only O(partitions * nq * groups_in_batch * k) candidate
    rows shuffle into the final per-(query, group) window. Designed for
    LOW-CARDINALITY facets (labels, domains, languages); for a
    high-cardinality group key, pre-partition by the key and run per-group
    searches instead.

    Returns {query_id, group, rank, id, distance} with rank 1..k within
    each (query, group), ties broken by id (T4 discipline). Rows with a
    NULL facet value are excluded up front — NULL is not a facet, and a
    null group would otherwise poison the per-batch np.unique with a
    mixed object dtype.
    """
    validate_topk(k)
    metric = D.parse_metric(metric)
    vectors = vectors.filter(F.col(group_col).isNotNull())
    qids, Q = collect_query_matrix(queries, query_id_col, qvec_col)
    if len(qids) == 0:
        raise ValueError("empty query batch")

    def scan(batches):
        from ..functions import arrowkit as AK

        ws: dict = D.task_workspace()  # process-pooled workspace (r14)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = AK.column(rb, id_col, np.int64)
            groups = AK.column(rb, group_col)
            V = AK.list_matrix(rb, vec_col)
            dmat = D.pairwise(metric, V, Q, ws=ws)  # (n, nq)
            for g in np.unique(groups):
                mask = groups == g
                qcol, flat_ids, flat_d = AK.topk_columns(dmat[mask], ids[mask], k)
                yield AK.batch(
                    query_id=qids[qcol],
                    group=np.repeat(g, len(qcol)),
                    id=flat_ids,
                    distance=flat_d,
                )

    gtype = dict(vectors.select(group_col).dtypes)[group_col]
    cand = vectors.select(id_col, group_col, vec_col).mapInArrow(
        scan, schema=f"query_id long, group {gtype}, id long, distance double"
    )
    w = Window.partitionBy("query_id", "group").orderBy(
        F.col("distance").asc(), F.col("id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "group", F.col("rank").cast("int").alias("rank"),
            "id", "distance",
        )
    )


def mine_hard_negatives(
    vectors: DataFrame,
    anchors: DataFrame,
    k: int,
    metric: str = D.L2,
    id_col: str = "id",
    vec_col: str = "vector",
    label_col: str = "label",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each anchor, the k
    nearest corpus vectors whose ``label_col`` DIFFERS from the anchor's —
    the near-misses that make the best negatives (closer than a random
    negative, guaranteed not a positive by the label constraint).

    ``anchors`` is {query_id, qvec, label} — a bounded batch like every
    query side (mine a 100 TB corpus by streaming anchor shards through
    this). The exclusion happens INSIDE the scan: same-label columns of
    each distance block are masked to +inf before the per-batch top-k, so
    no post-filter can leave a query short of k candidates.
    """
    validate_topk(k)
    metric = D.parse_metric(metric)
    rows = (
        anchors.select(query_id_col, qvec_col, label_col)
        .limit(MAX_QUERY_BATCH + 1)
        .collect()
    )
    if len(rows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"anchor batch exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}; stream "
            "anchor shards through mine_hard_negatives instead"
        )
    if not rows:
        raise ValueError("empty anchor batch")
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    Q = np.array([r[1] for r in rows], dtype=np.float64)
    qlabels = np.array([r[2] for r in rows])

    def scan(batches):
        from ..functions import arrowkit as AK

        ws: dict = D.task_workspace()  # process-pooled workspace (r14)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = AK.column(rb, id_col, np.int64)
            labels = AK.column(rb, label_col)
            V = AK.list_matrix(rb, vec_col)
            dmat = D.pairwise(metric, V, Q, ws=ws)  # (n, nq)
            dmat[labels[:, None] == qlabels[None, :]] = np.inf
            qcol, flat_ids, flat_d = AK.topk_columns(dmat, ids, k)
            keep = np.isfinite(flat_d)
            if keep.any():
                yield AK.batch(
                    query_id=qids[qcol[keep]],
                    id=flat_ids[keep],
                    distance=flat_d[keep],
                )

    cand = vectors.select(id_col, label_col, vec_col).mapInArrow(
        scan, schema=CANDIDATE_SCHEMA
    )
    return topk_per_query(cand, k, dedup=False)


def mmr_rerank(
    vectors: DataFrame,
    shortlist: DataFrame,
    k: int,
    lam: float = 0.7,
    metric: str = D.L2,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Maximal-marginal-relevance diversity re-ranking of a search
    shortlist: greedily pick the candidate minimizing

        score(c) = lam * d(q, c) - (1 - lam) * min_{s in selected} d(c, s)

    (distance form of Carbonell & Goldstein 1998: the first term is
    relevance, the second REWARDS being far from everything already
    picked; the first pick — empty selection — is the plain nearest).
    Ties break by id. lam=1 degenerates to the input ranking; lower lam
    trades relevance for diversity — the dedup-at-serving-time verb for
    RAG contexts full of near-identical passages.

    ``shortlist`` is {query_id, id, distance} (a top-R search result —
    distances are already query-relative, so the query vector itself is
    not needed); candidate vectors are joined back by id for the
    candidate-candidate distances. Per-query groups are R rows (R = the
    upstream rerank_k, bounded), so the greedy loop is tiny and the
    shuffle is O(nq * R) — the same cost class as exact_rescore.
    """
    validate_topk(k)
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    metric = D.parse_metric(metric)
    joined = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vector")
    ).join(F.broadcast(shortlist.select("query_id", "id", "distance")), "id")

    def greedy(pdf):
        import pandas as pd

        n = len(pdf)
        order = np.lexsort((pdf["id"].to_numpy(), pdf["distance"].to_numpy()))
        pdf = pdf.iloc[order].reset_index(drop=True)
        first = pdf["vector"].iloc[0] if n else None
        if isinstance(first, (bytes, bytearray)):
            # packed_f32 epoch layout (sources/epochs.py)
            V = np.stack(
                [np.frombuffer(v, dtype=np.float32) for v in pdf["vector"]]
            ).astype(np.float64)
        else:
            V = np.array(
                [np.asarray(v) for v in pdf["vector"]], dtype=np.float64
            )
        rel = pdf["distance"].to_numpy(np.float64)
        ids = pdf["id"].to_numpy(np.int64)
        pair = D.pairwise(metric, V, V)  # (n, n) candidate-candidate
        kk = min(k, n)
        selected: list[int] = []
        remaining = np.ones(n, dtype=bool)
        for _ in range(kk):
            if selected:
                div = pair[:, selected].min(axis=1)
            else:
                div = np.zeros(n)
            score = lam * rel - (1.0 - lam) * div
            cand = np.nonzero(remaining)[0]
            # argmin with id tiebreak (cand is already in id-stable order
            # only within equal distance; re-sort explicitly)
            best = cand[np.lexsort((ids[cand], score[cand]))[0]]
            selected.append(int(best))
            remaining[best] = False
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[selected].to_numpy(np.int64),
                "rank": np.arange(1, kk + 1, dtype=np.int32),
                "id": ids[selected],
                "distance": rel[selected],
            }
        )

    return joined.groupBy("query_id").applyInPandas(greedy, schema=RESULT_SCHEMA)


def matryoshka_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    prefix_dim: int,
    shortlist_k: int | None = None,
    metric: str = D.L2,
    id_col: str = "id",
    vec_col: str = "vector",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Matryoshka (MRL) two-stage cascade -> {query_id, rank, id, distance}.

    Stage 1 scans only the LEADING ``prefix_dim`` dimensions (MRL-trained
    embeddings front-load information, so the prefix is itself a valid
    low-dim embedding) and keeps a ``shortlist_k`` shortlist per query;
    stage 2 re-scores just the shortlist with the full-dimension metric
    and takes the final top-k. Both stages are deterministic (rank on raw
    distance, ties by id), so the whole cascade is exactly reproducible —
    unlike IVF pruning, nothing here depends on a trained quantizer.

    The 100 TB posture is the point: stage 1's scan cost (bandwidth and
    FLOPs) drops by d/prefix_dim — with parquet storing the prefix as a
    separate column it is a column-pruned scan — while stage 2 touches
    only |queries| x shortlist_k rows via an id equi-join against the
    full-width table. The same cascade shape as PQ/SQ8 rerank
    (``ivf.py``/``sq.py``), but lossless at stage 2 by construction.

    No reference analog (its index stores single-width vectors only);
    the standard pairing for MRL-style embedding columns.
    """
    validate_topk(k)
    if prefix_dim < 1:
        raise ValueError(f"prefix_dim must be >= 1, got {prefix_dim}")
    shortlist_k = int(shortlist_k or min(4 * k, MAX_TOPK))
    if not k <= shortlist_k <= MAX_TOPK:
        raise ValueError(
            f"shortlist_k must be in [k, {MAX_TOPK}], got {shortlist_k}"
        )
    metric = D.parse_metric(metric)
    trunc_v = vectors.select(
        F.col(id_col).alias("id"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("vector"),
    )
    trunc_q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.slice(F.col(qvec_col), 1, prefix_dim).alias("qvec"),
    )
    short = exact_knn(trunc_v, trunc_q, shortlist_k, metric=metric)
    rescored = (
        short.select("query_id", "id")
        .join(
            vectors.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vector")
            ),
            "id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(qvec_col).alias("qvec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "id",
            D.distance_expr(metric, "vector", "qvec").alias("distance"),
        )
    )
    # dedup=False: the shortlist join contributes each id once per query
    return topk_per_query(rescored, k, dedup=False)
