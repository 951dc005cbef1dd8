"""Ground truth computed without the engine, and the output checks.

Every check returns a list of failure messages; an empty list means the
output is correct.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np


# -- vector search -------------------------------------------------------------

def sq_l2(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Squared L2 distances (nq, n) in float64."""
    q = q.astype(np.float64)
    x = x.astype(np.float64)
    d = (q * q).sum(1)[:, None] - 2.0 * q @ x.T + (x * x).sum(1)[None, :]
    return np.maximum(d, 0.0)


def exact_topk(q: np.ndarray, x: np.ndarray, ids: np.ndarray, k: int,
               block: int = 256) -> np.ndarray:
    """Exact top-k ids per query by (distance, id), ``block`` queries at a
    time to bound the distance matrix."""
    out = np.empty((len(q), k), dtype=np.int64)
    for s in range(0, len(q), block):
        d = sq_l2(q[s:s + block], x)
        part = np.argpartition(d, k - 1, axis=1)[:, :k]
        for i in range(len(d)):
            c = part[i]
            order = np.lexsort((ids[c], d[i, c]))
            out[s + i] = ids[c[order]]
    return out


def group_results(rows) -> dict[int, list[tuple[int, int, float]]]:
    """{query_id: [(rank, id, distance), ...] in rank order}."""
    by_q: dict[int, list] = defaultdict(list)
    for r in rows:
        by_q[int(r["query_id"])].append((int(r["rank"]), int(r["id"]), float(r["distance"])))
    for v in by_q.values():
        v.sort()
    return by_q


def check_knn(by_q: dict, qids: np.ndarray, q: np.ndarray, k: int,
              live: dict[int, np.ndarray], deleted: set[int] = frozenset(),
              rtol: float = 1e-5) -> list[str]:
    """Exactly k rows per query ranked 1..k, unique ids, non-decreasing
    distances, every id live and never deleted, and each reported distance
    equal to the true squared L2 distance."""
    errs = []
    if set(by_q) != {int(i) for i in qids}:
        errs.append(f"result query ids differ from the request ({len(by_q)} vs {len(qids)})")
    for qi, qv in zip(qids, q):
        res = by_q.get(int(qi), [])
        ranks = [r for r, _, _ in res]
        ids = [i for _, i, _ in res]
        dist = [d for _, _, d in res]
        if ranks != list(range(1, k + 1)):
            errs.append(f"query {qi}: ranks {ranks[:12]} are not 1..{k}")
        if len(set(ids)) != len(ids):
            errs.append(f"query {qi}: duplicate ids")
        if any(b < a for a, b in zip(dist, dist[1:])):
            errs.append(f"query {qi}: distances decrease")
        gone = [i for i in ids if i in deleted]
        if gone:
            errs.append(f"query {qi}: deleted ids returned {gone[:5]}")
        missing = [i for i in ids if i not in live]
        if missing:
            errs.append(f"query {qi}: ids not in the live set {missing[:5]}")
            continue
        true = sq_l2(qv[None, :], np.stack([live[i] for i in ids]))[0] if ids else []
        if not np.allclose(dist, true, rtol=rtol, atol=1e-6):
            errs.append(f"query {qi}: reported distances differ from exact ones")
    return errs


def recall(by_q: dict, qids: np.ndarray, truth: np.ndarray) -> float:
    k = truth.shape[1]
    hits = [
        len({i for _, i, _ in by_q.get(int(qi), [])[:k]} & set(t.tolist())) / k
        for qi, t in zip(qids, truth)
    ]
    return float(np.mean(hits))


# -- dedup ---------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def components(pairs) -> dict[int, int]:
    """{member: smallest id in its connected component} by union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def chunk_count(text: str, max_tokens: int, overlap: int) -> int:
    """Number of windows ``chunk_documents`` emits for one document: starts
    at multiples of the stride, minus a tail start whose window lies inside
    its predecessor's."""
    n = len(text.split())
    stride = max_tokens - overlap
    return sum(1 for s in range(0, n, stride) if s == 0 or s + overlap < n)
