"""Distance metrics S1-S5 (SURVEY.md §2.1) as Catalyst expressions and
numpy kernels.

Semantics match the reference exactly:

- ``l2_sq``   — SQUARED Euclidean, no sqrt by design
                (engine/kernels.cuh:36-47, ivf_flat_index.cpp:275-279).
- ``neg_ip``  — NEGATED dot product so smaller == more similar
                (engine/kernels.cuh:50-60, ivf_flat_index.cpp:280-285).
- ``cosine``  — ``1 - dot/(||a||*||b|| + 1e-8)``
                (engine/kernels.cuh:63-80). The reference's CPU path
                silently returns 0 for cosine (a bug,
                ivf_flat_index.cpp:274-285); we implement the GPU-kernel
                semantics, which its own tests treat as intended.
- ``l2_normalize`` — ``v * rsqrt(||v||^2 + 1e-8)``
                (engine/kernels.cuh:357-385).
- ``parse_metric`` — string dispatch, unknown -> L2
                (server/query_service.cpp:100-108).

Two implementations on purpose:

1. **Catalyst expression builders** (this module's ``*_expr`` forms via
   higher-order array functions). Pure JVM, whole-stage-codegen'd, used in
   the SQL-facing query surface where oracle parity matters. All math in
   DOUBLE (floats widened first) so results hash-match an ANSI oracle.
2. **numpy kernels** (``pairwise`` below) for the dense hot path inside
   Arrow pandas UDFs — a float64 BLAS matmul is the moral equivalent of the
   reference's CUDA kernel, and 10-100x faster than per-element SQL
   aggregation at 768-d.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

L2 = "l2"
INNER_PRODUCT = "ip"
COSINE = "cosine"
METRICS = (L2, INNER_PRODUCT, COSINE)

_METRIC_ALIASES = {
    "l2": L2,
    "euclidean": L2,
    "ip": INNER_PRODUCT,
    "inner_product": INNER_PRODUCT,
    "innerproduct": INNER_PRODUCT,
    "dot": INNER_PRODUCT,
    "cosine": COSINE,
    "cos": COSINE,
}

COSINE_EPS = 1e-8  # engine/kernels.cuh:76
NORMALIZE_EPS = 1e-8  # engine/kernels.cuh:370


def parse_metric(name: str | None) -> str:
    """Unknown/empty metric falls back to L2, matching
    server/query_service.cpp:100-108."""
    if not name:
        return L2
    return _METRIC_ALIASES.get(name.strip().lower(), L2)


# ---------------------------------------------------------------------------
# Catalyst expression builders (JVM-side, codegen'd)
# ---------------------------------------------------------------------------


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot_expr(a: Column | str, b: Column | str) -> Column:
    """Sum_i a_i*b_i in DOUBLE."""
    a, b = _as_col(a), _as_col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_sq_expr(a: Column | str) -> Column:
    a = _as_col(a)
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_sq_expr(a: Column | str, b: Column | str) -> Column:
    """Squared L2 — no sqrt (kernels.cuh:46)."""
    a, b = _as_col(a), _as_col(b)
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def neg_ip_expr(a: Column | str, b: Column | str) -> Column:
    return -dot_expr(a, b)


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    a, b = _as_col(a), _as_col(b)
    return F.lit(1.0) - dot_expr(a, b) / (
        F.sqrt(norm_sq_expr(a)) * F.sqrt(norm_sq_expr(b)) + F.lit(COSINE_EPS)
    )


def l2_normalize_expr(a: Column | str) -> Column:
    """v / sqrt(||v||^2 + eps), kept float (kernels.cuh:357-385)."""
    a = _as_col(a)
    inv = F.lit(1.0) / F.sqrt(norm_sq_expr(a) + F.lit(NORMALIZE_EPS))
    return F.transform(a, lambda x: (x.cast("double") * inv).cast("float"))


def distance_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    metric = parse_metric(metric)
    if metric == L2:
        return l2_sq_expr(a, b)
    if metric == INNER_PRODUCT:
        return neg_ip_expr(a, b)
    return cosine_expr(a, b)


def register_sql_functions(spark) -> None:
    """Expose the metrics to plain SQL as ``l2_sq(a,b)`` etc. so the §2.7
    declared-query surface can call them by name. Delegates to
    :mod:`..sql` — SQL-body temporary functions (whole-stage codegen,
    zero Python), not Python UDFs; registers the full surface (distance
    family + text gates + URL canonicalization)."""
    from ..sql import register_sql

    register_sql(spark)


# ---------------------------------------------------------------------------
# numpy kernels (Arrow pandas-UDF hot path)
# ---------------------------------------------------------------------------


# Persist the pairwise workspace across TASKS within one Python worker
# process (not just across batches within one task). Spark reuses worker
# processes (spark.python.worker.reuse=true default) and each process runs
# one task at a time, so a process-global pool is race-free; the PID guard
# resets it in a freshly-forked worker so no buffer is ever shared COW with
# a parent. A driver that runs a scan kernel itself (the IVF list tier)
# may do so from several request threads at once: any thread but the main
# one gets a pool of its own. Buffer contents are fully overwritten by
# every pairwise() call (bit-identical results, same contract as the
# per-task ws). Motivation: on slow-first-touch hosts (OPTIMIZATION_r14.md)
# a per-task ws re-faults its score blocks on every task of every search
# job; the pool pays that once per worker process. Retained memory equals
# the previous PEAK concurrent usage (every worker already held these
# blocks live during a scan), so executor memory sizing is unchanged.
import os as _os
import threading as _threading

_TASK_WS: dict = {}
_TASK_WS_PID: "int | None" = None
_THREAD_WS = _threading.local()


def task_workspace() -> dict:
    global _TASK_WS, _TASK_WS_PID
    if _threading.current_thread() is not _threading.main_thread():
        if not hasattr(_THREAD_WS, "ws"):
            _THREAD_WS.ws = {}
        return _THREAD_WS.ws
    pid = _os.getpid()
    if _TASK_WS_PID != pid:
        _TASK_WS = {}
        _TASK_WS_PID = pid
    return _TASK_WS


def _ws_block(ws: dict, slot: str, n: int, m: int) -> np.ndarray:
    """A C-contiguous (n, m) float64 view carved from a flat per-slot
    buffer in ``ws``, grown geometrically on demand. The view's contents
    are whatever the previous call left — callers fully overwrite it."""
    need = n * m
    buf = ws.get(slot)
    if buf is None or buf.size < need:
        buf = ws[slot] = np.empty(max(need, 2 * len(buf) if buf is not None else need), dtype=np.float64)
    return buf[:need].reshape(n, m)


def pairwise(
    metric: str, V: np.ndarray, Q: np.ndarray, ws: dict | None = None
) -> np.ndarray:
    """Distance matrix of shape (len(V), len(Q)) in float64.

    For small query counts the L2 path uses the direct ``(v-q)^2`` form —
    bit-for-bit the reference CPU semantics (ivf_flat_index.cpp:275-279) and
    stable against SQL-oracle rounding; for large batches it switches to the
    BLAS expansion ``||v^2||+||q||^2-2vq`` which is O(nd·q) in one matmul.

    ``ws`` — optional per-task workspace dict for the hot scanners: the
    (n, nq) blocks are carved from buffers reused across calls instead of
    freshly allocated (fresh-page traffic is the measured scan wall on
    slow-fault hosts, PERF.md r9). Element values are BIT-IDENTICAL to the
    ws=None path (same operations in the same order, only the output
    placement differs). CONTRACT: the returned array is a view into ``ws``
    and is only valid until the next ``pairwise(..., ws=ws)`` call —
    callers must consume (or copy) it before the next call, and must not
    pass one ws to concurrently-running calls."""
    metric = parse_metric(metric)
    V = np.asarray(V, dtype=np.float64)
    Q = np.asarray(Q, dtype=np.float64)
    if Q.ndim == 1:
        Q = Q[None, :]
    n, nq = V.shape[0], Q.shape[0]
    if metric == L2:
        if nq <= 8:
            out = (
                _ws_block(ws, "s", n, nq)
                if ws is not None
                else np.empty((n, nq), dtype=np.float64)
            )
            for j in range(nq):
                d = V - Q[j]
                out[:, j] = np.einsum("ij,ij->i", d, d)
            return out
        v_sq = (V * V).sum(axis=1)
        q_sq = (Q * Q).sum(axis=1)
        if ws is None:
            d2 = v_sq[:, None] + q_sq[None, :] - 2.0 * (V @ Q.T)
            return np.maximum(d2, 0.0)
        G = np.dot(V, Q.T, out=_ws_block(ws, "g", n, nq))
        G *= 2.0
        S = np.add(v_sq[:, None], q_sq[None, :], out=_ws_block(ws, "s", n, nq))
        S -= G
        return np.maximum(S, 0.0, out=S)
    if metric == INNER_PRODUCT:
        if ws is None:
            return -(V @ Q.T)
        G = np.dot(V, Q.T, out=_ws_block(ws, "s", n, nq))
        return np.negative(G, out=G)
    nv = np.sqrt((V * V).sum(axis=1))[:, None]
    nqn = np.sqrt((Q * Q).sum(axis=1))[None, :]
    return 1.0 - (V @ Q.T) / (nv * nqn + COSINE_EPS)


def rowwise(metric: str, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Aligned row-wise distances: out[i] = d(A[i], B[i]) in float64 —
    the verification kernel for candidate-pair lists."""
    metric = parse_metric(metric)
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if metric == L2:
        d = A - B
        return np.einsum("ij,ij->i", d, d)
    if metric == INNER_PRODUCT:
        return -np.einsum("ij,ij->i", A, B)
    dot = np.einsum("ij,ij->i", A, B)
    na = np.sqrt(np.einsum("ij,ij->i", A, A))
    nb = np.sqrt(np.einsum("ij,ij->i", B, B))
    return 1.0 - dot / (na * nb + COSINE_EPS)


def normalize_rows(V: np.ndarray) -> np.ndarray:
    V = np.asarray(V, dtype=np.float64)
    return V / np.sqrt((V * V).sum(axis=1) + NORMALIZE_EPS)[:, None]
