from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D


@pytest.fixture(scope="module")
def pair_df(spark):
    rng = np.random.default_rng(42)
    rows = [
        (
            i,
            [float(x) for x in rng.normal(size=16).astype(np.float32)],
            [float(x) for x in rng.normal(size=16).astype(np.float32)],
        )
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "i long, a array<float>, b array<float>")


def _np_pairs(pair_df):
    pdf = pair_df.toPandas()
    A = np.array(list(pdf["a"]), dtype=np.float64)
    B = np.array(list(pdf["b"]), dtype=np.float64)
    return A, B


def test_l2_sq_expr_matches_numpy(spark, pair_df):
    A, B = _np_pairs(pair_df)
    got = [r[0] for r in pair_df.orderBy("i").select(D.l2_sq_expr("a", "b")).collect()]
    want = ((A - B) ** 2).sum(axis=1)
    assert np.allclose(got, want, atol=1e-9)
    # squared by design — no sqrt (kernels.cuh:46)
    assert all(g >= 0 for g in got)


def test_neg_ip_expr(spark, pair_df):
    A, B = _np_pairs(pair_df)
    got = [r[0] for r in pair_df.orderBy("i").select(D.neg_ip_expr("a", "b")).collect()]
    assert np.allclose(got, -(A * B).sum(axis=1), atol=1e-9)


def test_cosine_expr(spark, pair_df):
    A, B = _np_pairs(pair_df)
    got = [r[0] for r in pair_df.orderBy("i").select(D.cosine_expr("a", "b")).collect()]
    want = 1.0 - (A * B).sum(1) / (
        np.sqrt((A * A).sum(1)) * np.sqrt((B * B).sum(1)) + 1e-8
    )
    assert np.allclose(got, want, atol=1e-9)


def test_pairwise_matches_exprs(spark, pair_df):
    A, B = _np_pairs(pair_df)
    for metric in D.METRICS:
        M = D.pairwise(metric, A, B)
        assert M.shape == (len(A), len(B))
        diag = np.diag(M)
        exprs = {
            D.L2: ((A - B) ** 2).sum(1),
            D.INNER_PRODUCT: -(A * B).sum(1),
            D.COSINE: 1.0
            - (A * B).sum(1)
            / (np.sqrt((A * A).sum(1)) * np.sqrt((B * B).sum(1)) + 1e-8),
        }
        assert np.allclose(diag, exprs[metric], atol=1e-9), metric


def test_pairwise_l2_large_batch_expansion():
    rng = np.random.default_rng(7)
    V = rng.normal(size=(50, 8))
    Q = rng.normal(size=(20, 8))  # > 8 queries -> BLAS expansion path
    M = D.pairwise(D.L2, V, Q)
    direct = ((V[:, None, :] - Q[None, :, :]) ** 2).sum(-1)
    assert np.allclose(M, direct, atol=1e-8)
    assert (M >= 0).all()


def test_normalize(spark, pair_df):
    got = pair_df.orderBy("i").select(D.l2_normalize_expr("a").alias("n")).collect()
    for r in got:
        norm = math.sqrt(sum(x * x for x in r["n"]))
        assert abs(norm - 1.0) < 1e-3  # float32 storage, eps=1e-8


def test_parse_metric_defaults_to_l2():
    # unknown metric -> L2, matching server/query_service.cpp:100-108
    assert D.parse_metric("L2") == D.L2
    assert D.parse_metric("INNER_PRODUCT") == D.INNER_PRODUCT
    assert D.parse_metric("Cosine") == D.COSINE
    assert D.parse_metric("garbage") == D.L2
    assert D.parse_metric(None) == D.L2


def test_pairwise_workspace_bit_identical():
    """pairwise(ws=...) must return BIT-identical values to the fresh
    path for every metric and both L2 branches (direct small-nq and
    BLAS expansion), across repeated calls that reuse/grow the buffers."""
    import numpy as np

    rng = np.random.default_rng(5)
    ws = {}
    for n, nq in [(100, 3), (100, 50), (257, 9), (40, 8), (500, 120)]:
        V = rng.standard_normal((n, 16))
        Q = rng.standard_normal((nq, 16))
        for metric in ("l2", "ip"):
            fresh = D.pairwise(metric, V, Q)
            got = D.pairwise(metric, V, Q, ws=ws)
            assert got.shape == fresh.shape
            assert np.array_equal(fresh, got), (metric, n, nq)
    # the returned view is invalidated by the next call — fresh copy isn't
    a = D.pairwise("l2", rng.standard_normal((10, 4)), rng.standard_normal((20, 4)))
    b = a.copy()
    D.pairwise("l2", rng.standard_normal((30, 4)), rng.standard_normal((40, 4)), ws=ws)
    assert np.array_equal(a, b)


def test_task_workspace_pid_guard_and_reuse():
    """The process-pooled workspace returns the SAME dict within a process
    and resets after a fork (PID guard), and pairwise(ws=pool) stays
    bit-identical to ws=None."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.functions import (
        distance as D,
    )

    ws1 = D.task_workspace()
    ws2 = D.task_workspace()
    assert ws1 is ws2
    V = np.arange(12, dtype=np.float64).reshape(4, 3)
    Q = np.arange(6, dtype=np.float64).reshape(2, 3)[::-1].copy()
    got = D.pairwise(D.L2, V, Q, ws=D.task_workspace())
    want = D.pairwise(D.L2, V, Q, ws=None)
    assert (np.asarray(got) == want).all()
    # simulated fork: a different PID must get a fresh pool
    D._TASK_WS_PID = -1
    ws3 = D.task_workspace()
    assert ws3 is not ws1 and D._TASK_WS_PID != -1
