"""Clustering / index-build operators B1-B3 (SURVEY.md §2.3).

Reference semantics matched:
- B1 k-means++ init: seeded (seed 42), first centroid uniform, rest sampled
  proportional to squared distance to the nearest chosen centroid
  (engine/ivf_flat_index.cpp:53-104). Training runs on a bounded sample,
  like the reference trains on <=100K vectors (bench/benchmark.cpp:69).
- B2 Lloyd iterations: fixed iteration count (reference: exactly 10); an
  empty cluster KEEPS its previous centroid (ivf_flat_index.cpp:134-141).
- B3 assignment: argmin over centroids; ties go to the smaller list_id
  (np.argmin first-hit). L2 and negated-IP supported like the reference CPU
  path (ivf_flat_index.cpp:259-295); cosine is supported CORRECTLY rather
  than reproducing the reference's missing-CPU-branch bug (SURVEY §2.1-S3).

Scale shape: centroids are O(nlist*d) — always driver-side numpy, broadcast
to executors. Each Lloyd iteration is ONE distributed pass that computes
per-partition partial sums (list_id, count, component-sums) — the map-side
combine form of groupBy(assignment).avg(vector) — so the shuffle/collect per
iteration is O(partitions * nlist * d) regardless of corpus size. No row
ever leaves its partition.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import distance as D

TRAIN_SAMPLE_LIMIT = 100_000  # bench/benchmark.cpp:69
DEFAULT_SEED = 42  # ivf_flat_index.cpp:55
DEFAULT_MAX_ITER = 10  # ivf_flat_index.cpp:107

# Above this many score bytes, the (rows, nlist) argmin block is computed
# in cache-sized tiles with a REUSED workspace instead of one fresh
# full-width allocation per Arrow batch. The r9 100M/nlist=16384 probe
# found the full-width form allocates 1.3 GB PER BATCH (13 TB of
# first-touch over the corpus), and score-block traffic is the wall at
# EVERY nlist: the 32-way interleaved kernel A/B (PERF.md r9) measured
# 2 MiB tiles at 7-11x the full block even at nlist=128/1024/4096 and
# ~76-400x at nlist=16384, identical argmins. The budget is sized to the
# per-core cache share (32 workers), not to DRAM: this box writes fresh
# pages at only ~0.1-1.6 GB/s, so every score byte that leaves cache is
# the dominant cost. nlist <= 512 never splits centroids across tiles
# (tie discipline bit-identical to the full block); larger nlist tiles
# centroid blocks too (ulp caveat in _argmin_scores docstring).
SCORE_TILE_BUDGET = 2 << 20  # 2 MiB of float64 scores per worker
_TILE_K = 512  # centroid-tile width; rows per tile = budget/(8*_TILE_K)
DRIVER_SCORE_BUDGET = 2 << 30  # max driver-Lloyd (n, nlist) score bytes
# max bytes of Lloyd partials collected per iteration before the
# distributed loop inserts a list_id-shuffled tree-combine stage
LLOYD_COLLECT_BUDGET = 256 << 20


def _tile_shape(n: int, k: int) -> tuple[int, int]:
    kk = min(k, _TILE_K)
    rr = max(1, min(n, SCORE_TILE_BUDGET // (8 * kk)))
    return rr, kk


def _argmin_scores(
    V: np.ndarray,
    C: np.ndarray,
    c_sq: np.ndarray | None,
    metric: str,
    ws: dict,
) -> np.ndarray:
    """B3 argmin over centroids. Full-block when (n, nlist) fits
    SCORE_TILE_BUDGET (bit-identical to the historical path); otherwise
    tiled over (row-chunk, centroid-block) with a workspace reused across
    calls. Tie discipline: within a tile np.argmin takes the first hit,
    across tiles the update is strict-less, so among bit-identical scores
    the smallest list_id wins — same as one global np.argmin (reference
    strict-less scan, ivf_flat_index.cpp:267-273). Caveat: scores for
    centroids in DIFFERENT tiles come from different GEMM calls whose
    last-ulp rounding may differ, so centroids that are exact duplicates
    of each other can tie-break differently than the full-block path;
    real trained centroids are separated far above ulp (the oracle gap
    test pins >= 1e-7), so this affects no supported workload."""
    n, k = V.shape[0], C.shape[0]
    if n * k * 8 <= SCORE_TILE_BUDGET:
        if metric == D.L2:
            score = V @ C.T
            score *= -2.0
            score += c_sq
            return np.argmin(score, axis=1)
        return np.argmin(D.pairwise(metric, V, C), axis=1)
    rr, kk = _tile_shape(n, k)
    tile = ws.get("tile")
    if tile is None or tile.shape[0] < rr or tile.shape[1] < kk:
        tile = ws["tile"] = np.empty((rr, kk), dtype=np.float64)
    best = np.full(n, np.inf)
    best_i = np.zeros(n, dtype=np.int64)
    for r0 in range(0, n, rr):
        r1 = min(r0 + rr, n)
        Vc = V[r0:r1]
        rows = np.arange(r1 - r0)
        for k0 in range(0, k, kk):
            k1 = min(k0 + kk, k)
            if metric == D.L2:
                if k1 - k0 == kk:
                    t = tile[: r1 - r0]  # row-prefix slice: C-contiguous
                    np.dot(Vc, C[k0:k1].T, out=t)
                else:  # ragged last tile: small fresh block
                    t = Vc @ C[k0:k1].T
                t *= -2.0
                t += c_sq[k0:k1]
            else:
                t = D.pairwise(metric, Vc, C[k0:k1])
            li = t.argmin(axis=1)
            lv = t[rows, li]
            upd = lv < best[r0:r1]
            best[r0:r1][upd] = lv[upd]
            best_i[r0:r1][upd] = li[upd] + k0
    return best_i


def _topp_scores(
    V: np.ndarray,
    C: np.ndarray,
    c_sq: np.ndarray | None,
    nprobe: int,
    metric: str,
    ws: dict,
) -> np.ndarray:
    """Top-``nprobe`` nearest centroids per row (ascending score, ties to
    the smaller list_id). Tiled like ``_argmin_scores``: each tile keeps
    its own stable top-nprobe candidates (any global winner is a winner
    within its tile), then one lexsort((global_id, score)) over the
    ntiles*nprobe candidates reproduces the full-width stable argsort."""
    n, k = V.shape[0], C.shape[0]
    # clamp here rather than relying on callers: a nprobe > nlist request
    # means "all lists", and the tiled path's +inf/k sentinels for short
    # final tiles must never be wide enough to survive into the output
    nprobe = min(nprobe, k)
    rr, kk = _tile_shape(n, k)
    if n * k * 8 <= SCORE_TILE_BUDGET or nprobe > kk:
        if metric == D.L2:
            score = V @ C.T
            score *= -2.0
            score += c_sq
        else:
            score = D.pairwise(metric, V, C)
        return np.argsort(score, axis=1, kind="stable")[:, :nprobe]
    tile = ws.get("tile")
    if tile is None or tile.shape[0] < rr or tile.shape[1] < kk:
        tile = ws["tile"] = np.empty((rr, kk), dtype=np.float64)
    out = np.empty((n, nprobe), dtype=np.int64)
    ntiles = (k + kk - 1) // kk
    for r0 in range(0, n, rr):
        r1 = min(r0 + rr, n)
        Vc = V[r0:r1]
        rows = np.arange(r1 - r0)[:, None]
        cand_i = np.empty((r1 - r0, ntiles * nprobe), dtype=np.int64)
        cand_s = np.empty((r1 - r0, ntiles * nprobe), dtype=np.float64)
        for ti, k0 in enumerate(range(0, k, kk)):
            k1 = min(k0 + kk, k)
            if metric == D.L2:
                if k1 - k0 == kk:
                    t = tile[: r1 - r0]  # row-prefix slice: C-contiguous
                    np.dot(Vc, C[k0:k1].T, out=t)
                else:  # ragged last tile: small fresh block
                    t = Vc @ C[k0:k1].T
                t *= -2.0
                t += c_sq[k0:k1]
            else:
                t = D.pairwise(metric, Vc, C[k0:k1])
            p = min(nprobe, k1 - k0)
            ti_idx = np.argsort(t, axis=1, kind="stable")[:, :p]
            c0, c1 = ti * nprobe, ti * nprobe + p
            cand_i[:, c0:c1] = ti_idx + k0
            cand_s[:, c0:c1] = t[rows, ti_idx]
            if p < nprobe:  # short final tile: pad with +inf sentinels
                cand_i[:, c1 : ti * nprobe + nprobe] = k
                cand_s[:, c1 : ti * nprobe + nprobe] = np.inf
        for i in range(r1 - r0):
            order = np.lexsort((cand_i[i], cand_s[i]))[:nprobe]
            out[r0 + i] = cand_i[i, order]
    return out


@dataclass
class KMeansModel:
    centroids: np.ndarray  # (nlist, d) float64
    metric: str = D.L2

    @property
    def nlist(self) -> int:
        return int(self.centroids.shape[0])

    @property
    def dimension(self) -> int:
        return int(self.centroids.shape[1])

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)
        ]
        return spark.createDataFrame(rows, "list_id int, centroid array<double>")


def assign_kernel(centroids: np.ndarray, metric: str = D.L2):
    """B3 as a vectorized (Arrow-batched) pandas UDF: vector -> nearest
    list_id. Kept for withColumn composition on arbitrary expressions;
    the bulk path is ``assign`` below (mapInArrow, no per-row
    conversion). Named *kernel*, not *udf*: this is a pandas_udf
    factory — the package has zero row-at-a-time Python UDFs, and
    tests/test_no_row_udfs.py greps to keep it that way."""
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    metric = D.parse_metric(metric)
    c_sq = np.einsum("ij,ij->i", C, C) if metric == D.L2 else None

    @F.pandas_udf(T.IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        # same tiled/bounded-allocation kernel (and the same scoring
        # form + tie discipline) as the bulk mapInArrow path
        V = np.asarray(list(vecs), dtype=np.float64)
        a = _argmin_scores(V, C, c_sq, metric, {})
        return pd.Series(a.astype(np.int32))

    return _assign


def assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "vector",
    out_col: str = "list_id",
    metric: str = D.L2,
) -> DataFrame:
    """B3 bulk assignment: append ``out_col`` via mapInArrow — the vector
    column is viewed as one flat buffer (zero-copy), every other column
    passes through untouched. np.argmin ties go to the smaller list_id,
    matching the reference's strict-less scan (ivf_flat_index.cpp:267-273)
    and the SQL oracle's ORDER BY (d2, list_id)."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    metric = D.parse_metric(metric)
    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.IntegerType(), False)])

    # L2 argmin needs only the RANK, not the distance: ||v-c||^2 =
    # ||v||^2 + (||c||^2 - 2 v.c), and ||v||^2 is constant per row — rank
    # by ||c||^2 - 2 V@C.T (the same trick as _driver_lloyd's score
    # buffer). One GEMM + a broadcast add instead of three (n, nlist)
    # temporaries; at nlist=4096 the assignment matmul dominates the whole
    # add path, so the temp traffic matters. Ties still break to the
    # smaller list_id (np.argmin, same as the strict-less reference scan).
    c_sq = np.einsum("ij,ij->i", C, C) if metric == D.L2 else None

    def run(batches):
        ws: dict = D.task_workspace()  # process-pooled tile workspace (r14)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            a = _argmin_scores(V, C, c_sq, metric, ws).astype(np.int32)
            yield rb.append_column(out_col, pa.array(a, pa.int32()))

    return df.mapInArrow(run, schema=out_schema)


def assign_topp(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    vec_col: str = "vector",
    out_col: str = "list_ids",
    metric: str = D.L2,
) -> DataFrame:
    """Multi-probe assignment: append ``out_col`` = the ``nprobe`` nearest
    list ids (ascending distance, ties to the smaller list_id — the same
    ordering as ``ivf.select_nprobe_lists`` / the reference's coarse probe,
    ivf_flat_index.cpp:298-336). ``assign`` is the nprobe=1 special case;
    this is the query-side routing step for multi-probe blocked operators
    (e.g. ``hybrid.maxsim_blocked_topk``). Same mapInArrow / zero-copy /
    rank-only-GEMM shape as ``assign``."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    metric = D.parse_metric(metric)
    nprobe = max(1, min(int(nprobe), C.shape[0]))
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.ArrayType(T.IntegerType(), False), False)]
    )
    c_sq = np.einsum("ij,ij->i", C, C) if metric == D.L2 else None

    def run(batches):
        ws: dict = D.task_workspace()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            # stable selection: equal distances keep index order -> smaller
            # list_id first, matching np.lexsort((arange, d)) in the probe.
            order = _topp_scores(V, C, c_sq, nprobe, metric, ws)
            a = order.astype(np.int32)
            yield rb.append_column(
                out_col, pa.array(list(a), pa.list_(pa.int32()))
            )

    return df.mapInArrow(run, schema=out_schema)


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic centroids: per-label position-wise means (FIXTURES.md §2
    — the oracle-computable centroid set; no RNG enters the comparison).
    Computed distributed (posexplode + avg), collected as (nlabels, d)."""
    rows = (
        emb.select(F.col(label_col).alias("lbl"), F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("lbl", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
        .collect()
    )
    nlist = max(r["lbl"] for r in rows) + 1
    d = max(r["pos"] for r in rows) + 1
    C = np.zeros((nlist, d), dtype=np.float64)
    for r in rows:
        C[r["lbl"], r["pos"]] = r["c"]
    return C


def _kmeans_pp_init(X: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """B1: first centroid uniform; each next sampled with probability
    proportional to squared distance to the nearest chosen centroid
    (ivf_flat_index.cpp:62-104).

    Per-step distances use the BLAS expansion ``||x||^2 - 2x.c + ||c||^2``
    with ``||x||^2`` hoisted: one gemv per step instead of an O(n*d) temp
    for the difference matrix (~5x faster at 100K x 64, same sampling
    distribution)."""
    n = X.shape[0]
    centroids = np.empty((k, X.shape[1]), dtype=np.float64)
    x2 = np.einsum("ij,ij->i", X, X)

    def dist_to(c: np.ndarray) -> np.ndarray:
        d = x2 - 2.0 * (X @ c) + c @ c
        return np.maximum(d, 0.0, out=d)

    centroids[0] = X[rng.integers(n)]
    d2 = dist_to(centroids[0])
    for i in range(1, k):
        total = d2.sum()
        if total <= 0:
            centroids[i] = X[rng.integers(n)]
        else:
            centroids[i] = X[rng.choice(n, p=d2 / total)]
        np.minimum(d2, dist_to(centroids[i]), out=d2)
    return centroids


def _partial_sums_scanner(C: np.ndarray, metric: str, vec_col: str):
    """One Lloyd assign+partial-aggregate pass, per partition: emits at most
    nlist rows of (list_id, cnt, component sums) per Arrow batch —
    map-side combine, so only O(nlist*d) doubles per partition reach the
    driver regardless of corpus size."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    c2 = np.einsum("ij,ij->i", C, C) if metric == D.L2 else None
    k, d = C.shape

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ws: dict = D.task_workspace()
        # accumulate across ALL the task's batches and emit ONE partial:
        # the driver (or the tree combiner) then sees O(partitions) rows
        # per list instead of O(batches) — and the per-batch pa.array /
        # ListArray construction disappears from the hot loop
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d), dtype=np.float64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            # rank by -2x.c + ||c||^2 (||x||^2 constant per row); tiled
            # with a reused workspace past SCORE_TILE_BUDGET (the 100M
            # probe's 1.3 GB-per-batch allocation killer, PERF.md r9)
            a = _argmin_scores(V, C, c2, metric, ws)
            counts += np.bincount(a, minlength=k)
            # segmented sums via one bincount per column — O(B*d), NOT a
            # per-list boolean-mask loop: the r8 50M probe caught the old
            # [V[a == lid].sum() for lid in lids] + tolist() form costing
            # ~100s/iteration at nlist=4096 (O(B*nlist) masking plus
            # nlist*d Python floats per batch); this form is ~ms
            for j in range(d):
                sums[:, j] += np.bincount(a, weights=V[:, j], minlength=k)
        lids = np.flatnonzero(counts)
        if lids.size:
            yield _partials_batch(lids, counts[lids], sums[lids], d)

    return scan


def _partials_batch(lids, cnts, sums_block, d: int):
    """One Arrow batch of (list_id, cnt, sums) partial rows."""
    import pyarrow as pa

    offsets = np.arange(lids.size + 1, dtype=np.int32) * d
    sums_arr = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(sums_block.reshape(-1))
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(lids.astype(np.int32), pa.int32()),
            pa.array(cnts.astype(np.int64), pa.int64()),
            sums_arr,
        ],
        names=["list_id", "cnt", "sums"],
    )


def _partials_combiner(nlist: int, d: int):
    """Tree-combine stage for Lloyd partials: within each partition of a
    list_id-partitioned partials relation, sum (cnt, sums) per list and
    emit at most one row per list. With the partials shuffled on list_id
    first, the driver collects <= nlist rows per iteration REGARDLESS of
    cluster size — the O(partitions * nlist * d) driver collect becomes
    O(nlist * d), at the cost of one small shuffle per iteration."""
    import pyarrow as pa

    def combine(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        counts = np.zeros(nlist, dtype=np.int64)
        sums = np.zeros((nlist, d), dtype=np.float64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            lid = rb.column(0).to_numpy(zero_copy_only=False)
            cnt = rb.column(1).to_numpy(zero_copy_only=False)
            # .flatten() honors any array offset from sliced batches
            flat = rb.column(2).flatten().to_numpy(zero_copy_only=False)
            np.add.at(counts, lid, cnt)
            np.add.at(sums, lid, flat.reshape(len(lid), d))
        lids = np.flatnonzero(counts)
        if lids.size:
            yield _partials_batch(lids, counts[lids], sums[lids], d)

    return combine


def _collect_matrix(df_one_col: DataFrame) -> np.ndarray:
    """Collect a single fixed-dim ``array<float>`` (or packed_f32 binary)
    column to an (n, d) float64 matrix via Arrow (``toArrow`` is an
    explicit API — no session conf needed; ~10x cheaper than Row collect
    for 100K vectors). Falls back to Row collect for ragged or
    non-Arrow-able inputs."""
    try:
        import pyarrow as pa

        from ..functions import arrowkit as AK

        col = df_one_col.toArrow().column(0).combine_chunks()
        rb = pa.RecordBatch.from_arrays([col], names=["v"])
        return AK.list_matrix(rb, "v", np.float64)
    except Exception:
        rows = df_one_col.collect()
        return np.asarray([r[0] for r in rows], dtype=np.float64)


def _driver_lloyd(
    X: np.ndarray, C: np.ndarray, metric: str, max_iter: int
) -> np.ndarray:
    """B2 on a driver-resident matrix: argmin assignment + segmented-mean
    update, empty cluster keeps its old centroid — the same semantics as the
    distributed loop, minus per-iteration job scheduling.

    The L2 path reuses one (n, k) score buffer across iterations and ranks
    by ``||c||^2 - 2x.c`` (||x||^2 is constant per row, so the argmin is
    unchanged) — halves the per-iteration allocation traffic."""
    k = C.shape[0]
    score = np.empty((X.shape[0], k), dtype=np.float64) if metric == D.L2 else None
    for _ in range(max_iter):
        if metric == D.L2:
            np.matmul(X, C.T, out=score)
            score *= -2.0
            score += np.einsum("ij,ij->i", C, C)[None, :]
            a = np.argmin(score, axis=1)
        else:
            a = np.argmin(D.pairwise(metric, X, C), axis=1)
        counts = np.bincount(a, minlength=k)
        sums = np.zeros_like(C)
        for j in range(X.shape[1]):
            sums[:, j] = np.bincount(a, weights=X[:, j], minlength=k)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


# Floor for the limit-trap guard: a non-terminal GlobalLimit(n) ships at
# most nparts * n rows through its single-partition exchange (LocalLimit
# caps each partition first), so tiny limits — a broadcast dimension
# table's .limit(100), a debug head — are plan-bounded and legitimate.
# The trap is SAMPLING-SIZED limits (the 61 GB incident was n=120K).
LIMIT_GUARD_MIN_ROWS = 10_000


def _global_limits(plan_str: str) -> "list[tuple[int, bool]]":
    """Every GlobalLimit(n) in a logical-plan tree string (outermost
    first), paired with whether util.sample_head's map-side cap
    sanctions it. Sanctioning requires a ``MapInArrow`` node naming
    ``_take_per_partition`` (both tokens on the node line, so a user
    function that merely reuses the name elsewhere in some other node
    cannot collide) inside the limit's OWN subtree but NOT under a
    deeper nested GlobalLimit — a sanctioned sample_head wrapped by an
    unrelated bare limit (``sample_head(df, 1_000_000).limit(120_000)``)
    must not whitelist the wrapper, and a sample_head in a sibling
    branch (a union arm, a joined relation) never could. Subtrees are
    scoped on the tree text's node indentation."""
    lines = plan_str.splitlines()
    out: "list[tuple[int, bool]]" = []
    for idx, line in enumerate(lines):
        pos = line.find("GlobalLimit ")
        if pos < 0:
            continue
        try:
            n = int(line[pos + len("GlobalLimit "):].split()[0].rstrip(","))
        except (ValueError, IndexError):
            continue
        # subtree = following lines whose node marker sits strictly
        # deeper than this node's; a line at the same or shallower
        # depth (a sibling branch or the parent's next child) ends it
        sanctioned = False
        skip_below: "int | None" = None
        for sub in lines[idx + 1:]:
            depth = len(sub) - len(sub.lstrip(" :+-"))
            if depth <= pos:
                break
            if skip_below is not None:
                if depth > skip_below:
                    continue  # inside a nested GlobalLimit's subtree
                skip_below = None
            if sub[depth:].startswith("GlobalLimit "):
                skip_below = depth  # its marker sanctions IT, not us
                continue
            if "MapInArrow" in sub and "_take_per_partition" in sub:
                sanctioned = True
                break
        out.append((n, sanctioned))
    return out


def _unsanctioned_global_limit(
    plan_str: str, min_rows: int = LIMIT_GUARD_MIN_ROWS
) -> "int | None":
    """First GlobalLimit(n) with n >= min_rows not sanctioned by a
    sample_head cap in its own subtree (see ``_global_limits``) — i.e.
    a limit that, scanned non-terminally, compiles to a corpus-wide
    single-partition exchange. Returns the offending n, or None."""
    for n, sanctioned in _global_limits(plan_str):
        if n >= min_rows and not sanctioned:
            return n
    return None


def train(
    df: DataFrame,
    nlist: int,
    vec_col: str = "vector",
    metric: str = D.L2,
    max_iter: int = DEFAULT_MAX_ITER,
    seed: int = DEFAULT_SEED,
    init: np.ndarray | None = None,
    train_sample_limit: int = TRAIN_SAMPLE_LIMIT,
    driver_threshold: int = TRAIN_SAMPLE_LIMIT,
    timings: "dict | None" = None,
) -> KMeansModel:
    """B1+B2: seeded k-means++ init on a driver-side sample, then
    ``max_iter`` Lloyd iterations over the FULL corpus.

    Hybrid execution like the reference's own posture (it trains on a
    <=100K sample, bench/benchmark.cpp:69): when the training input itself
    fits under ``driver_threshold`` rows, the 10 Lloyd passes run on the
    collected matrix — one scan instead of ``max_iter`` scheduled jobs.
    Larger inputs use the distributed partial-sums loop; assignment of the
    full corpus (the part that must scale) is always distributed (B3).

    Pre-sampling a big corpus: pass ``util.sample_head(corpus, n)``, NOT
    ``corpus.limit(n)`` — a non-terminal limit above the distributed-loop
    threshold ships every corpus row through a single-partition exchange
    (61 GB measured on a 10M x 768-d input; PERF.md r10)."""
    import time as _t

    metric = D.parse_metric(metric)
    probe_n = max(train_sample_limit, driver_threshold)
    t0 = _t.perf_counter()
    Xprobe = _collect_matrix(df.select(vec_col).limit(probe_n + 1))
    if timings is not None:
        timings["sample_collect_sec"] = round(_t.perf_counter() - t0, 3)
    try:
        _opt = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # Connect or API drift: plan checks are best-effort
        _opt = ""
    _limits = _global_limits(_opt)
    # Short-sample warning (r11 verdict #6, the remaining half of the r10
    # sample_head ADVICE): when the input IS a sample_head whose request
    # exceeds what actually arrived, the corpus was concentrated in fewer
    # than 1/slack of its partitions (or simply holds fewer rows) — say so
    # instead of silently training on a smaller sample than the caller
    # sized. Detected from the plan: a sanctioned GlobalLimit(n) is
    # sample_head's own terminal take, so n is the requested sample size.
    # Scoped to DIRECT sample_head inputs — only column-shaping nodes may
    # sit above the limit, else an intermediate row-dropping transform
    # (sample_head(df, n).filter(...)) would be misdiagnosed as skew.
    _direct = True
    for _line in _opt.splitlines():
        _d = len(_line) - len(_line.lstrip(" :+-"))
        _node = _line[_d:]
        if _node.startswith("GlobalLimit "):
            # the first GlobalLimit must itself be the sanctioned
            # sample_head take: for sample_head(df, N).limit(m) the first
            # node is the caller's own bare wrapper limit, and attributing
            # the m-row arrival to the INNER sanctioned N would misreport
            # deliberate truncation as partition skew (r12 ADVICE)
            _direct = bool(_limits) and _limits[0][1]
            break
        if not _node.startswith(("Project ", "SubqueryAlias ")):
            _direct = False
            break
    _sanctioned = [n for n, ok in _limits if ok]
    if (
        _direct
        and _sanctioned
        and Xprobe.shape[0] < min(_sanctioned[0], probe_n + 1)
    ):
        import warnings

        warnings.warn(
            f"kmeans.train: input's sample_head requested "
            f"{_sanctioned[0]} rows but only {Xprobe.shape[0]} arrived — "
            f"data is concentrated in fewer than 1/slack of partitions "
            f"(raise sample_head's slack=) or the corpus holds fewer "
            f"rows; training proceeds on the smaller sample.",
            stacklevel=2,
        )
    # driver Lloyd only when BOTH the row count and the (n, nlist) score
    # buffer are small: at nlist=16384 even a 100K-row input would pin a
    # 13 GB driver buffer — that shape belongs on the distributed loop
    whole_input = (
        Xprobe.shape[0] <= driver_threshold
        and Xprobe.shape[0] * nlist * 8 <= DRIVER_SCORE_BUDGET
    )
    t0 = _t.perf_counter()
    if init is not None:
        C = np.asarray(init, dtype=np.float64).copy()
        if C.shape[0] != nlist:
            raise ValueError(f"init has {C.shape[0]} centroids, expected {nlist}")
    else:
        X = Xprobe[:train_sample_limit]
        if X.shape[0] < nlist:
            raise ValueError(f"need >= {nlist} training vectors, got {X.shape[0]}")
        C = _kmeans_pp_init(X, nlist, np.random.default_rng(seed))
    if timings is not None:
        timings["kmeanspp_init_sec"] = round(_t.perf_counter() - t0, 3)

    if whole_input:
        if Xprobe.shape[0] == 0:
            raise ValueError("cannot train on an empty DataFrame")
        t0 = _t.perf_counter()
        out = _driver_lloyd(Xprobe, C, metric, max_iter)
        if timings is not None:
            timings["lloyd_sec"] = round(_t.perf_counter() - t0, 3)
        return KMeansModel(centroids=out, metric=metric)

    # Structural limit-trap guard (r10 verdict #5): the distributed loop
    # below scans `df` max_iter times as a NON-terminal plan. If the input
    # embeds a bare .limit(n), each scan compiles to LocalLimit ->
    # Exchange.SinglePartition -> GlobalLimit and ships the whole upstream
    # corpus to one task per iteration (61 GB measured, PERF.md r10).
    # Refuse loudly instead of silently melting; util.sample_head is the
    # safe spelling. (The driver path above is unaffected: its probe
    # collect is terminal and runs incrementally.) Reuses the one plan
    # parse from the warning above.
    bad = next(
        (
            n
            for n, ok in _limits
            if n >= LIMIT_GUARD_MIN_ROWS and not ok
        ),
        None,
    )
    if bad is not None:
        raise ValueError(
            f"kmeans.train: input above driver_threshold contains a "
            f"non-terminal limit({bad}) — the distributed Lloyd loop "
            f"would ship the whole upstream corpus through a "
            f"single-partition exchange on every iteration. Use "
            f"util.sample_head(df, n) instead of df.limit(n) to "
            f"pre-sample."
        )
    partial_schema = "list_id int, cnt long, sums array<double>"
    t0 = _t.perf_counter()
    # max_iter full scans follow — materialize the projected column once.
    # respread matters here: a limit()-shaped training sample arrives as
    # ONE partition, which would run every Lloyd pass on a single core
    # (the r8 50M probe caught exactly that at nlist=4096)
    from ..util import respread

    src = respread(df.select(vec_col)).cache()
    d = C.shape[1]
    # tree-combine gate: with one partial per (partition, list), the
    # driver collect is O(partitions * nlist * d) doubles per iteration
    # — fine at local scale, a real term on a wide cluster (1000 tasks x
    # nlist=16384 x 64-d = ~8 GB/iter). Past the budget, shuffle the
    # partials on list_id and combine per partition first, so the
    # driver sees <= nlist rows per iteration regardless of width.
    nparts = src.rdd.getNumPartitions()
    tree = nparts * nlist * d * 8 > LLOYD_COLLECT_BUDGET
    for _ in range(max_iter):
        # Arrow collect + vectorized scatter-add: at nlist=4096 the
        # partials are ~(partitions x nlist) rows — a per-Row Python
        # combine loop was the other half of the 50M probe's 100s/iter
        partials = src.mapInArrow(
            _partial_sums_scanner(C, metric, vec_col),
            schema=partial_schema,
        )
        if tree:
            partials = partials.repartition(
                min(32, max(1, nlist // 512)), "list_id"
            ).mapInArrow(_partials_combiner(nlist, d), schema=partial_schema)
        tbl = partials.toArrow()
        lid = tbl.column("list_id").to_numpy(zero_copy_only=False)
        cnt = tbl.column("cnt").to_numpy(zero_copy_only=False)
        sv = tbl.column("sums").combine_chunks()
        # .flatten() (not .values): honors any array offset from sliced
        # batches; .values would return the unsliced child buffer and
        # silently misalign the reshape
        flat = sv.flatten().to_numpy(zero_copy_only=False)
        part_sums = flat.reshape(len(lid), d)
        counts = np.zeros(nlist, dtype=np.int64)
        sums = np.zeros_like(C)
        np.add.at(counts, lid, cnt)
        np.add.at(sums, lid, part_sums)
        nonempty = counts > 0
        # empty cluster keeps its previous centroid (ivf_flat_index.cpp:134-141)
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
    src.unpersist()
    if timings is not None:
        timings["lloyd_sec"] = round(_t.perf_counter() - t0, 3)
    return KMeansModel(centroids=C, metric=metric)


def quantization_health(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "vector",
    metric: str = D.L2,
) -> DataFrame:
    """Index-health stats the serving side watches for retrain pressure:
    per-list quantization error and assignment margin.

    For every vector, the distance to its own (nearest) centroid and to
    the runner-up come out of the same blockwise distance matrix the
    assignment kernel already computes — one mapInArrow pass, no extra
    scan. Per list: member count, mean/max distance to centroid (the
    distortion the coarse quantizer is adding), and the mean margin
    (runner-up minus own distance — shrinking margins mean vectors are
    drifting toward list boundaries, nprobe recall is about to decay,
    and the quantizer wants retraining on fresh data).

    The reference's stats surface stops at list sizes
    (ivf_flat_index.cpp GetStats); distortion/margin is the part its
    TODO'd cache/serving layer would have needed next.
    """
    import pyarrow as pa

    from ..functions import arrowkit as AK

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    metric = D.parse_metric(metric)
    if metric != D.L2:
        # distortion/margin are Euclidean quantities; a negated inner
        # product under sqrt is meaningless. IP/cosine indexes measure
        # health on their normalized vectors with L2 explicitly.
        raise ValueError(
            f"quantization_health is defined on L2 geometry, got {metric!r}"
        )
    if C.shape[0] < 2:
        raise ValueError("quantization_health needs >= 2 centroids")

    def run(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            dmat = D.pairwise(metric, V, C)
            a = np.argmin(dmat, axis=1).astype(np.int32)
            two = np.partition(dmat, 1, axis=1)[:, :2]
            # BLAS-form distances can dip a hair below zero; clamp before sqrt
            d1 = np.sqrt(np.maximum(two[:, 0], 0.0))
            d2 = np.sqrt(np.maximum(two[:, 1], 0.0))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(a, pa.int32()),
                    pa.array(d1, pa.float64()),
                    pa.array(d2, pa.float64()),
                ],
                names=["list_id", "d1", "d2"],
            )

    per_vec = df.mapInArrow(run, schema="list_id int, d1 double, d2 double")
    return per_vec.groupBy("list_id").agg(
        F.count("*").alias("n_vecs"),
        F.avg("d1").alias("mean_dist"),
        F.max("d1").alias("max_dist"),
        F.avg(F.col("d2") - F.col("d1")).alias("mean_margin"),
    )
