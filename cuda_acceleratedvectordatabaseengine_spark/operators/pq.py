"""Product quantization: B5 training, B6 encoding, T5/T6 ADC search,
T7 exact rerank (SURVEY.md §2.2-2.3).

The reference DECLARES IVFPQIndex (engine/ivf_flat_index.h:107-189) and its
trainer (indexmgr pq_trainer.cpp, absent) but implements only the CUDA
kernels: the ADC distance-table kernel (engine/kernels.cuh:188-223) and the
code-scan kernel (:226-312). We implement the full declared capability with
the kernels' semantics:

- codebooks: ``m`` subspaces x ``ks = 2^nbits`` codewords of dimension
  ``dsub = d/m`` (kernels.cuh:189-196). Codes are uint8 per subspace
  (nbits <= 8), stored packed as a BinaryType column of m bytes.
- T5 distance table: per query x subspace x codeword, squared L2 between
  the query subvector and the codeword centroid -> (m, ks) LUT. The kernel
  computes L2 tables; negated-IP is additive too and supported; cosine is
  NOT decomposable across subspaces and is rejected (normalize + L2 is the
  documented route, matching how the reference tests treat cosine).
- T6 ADC scan: distance(v) = sum_i LUT[i, code_i(v)] — numpy fancy
  indexing over the packed code matrix, the analog of the scan kernel.
- T7 rerank (`rerank_exact`/`rerank_k`, proto/vdb.proto:22, declared but
  never read in the reference — implemented properly here): re-score the
  top rerank_k ADC candidates with exact distances via a join back to the
  raw vectors, then re-rank to k.

Scale shape: codebook training runs on a bounded driver-side sample (the
reference trains on <=100K vectors, bench/benchmark.cpp:69) — O(sample*d)
numpy. ENCODING is distributed (mapInArrow over the full corpus), and ADC
search scans only probed list partitions. Codes are d/dsub bytes per vector
vs 4*d for float32 — the scan reads ~16-32x less data, which at 100 TB is
the difference between scanning 3 TB and scanning 100 TB.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..functions import distance as D
from ..sources.epochs import EpochManager
from .codes import CodeIndex, encode_codes
from .ivf import IVFIndex
from .kmeans import TRAIN_SAMPLE_LIMIT, _kmeans_pp_init

ADC_METRICS = (D.L2, D.INNER_PRODUCT)


def _local_kmeans(
    X: np.ndarray, k: int, rng: np.random.Generator, max_iter: int = 10
) -> np.ndarray:
    """Driver-side Lloyd on the bounded training sample (B1/B2 semantics:
    seeded ++ init, fixed iterations, empty cluster keeps old centroid).
    The iteration body is the shared buffer-reusing kernel
    (kmeans._driver_lloyd) — one score buffer, rank by ``||c||^2 - 2x.c``."""
    from .kmeans import _driver_lloyd

    k = min(k, X.shape[0])
    C = _kmeans_pp_init(X, k, rng)
    return _driver_lloyd(X, C, D.L2, max_iter)


def train_pq(
    df: DataFrame,
    m: int,
    nbits: int = 8,
    vec_col: str = "vector",
    seed: int = 42,
    sample_limit: int = TRAIN_SAMPLE_LIMIT,
    driver_threshold: int = TRAIN_SAMPLE_LIMIT,
) -> np.ndarray:
    """B5: per-subspace k-means -> codebooks (m, ks, dsub) float64.

    Hybrid execution, mirroring ``kmeans.train``: with the training sample
    within ``driver_threshold`` (the reference's own <=100K discipline,
    bench/benchmark.cpp:69) the whole problem is driver-side numpy. When
    ``sample_limit`` exceeds the threshold — the sample no longer fits the
    driver — the k-means++ init still runs on a bounded driver sub-sample
    (same seeded rng stream), but the 10 Lloyd iterations run DISTRIBUTED:
    one partial-sums scan per iteration covers all ``m`` subspaces, so
    only O(m * ks * dsub) doubles per partition reach the driver
    regardless of sample size."""
    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in [1, 8] (codes are uint8)")
    from .kmeans import _collect_matrix

    init_n = min(sample_limit, TRAIN_SAMPLE_LIMIT)
    X = _collect_matrix(df.select(vec_col).limit(init_n))
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    dsub, ks = d // m, 2**nbits
    rng = np.random.default_rng(seed)
    # the m subspace problems are independent — ++ init stays sequential on
    # the ONE shared rng (deterministic stream, same codebooks as a serial
    # run), the Lloyd iterations (deterministic, no rng) fan out to a thread
    # pool: numpy releases the GIL in the BLAS/ufunc inner loops, so the m
    # subspaces train in parallel on idle driver cores
    inits = []
    for i in range(m):
        sub = np.ascontiguousarray(X[:, i * dsub : (i + 1) * dsub])
        kk = min(ks, sub.shape[0])
        inits.append((sub, _kmeans_pp_init(sub, kk, rng)))

    if sample_limit <= driver_threshold:
        from concurrent.futures import ThreadPoolExecutor

        from .kmeans import _driver_lloyd

        workers = max(1, min(m, os.cpu_count() or 1))
        with ThreadPoolExecutor(max_workers=workers) as ex:
            trained = list(
                ex.map(lambda t: _driver_lloyd(t[0], t[1], D.L2, 10), inits)
            )
    else:
        trained = _distributed_pq_lloyd(
            df.select(vec_col).limit(sample_limit),
            [init for _sub, init in inits],
            dsub,
            vec_col,
        )
    codebooks = np.zeros((m, ks, dsub), dtype=np.float64)
    for i, got in enumerate(trained):
        codebooks[i, : got.shape[0]] = got
        if got.shape[0] < ks:  # fewer distinct points than codewords
            codebooks[i, got.shape[0] :] = got[0]
    return codebooks


def train_rotation(
    df: DataFrame, m: int, vec_col: str = "vector"
) -> np.ndarray:
    """OPQ-lite rotation (parametric OPQ, Ge et al. CVPR'13 §4): the PCA
    eigenbasis with EIGENVALUE ALLOCATION — eigen-dimensions are dealt
    greedily (descending eigenvalue, to the subspace with the smallest
    log-product so far) so the m PQ subspaces carry balanced variance
    instead of plain PCA's everything-in-the-first-block ordering.

    One distributed covariance pass (pca.covariance) + a driver-side d×d
    eigh. The returned R (d, d) is orthonormal (rows = permuted
    eigenvectors, subspace-major), so rotation preserves L2, inner
    product, and cosine EXACTLY — ADC distances in rotated space remain
    directly comparable to exact distances in the original space; only
    the quantization error shrinks (decorrelated, variance-balanced
    subspaces quantize better). The reference has no OPQ analog (its PQ
    trains on raw subspaces, engine/kernels.cuh:188-312); this is
    standard published practice for the same index family."""
    from .pca import covariance

    _mean, C, _n = covariance(df, vec_col)
    d = C.shape[0]
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    w, v = np.linalg.eigh(C)  # ascending
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    # deterministic sign convention (same as pca.train_pca)
    for i in range(d):
        j = int(np.argmax(np.abs(v[:, i])))
        if v[j, i] < 0:
            v[:, i] = -v[:, i]
    dsub = d // m
    buckets: "list[list[int]]" = [[] for _ in range(m)]
    logp = np.zeros(m)
    for idx in range(d):
        open_b = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(open_b, key=lambda b: (logp[b], b))
        buckets[b].append(idx)
        logp[b] += float(np.log(max(w[idx], 1e-12)))
    perm = [i for bucket in buckets for i in bucket]
    return np.ascontiguousarray(v[:, perm].T)


def rotate_vectors(
    df: DataFrame,
    R: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """{id[, list_id], vector} -> the same rows with ``vector`` replaced
    by R @ v — one matmul per Arrow batch, float64 output."""
    Rm = np.ascontiguousarray(np.asarray(R, dtype=np.float64))
    d = Rm.shape[0]
    cols = [id_col] + ([list_col] if list_col else []) + [vec_col]
    out_schema = (
        f"{id_col} long, "
        + (f"{list_col} int, " if list_col else "")
        + f"{vec_col} array<double>"
    )

    def rot(batches):
        import pyarrow as pa

        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            P = V @ Rm.T
            out = {id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64())}
            if list_col:
                out[list_col] = pa.array(
                    AK.column(rb, list_col, np.int32), pa.int32()
                )
            offsets = np.arange(len(P) + 1, dtype=np.int32) * d
            out[vec_col] = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(P.reshape(-1))
            )
            yield AK.batch(**out)

    return df.select(*cols).mapInArrow(rot, schema=out_schema)


def subtract_centroids(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str = "list_id",
) -> DataFrame:
    """{id, list_id, vector} -> the same rows with ``vector`` replaced by
    the RESIDUAL ``v - centroid[list_id]`` — the FAISS-standard IVF-PQ
    encoding input: residuals concentrate around the origin, so the same
    codebook budget spends its codewords on the (much smaller)
    within-list variation instead of re-describing coarse cluster
    positions. One gather + subtract per Arrow batch, float64 output.

    Rotation composes freely: R(v - c) = Rv - Rc, so residual-then-rotate
    (what the encode path does) equals rotating both sides."""
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    d = C.shape[1]
    out_schema = f"{id_col} long, {list_col} int, {vec_col} array<double>"

    def sub(batches):
        import pyarrow as pa

        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            lids = AK.column(rb, list_col, np.int64)
            R = V - C[lids]
            out = {
                id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64()),
                list_col: pa.array(lids.astype(np.int32), pa.int32()),
            }
            offsets = np.arange(len(R) + 1, dtype=np.int32) * d
            out[vec_col] = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(R.reshape(-1))
            )
            yield AK.batch(**out)

    return df.select(id_col, list_col, vec_col).mapInArrow(
        sub, schema=out_schema
    )


def _pq_partial_sums_scanner(cbs: "list[np.ndarray]", dsub: int, vec_col: str):
    """One Lloyd assign+partial-aggregate pass over ALL m subspaces: per
    Arrow batch emits at most sum(kk_i) rows of (subspace, code, cnt,
    component sums) — map-side combine, same shape as
    ``kmeans._partial_sums_scanner`` but fused across subspaces so each
    iteration is ONE scan, not m."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    def scan(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            subs, codes, cnts, sums = [], [], [], []
            for i, cb in enumerate(cbs):
                sub = V[:, i * dsub : (i + 1) * dsub]
                # rank by ||c||^2 - 2x.c (||x||^2 constant per row)
                d2 = (cb * cb).sum(1)[None, :] - 2.0 * (sub @ cb.T)
                a = np.argmin(d2, axis=1)
                lids = np.unique(a)
                subs.append(np.full(len(lids), i, dtype=np.int32))
                codes.append(lids.astype(np.int32))
                cnts.append(np.bincount(a, minlength=cb.shape[0])[lids])
                sums.extend(sub[a == lid].sum(axis=0).tolist() for lid in lids)
            yield AK.batch(
                subspace=pa.array(np.concatenate(subs), pa.int32()),
                code=pa.array(np.concatenate(codes), pa.int32()),
                cnt=pa.array(np.concatenate(cnts).astype(np.int64), pa.int64()),
                sums=pa.array(sums, pa.list_(pa.float64())),
            )

    return scan


def _distributed_pq_lloyd(
    train_df: DataFrame,
    cbs: "list[np.ndarray]",
    dsub: int,
    vec_col: str,
    max_iter: int = 10,
) -> "list[np.ndarray]":
    """B2 semantics per subspace (fixed iterations, empty code keeps its
    previous codeword) with the update reduced from distributed partial
    sums — the scale path once the training sample outgrows the driver."""
    cbs = [cb.copy() for cb in cbs]
    src = train_df.cache()
    try:
        for _ in range(max_iter):
            partials = src.mapInArrow(
                _pq_partial_sums_scanner(cbs, dsub, vec_col),
                schema="subspace int, code int, cnt long, sums array<double>",
            ).collect()
            counts = [np.zeros(cb.shape[0], dtype=np.int64) for cb in cbs]
            sums = [np.zeros_like(cb) for cb in cbs]
            for r in partials:
                counts[r["subspace"]][r["code"]] += r["cnt"]
                sums[r["subspace"]][r["code"]] += np.asarray(
                    r["sums"], dtype=np.float64
                )
            for i, cb in enumerate(cbs):
                nz = counts[i] > 0
                cb[nz] = sums[i][nz] / counts[i][nz, None]
    finally:
        src.unpersist()
    return cbs


def encode_batch(V: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """B6 per-batch: (n, d) -> (n, m) uint8 argmin codes."""
    m, ks, dsub = codebooks.shape
    n = V.shape[0]
    codes = np.empty((n, m), dtype=np.uint8)
    for i in range(m):
        sub = V[:, i * dsub : (i + 1) * dsub]
        cb = codebooks[i]
        # rank by ||c||^2 - 2x.c — the ||x||^2 term is constant per row, so
        # the argmin is unchanged and one (n, ks) broadcast add is saved on
        # the distributed encode hot path
        d2 = (cb * cb).sum(1)[None, :] - 2.0 * (sub @ cb.T)
        codes[:, i] = np.argmin(d2, axis=1).astype(np.uint8)
    return codes


def encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """B6 distributed: {id, vector[, list_id]} -> {id[, list_id], codes}."""
    cb = np.ascontiguousarray(codebooks)
    return encode_codes(
        df, lambda V: encode_batch(V, cb), id_col, vec_col, list_col
    )


def adc_tables(Q: np.ndarray, codebooks: np.ndarray, metric: str) -> np.ndarray:
    """T5: (nq, m, ks) lookup tables (kernels.cuh:188-223)."""
    metric = D.parse_metric(metric)
    if metric not in ADC_METRICS:
        raise ValueError(
            f"PQ/ADC supports {ADC_METRICS}; for cosine, l2-normalize vectors "
            "and use L2 (monotonically equivalent on the unit sphere)"
        )
    m, ks, dsub = codebooks.shape
    nq = Q.shape[0]
    lut = np.empty((nq, m, ks), dtype=np.float64)
    for i in range(m):
        qsub = Q[:, i * dsub : (i + 1) * dsub]
        cb = codebooks[i]
        if metric == D.L2:
            lut[:, i, :] = (
                (qsub * qsub).sum(1)[:, None]
                + (cb * cb).sum(1)[None, :]
                - 2.0 * (qsub @ cb.T)
            )
        else:  # negated inner product is additive across subspaces
            lut[:, i, :] = -(qsub @ cb.T)
    return lut


def adc_scan_batch(codes: np.ndarray, lut_q: np.ndarray) -> np.ndarray:
    """T6 per-batch: (n, m) uint8 codes x (m, ks) LUT -> (n,) distances."""
    m = codes.shape[1]
    return lut_q[np.arange(m)[None, :], codes].sum(axis=1)


def reconstruct(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Decode (n, m) codes back to (n, d) approximate vectors."""
    m, ks, dsub = codebooks.shape
    return np.concatenate(
        [codebooks[i][codes[:, i]] for i in range(m)], axis=1
    )


def nearest_pq_epoch(mgr: EpochManager, epoch: int) -> int | None:
    """Nearest epoch in ``epoch``'s chain (tip first, ``epoch`` excluded)
    that carries PQ artifacts — the codebook source for a delta encode."""
    from ..sources.epochs import nearest_sidecar_epoch

    return nearest_sidecar_epoch(mgr, epoch, "pq")


@dataclass(kw_only=True)
class IVFPQIndex(CodeIndex):
    """IVF coarse structure + PQ-encoded lists in the same epoch dir. Load,
    encodes and search are the shared shell (``codes.CodeIndex``); this
    class adds training and the ADC score."""

    kind = "pq"

    codebooks: np.ndarray
    # OPQ-lite: orthonormal (d, d) rotation applied to vectors before
    # encoding and to queries before ADC; None = plain PQ
    rotation: "np.ndarray | None" = None
    # residual encoding (FAISS IVF-PQ standard): codes quantize
    # v - centroid[list_id] instead of v; ADC tables are then built
    # per (query, probed list) executor-side
    residual: bool = False

    @classmethod
    def build_from_ivf(
        cls,
        ivf_index: IVFIndex,
        m: int,
        nbits: int = 8,
        seed: int = 42,
        rotate: bool = False,
        residual: bool = False,
    ) -> "IVFPQIndex":
        """B5+B6 over an existing epoch: train codebooks on a sample, encode
        the full corpus distributed, persist alongside the epoch's vectors,
        update the manifest's pq field.

        ``rotate=True`` trains an OPQ-lite rotation first
        (``train_rotation``: PCA eigenbasis + eigenvalue allocation) and
        both trains and encodes in the rotated space — same index layout,
        same search API, smaller quantization error on correlated data.
        Queries are rotated inside ``search`` automatically.

        ``residual=True`` trains and encodes RESIDUALS (v - coarse
        centroid, the FAISS IVF-PQ standard): the codeword budget spends
        itself on within-list variation instead of re-describing cluster
        positions — lower quantization error at identical (m, nbits).
        ADC then builds its tables per (query, probed list) executor-side
        inside the scan; search API unchanged. Composes with ``rotate``
        (residual first, then rotation — R(v-c) = Rv - Rc)."""
        rotation = None
        src = ivf_index.vectors
        if residual:
            src = subtract_centroids(src, ivf_index.centroids)
        if rotate:
            rotation = train_rotation(src, m)
            src = rotate_vectors(src, rotation)
        codebooks = train_pq(src, m=m, nbits=nbits, seed=seed)
        return cls.encode_epoch(
            ivf_index, codebooks, scope="chain", rotation=rotation,
            residual=residual,
        )

    @classmethod
    def encode_epoch(
        cls,
        ivf_index: IVFIndex,
        codebooks: np.ndarray,
        scope: str = "chain",
        rotation: "np.ndarray | None" = None,
        residual: bool = False,
    ) -> "IVFPQIndex":
        """B6 with GIVEN codebooks (no training) — ``CodeIndex.encode_params``.
        ``rotation``/``residual`` select the encoding space, exactly as in
        ``build_from_ivf``."""
        params = {
            "codebooks": np.ascontiguousarray(codebooks, dtype=np.float64),
            "rotation": rotation,
            "residual": bool(residual),
        }
        return cls.encode_params(ivf_index, params, scope)

    @property
    def code_width(self) -> int:
        return self.codebooks.shape[0]

    @classmethod
    def encode_frame(cls, src, centroids, params):
        if params["residual"]:
            src = subtract_centroids(src, centroids)
        if params["rotation"] is not None:
            src = rotate_vectors(src, params["rotation"])
        return encode(src, params["codebooks"])

    @classmethod
    def stamp(cls, params: dict, scope: str) -> dict:
        m, ks, _dsub = params["codebooks"].shape
        return {
            "m": int(m),
            "nbits": int(ks).bit_length() - 1,  # ks == 2^nbits by construction
            "scope": scope,
            "rotated": params["rotation"] is not None,
            "residual": params["residual"],
        }

    @classmethod
    def write_params(cls, mgr: EpochManager, epoch: int, params: dict) -> None:
        """Codebooks (O(m*ks*dsub)) and the rotation (O(d^2)) are small
        driver-side artifacts — written directly with pyarrow like the
        manifest, instead of paying a Spark job for 4096 rows (measured
        5.9s -> ~0.05s); spark.read.parquet reads the single file."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        codebooks, R = params["codebooks"], params["rotation"]
        mm, ks, dsub = codebooks.shape
        offsets = np.arange(mm * ks + 1, dtype=np.int32) * dsub
        tables = {
            mgr.codebooks_path(epoch): {
                "subspace": pa.array(
                    np.repeat(np.arange(mm, dtype=np.int32), ks), pa.int32()
                ),
                "code": pa.array(
                    np.tile(np.arange(ks, dtype=np.int32), mm), pa.int32()
                ),
                "centroid": pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(codebooks.reshape(-1))
                ),
            }
        }
        if R is not None:
            d = R.shape[0]
            tables[mgr.rotation_path(epoch)] = {
                "i": pa.array(np.arange(d, dtype=np.int32), pa.int32()),
                "row": pa.ListArray.from_arrays(
                    pa.array(np.arange(d + 1, dtype=np.int32) * d),
                    pa.array(np.ascontiguousarray(R, dtype=np.float64).reshape(-1)),
                ),
            }
        for path, cols in tables.items():
            if os.path.isdir(path):  # earlier layout: a Spark-written directory
                shutil.rmtree(path)
            papq.write_table(pa.table(cols), path)

    @classmethod
    def read_params(cls, spark: SparkSession, mgr: EpochManager, epoch: int) -> dict:
        # the rotation and the residual flag are train-time artifacts
        # exactly like the codebooks: every encode and every ADC table
        # must run in the SAME (rotated, residual) space as the chain
        man = mgr.read_manifest(epoch)
        m, ks = man.pq["m"], 2 ** man.pq["nbits"]
        codebooks = np.zeros((m, ks, man.dimension // m), dtype=np.float64)
        for r in spark.read.parquet(mgr.codebooks_path(epoch)).collect():
            codebooks[r["subspace"], r["code"]] = r["centroid"]
        rotation = None
        if man.pq.get("rotated"):
            rows = spark.read.parquet(mgr.rotation_path(epoch)).collect()
            rotation = np.zeros((len(rows), len(rows)), dtype=np.float64)
            for r in rows:
                rotation[r["i"]] = r["row"]
        return {
            "codebooks": codebooks,
            "rotation": rotation,
            "residual": bool(man.pq.get("residual")),
        }

    def list_scorer(self, Q: np.ndarray, metric: str):
        """T5+T6: ADC lookup tables, summed per probed list's codes."""
        # OPQ-lite: the codes live in rotated space — rotate the queries
        # into it for the ADC tables. Rotation is orthonormal, so the ADC
        # distances stay directly comparable to the exact (unrotated)
        # probe and rerank stages.
        Q_adc = Q @ self.rotation.T if self.rotation is not None else Q
        # Residual encoding: codes quantize (v - c_list) [rotated], so ADC
        # tables must be built PER (query, probed list) from the shifted
        # query — executor-side inside the scan (the per-pair LUT cost is
        # nqs*m*ks*dsub flops, trivial next to the code gathers; the
        # alternative, precomputing nq*nprobe LUTs on the driver, is
        # O(nq*nprobe*m*ks) broadcast bytes and does NOT scale). For IP
        # the shift is additive instead: q.v = q.c + q.r, so the plain-q
        # LUT works with a per-(query, list) constant.
        C_adc = (
            (self.centroids @ self.rotation.T
             if self.rotation is not None else self.centroids)
            if self.residual
            else None
        )
        lut = (
            None
            if self.residual
            else adc_tables(Q_adc, self.codebooks, metric)  # (nq, m, ks)
        )
        codebooks = self.codebooks
        residual = self.residual
        m = codebooks.shape[0]

        def score(codes, lid, qidx, ws):
            # T6 vectorized across the probing queries: accumulate
            # per-subspace LUT gathers -> (n, nq_sub) in m passes
            # (m ~ 16) instead of one scan per query
            const = 0.0
            if residual:
                if metric == D.L2:
                    lut_q = adc_tables(Q_adc[qidx] - C_adc[lid], codebooks, metric)
                else:  # IP: -(q.v) = -(q.c) + [-(q.r) LUT]
                    lut_q = adc_tables(Q_adc[qidx], codebooks, metric)
                    const = -(Q_adc[qidx] @ C_adc[lid])[None, :]
            else:
                lut_q = lut[qidx]  # (nqs, m, ks)
            # dmat + the per-subspace gather both come from the reused
            # workspace: values identical to the fresh zeros/+= form (same
            # accumulation order)
            dmat = D._ws_block(ws, "dmat", len(codes), len(qidx))
            dmat.fill(0.0)
            g = D._ws_block(ws, "g", len(codes), len(qidx))
            for i in range(m):
                np.take(lut_q[:, i, :].T, codes[:, i], axis=0, out=g)
                dmat += g
            if residual and metric != D.L2:
                dmat += const
            return dmat

        return None, score
