"""Scalar quantization (SQ8): per-dimension 8-bit codes over the IVF layout.

The reference's only compression story is PQ (declared IVFPQIndex,
engine/ivf_flat_index.h:107-189, kernels engine/kernels.cuh:188-312) plus an
fp16 kernel instantiation (engine/kernels.cu:112-114). SQ8 sits between
them: per-DIMENSION uniform quantization to uint8 against trained per-dim
[min, max] ranges — 4x less scan I/O than float32 (vs PQ's 16-32x) at far
higher fidelity, with NO training randomness: codes are a deterministic
function of the corpus, so the whole search result is SQL-reproducible
(unlike PQ, whose codebooks are seeded k-means).

Quantization semantics (pinned, and mirrored verbatim by the SQL oracle):

- train:  vmin_j = min over corpus of v_j, vmax_j = max (one distributed
  min/max pass, O(d) driver memory).
- encode: code_j = floor(clip((v_j - vmin_j) / (vmax_j - vmin_j), 0, 1)
  * 255 + 0.5), a uint8; constant dimensions (vmax == vmin) encode as 0.
- decode: vhat_j = vmin_j + code_j * ((vmax_j - vmin_j) / 255) — grid
  points reconstruct exactly; worst-case per-dim error is step/2.
- search: ASYMMETRIC distance (ADC-style): raw float query vs decoded
  corpus vector, under any of the three metrics — decoding yields plain
  floats, so unlike PQ's additive LUTs even cosine works unchanged.

Scale shape: training is one map-side-combined min/max scan; encoding is
distributed (mapInArrow over the full corpus, same binary packing as PQ
codes: d bytes per vector in one contiguous buffer); search scans only the
probed list partitions and decodes per Arrow batch into a dense float
block fed to the shared BLAS distance kernel. Out-of-range future vectors
(values outside the trained [vmin, vmax]) clip saturating — the standard
SQ behavior; retrain + re-encode via a new epoch when drift matters.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..sources.epochs import EpochManager
from .codes import CodeIndex, encode_codes
from .ivf import IVFIndex


def train_sq(df: DataFrame, vec_col: str = "vector") -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (vmin, vmax) float64 arrays from ONE distributed pass:
    each Arrow batch emits a single (min-vector, max-vector) row — map-side
    combine — and the driver folds the O(partitions) partials."""

    def scan(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            yield AK.batch(
                vmin=[V.min(axis=0).tolist()], vmax=[V.max(axis=0).tolist()]
            )

    rows = (
        df.select(vec_col)
        .mapInArrow(scan, schema="vmin array<double>, vmax array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("cannot train SQ on an empty corpus")
    vmin = np.min([r["vmin"] for r in rows], axis=0)
    vmax = np.max([r["vmax"] for r in rows], axis=0)
    return vmin, vmax


def encode_batch_sq(V: np.ndarray, vmin: np.ndarray, vmax: np.ndarray) -> np.ndarray:
    """(n, d) float -> (n, d) uint8 codes. The exact op order here is the
    contract the SQL oracle replicates — keep them in lockstep."""
    scale = vmax - vmin
    safe = np.where(scale == 0.0, 1.0, scale)
    x = np.clip((V - vmin) / safe, 0.0, 1.0)
    codes = np.floor(x * 255.0 + 0.5)
    codes[:, scale == 0.0] = 0.0
    return codes.astype(np.uint8)


def decode_batch_sq(
    codes: np.ndarray, vmin: np.ndarray, vmax: np.ndarray
) -> np.ndarray:
    """(n, d) uint8 -> (n, d) float64 reconstruction on the quantization
    grid: vhat = vmin + code * step, step = (vmax - vmin) / 255."""
    step = (vmax - vmin) / 255.0
    return vmin + codes.astype(np.float64) * step


def encode_sq(
    df: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """Distributed encode: {id[, list_id], vector} -> {id[, list_id], codes}
    with codes a d-byte binary column (same contiguous packing as PQ)."""
    vmin = np.ascontiguousarray(vmin, dtype=np.float64)
    vmax = np.ascontiguousarray(vmax, dtype=np.float64)
    return encode_codes(
        df, lambda V: encode_batch_sq(V, vmin, vmax), id_col, vec_col, list_col
    )


@dataclass(kw_only=True)
class IVFSQIndex(CodeIndex):
    """IVF coarse structure + SQ8-encoded lists in the same epoch dir.
    Load, encodes and search are the shared shell (``codes.CodeIndex``);
    params ([vmin, vmax]) are reused by delta encodes, and out-of-range
    values clip saturating."""

    kind = "sq"

    vmin: np.ndarray
    vmax: np.ndarray

    @classmethod
    def build_from_ivf(cls, ivf_index: IVFIndex) -> "IVFSQIndex":
        """Train per-dim ranges over the chain corpus, encode distributed,
        persist codes + params alongside the epoch, stamp manifest.sq.
        Fully deterministic — no seed parameter exists on purpose."""
        vmin, vmax = train_sq(ivf_index.vectors)
        return cls.encode_epoch(ivf_index, vmin, vmax, scope="chain")

    @classmethod
    def encode_epoch(
        cls,
        ivf_index: IVFIndex,
        vmin: np.ndarray,
        vmax: np.ndarray,
        scope: str = "chain",
    ) -> "IVFSQIndex":
        """Encode with GIVEN params (``CodeIndex.encode_params``)."""
        return cls.encode_params(ivf_index, {"vmin": vmin, "vmax": vmax}, scope)

    @property
    def code_width(self) -> int:
        return self.dimension

    @classmethod
    def encode_frame(cls, src, centroids, params):
        return encode_sq(src, params["vmin"], params["vmax"])

    @classmethod
    def stamp(cls, params: dict, scope: str) -> dict:
        return {"nbits": 8, "scope": scope}

    @classmethod
    def write_params(cls, mgr: EpochManager, epoch: int, params: dict) -> None:
        """O(d) driver-side artifact — direct pyarrow write like codebooks."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        vmin = params["vmin"]
        t = pa.table(
            {
                "pos": pa.array(np.arange(len(vmin), dtype=np.int32), pa.int32()),
                "vmin": pa.array(vmin, pa.float64()),
                "vmax": pa.array(params["vmax"], pa.float64()),
            }
        )
        papq.write_table(t, mgr.sq_params_path(epoch))

    @classmethod
    def read_params(cls, spark: SparkSession, mgr: EpochManager, epoch: int) -> dict:
        rows = spark.read.parquet(mgr.sq_params_path(epoch)).collect()
        vmin = np.zeros(len(rows), dtype=np.float64)
        vmax = np.zeros(len(rows), dtype=np.float64)
        for r in rows:
            vmin[r["pos"]] = r["vmin"]
            vmax[r["pos"]] = r["vmax"]
        return {"vmin": vmin, "vmax": vmax}

    def list_scorer(self, Q: np.ndarray, metric: str):
        """Decode the codes to a dense float block (asymmetric: raw query
        vs decoded corpus); the flat kernel scores it — its GEMM ranks and
        each kept candidate reports its direct-form distance."""
        vmin, vmax = self.vmin, self.vmax
        return (lambda codes: decode_batch_sq(codes, vmin, vmax)), None
