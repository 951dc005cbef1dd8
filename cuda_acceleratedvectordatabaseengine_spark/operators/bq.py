"""Binary quantization (BQ1): 1-bit-per-dimension codes over the IVF layout.

Completes the engine's compression ladder — PQ (declared IVFPQIndex,
engine/ivf_flat_index.h:107-189; kernels engine/kernels.cuh:188-312) and
SQ8 (operators/sq.py) down to the 32x-smaller extreme: one SIGN BIT per
dimension against a trained per-dimension threshold, searched under
SYMMETRIC Hamming distance (query encoded with the same thresholds,
distance = popcount of the XOR). The standard modern vector-db memory
tier: at 100 TB of float32 embeddings the bit codes are ~3 TB, the
Hamming scan is pure integer ops, and exact rerank over a small shortlist
restores metric fidelity.

Quantization semantics (pinned, mirrored verbatim by the SQL oracle):

- train:  mu_j = mean over the corpus of v_j (one distributed avg pass,
  O(d) driver memory) — the per-dim median would balance bits better but
  is not exactly SQL-reproducible at scale; mean is, and on centered data
  they coincide.
- encode: bit_j = 1 if v_j > mu_j else 0 (strict >), packed MSB-first
  into ceil(d/8) bytes (np.packbits order). Trailing pad bits are 0 on
  both sides of every XOR, so they never contribute to the distance.
- search: hamming(a, q) = sum_j (a_j != q_j), returned as the engine's
  ``distance`` double. Ties (Hamming is integer-valued on [0, d]) break
  by id — the engine-wide T4 discipline.

Scale shape: training is one map-side-combined mean scan; encoding is
distributed (mapInArrow, same contiguous binary packing as PQ/SQ codes);
search scans only the probed list partitions, XORs per Arrow batch
against the packed query bits, and popcounts via a 256-entry LUT — no
floats touched until the optional exact rerank.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..sources.epochs import EpochManager
from .codes import CodeIndex, encode_codes
from .ivf import IVFIndex

# popcount lookup for uint8 — np.bitwise_count needs numpy>=2; the LUT is
# version-proof and the gather is a single vectorized index.
_POPCNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def train_bq(df: DataFrame, vec_col: str = "vector") -> np.ndarray:
    """Per-dimension mean thresholds (float64) from ONE distributed pass:
    each Arrow batch emits (sum-vector, row-count) — map-side combine —
    and the driver folds the O(partitions) partials. Deterministic up to
    float-sum association; the strict-inequality encode makes boundary
    sensitivity measure-zero on real-valued data."""

    def scan(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            yield AK.batch(s=[V.sum(axis=0).tolist()], n=[int(V.shape[0])])

    rows = (
        df.select(vec_col)
        .mapInArrow(scan, schema="s array<double>, n long")
        .collect()
    )
    if not rows:
        raise ValueError("cannot train BQ on an empty corpus")
    total = np.sum([r["s"] for r in rows], axis=0)
    n = sum(r["n"] for r in rows)
    return total / float(n)


def encode_batch_bq(V: np.ndarray, thresholds: np.ndarray) -> np.ndarray:
    """(n, d) float -> (n, ceil(d/8)) uint8 packed sign bits. The exact
    comparison (strict >) and MSB-first packing are the contract the SQL
    oracle replicates — keep them in lockstep."""
    bits = (np.asarray(V, dtype=np.float64) > thresholds).astype(np.uint8)
    return np.packbits(bits, axis=1)


def hamming_matrix(C: np.ndarray, Qb: np.ndarray) -> np.ndarray:
    """(n, nbytes) x (q, nbytes) packed codes -> (n, q) float64 Hamming
    distances. Per-query XOR + LUT popcount; q is bounded by the engine's
    MAX_QUERY_BATCH so the loop is short and each pass is vectorized."""
    n, q = C.shape[0], Qb.shape[0]
    out = np.empty((n, q), dtype=np.float64)
    for j in range(q):
        out[:, j] = _POPCNT[C ^ Qb[j]].sum(axis=1, dtype=np.int64)
    return out


def encode_bq(
    df: DataFrame,
    thresholds: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """Distributed encode: {id[, list_id], vector} -> {id[, list_id], codes}
    with codes a ceil(d/8)-byte binary column (contiguous packing like
    PQ/SQ codes)."""
    thresholds = np.ascontiguousarray(thresholds, dtype=np.float64)
    return encode_codes(
        df, lambda V: encode_batch_bq(V, thresholds), id_col, vec_col, list_col
    )


@dataclass(kw_only=True)
class IVFBQIndex(CodeIndex):
    """IVF coarse structure + 1-bit sign codes in the same epoch dir.
    Load, encodes and search are the shared shell (``codes.CodeIndex``);
    thresholds are a train-time artifact reused by delta encodes."""

    kind = "bq"

    thresholds: np.ndarray

    @classmethod
    def build_from_ivf(cls, ivf_index: IVFIndex) -> "IVFBQIndex":
        """Train per-dim mean thresholds over the chain corpus, encode
        distributed, persist codes + params alongside the epoch, stamp
        manifest.bq. Fully deterministic — no seed parameter exists on
        purpose."""
        thresholds = train_bq(ivf_index.vectors)
        return cls.encode_epoch(ivf_index, thresholds, scope="chain")

    @classmethod
    def encode_epoch(
        cls, ivf_index: IVFIndex, thresholds: np.ndarray, scope: str = "chain"
    ) -> "IVFBQIndex":
        """Encode with GIVEN thresholds (``CodeIndex.encode_params``)."""
        return cls.encode_params(ivf_index, {"thresholds": thresholds}, scope)

    @property
    def code_width(self) -> int:
        return (self.dimension + 7) // 8

    @classmethod
    def encode_frame(cls, src, centroids, params):
        return encode_bq(src, params["thresholds"])

    @classmethod
    def stamp(cls, params: dict, scope: str) -> dict:
        return {"nbits": 1, "scope": scope}

    @classmethod
    def write_params(cls, mgr: EpochManager, epoch: int, params: dict) -> None:
        """O(d) driver-side artifact — direct pyarrow write like codebooks."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        mu = params["thresholds"]
        t = pa.table(
            {
                "pos": pa.array(np.arange(len(mu), dtype=np.int32), pa.int32()),
                "mu": pa.array(mu, pa.float64()),
            }
        )
        papq.write_table(t, mgr.bq_params_path(epoch))

    @classmethod
    def read_params(cls, spark: SparkSession, mgr: EpochManager, epoch: int) -> dict:
        rows = spark.read.parquet(mgr.bq_params_path(epoch)).collect()
        mu = np.zeros(len(rows), dtype=np.float64)
        for r in rows:
            mu[r["pos"]] = r["mu"]
        return {"thresholds": mu}

    def list_scorer(self, Q: np.ndarray, metric: str):
        """Hamming distance of the list's packed codes to the queries'
        sign bits — the fine scan is always Hamming, whatever ``metric``."""
        Qb = encode_batch_bq(Q, self.thresholds)

        def score(codes, lid, qidx, ws):
            return hamming_matrix(codes, Qb[qidx])

        return None, score
