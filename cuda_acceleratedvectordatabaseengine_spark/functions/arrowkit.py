"""Arrow-native kernel plumbing for the dense hot paths.

``mapInPandas`` hands each batch over as pandas, where a fixed-dim
``array<float>`` column becomes n Python objects; rebuilding the (n, d)
matrix costs a Python-level pass per batch (``np.asarray(list(series))``) —
at 600K rows that conversion dominates the actual BLAS math. ``mapInArrow``
skips pandas entirely: a ListArray's values live in ONE flat buffer, so the
matrix is a zero-copy ``reshape`` — the Spark-side analog of the
reference's contiguous per-list float arrays (engine/ivf_flat_index.h:25-27)
feeding dense kernels.

Helpers here are shared by the k-means, kNN, and IVF scanners.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_BLAS_CAPPED = False


def cap_worker_blas_threads(n: int = 1) -> None:
    """Cap OpenBLAS intra-op threads inside EXECUTOR Python workers.

    local[32] runs 32 Python workers concurrently; each numpy GEMM
    spawning its own 32 OpenBLAS threads oversubscribes the machine
    ~32x (measured: the nlist=4096 assignment pass drops from 140s to
    83s with 1-thread worker BLAS — the skinny per-batch GEMMs
    parallelize across TASKS, not within them). The DRIVER process is
    deliberately exempt (detected by its live SparkContext): driver-side
    k-means/PQ training runs one big GEMM at a time and wants the
    threads (train at nlist=4096: 38s multithreaded vs 78s capped).

    Called from ``list_matrix``/``binary_matrix`` so every Arrow kernel
    inherits the cap on its first batch in each worker process;
    idempotent and fail-open (non-OpenBLAS numpy builds no-op)."""
    global _BLAS_CAPPED
    if _BLAS_CAPPED:
        return
    _BLAS_CAPPED = True
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            return  # driver process: keep multithreaded BLAS
    except Exception:
        pass
    try:
        import ctypes
        import glob
        import os

        libs = glob.glob(
            os.path.join(
                os.path.dirname(np.__file__), "..", "numpy.libs",
                "libopenblas*",
            )
        ) + glob.glob(
            os.path.join(
                os.path.dirname(np.__file__), ".libs", "libopenblas*"
            )
        )
        for lib in libs:
            h = ctypes.CDLL(lib)
            for fn in (
                "openblas_set_num_threads64_",
                "openblas_set_num_threads",
            ):
                f = getattr(h, fn, None)
                if f is not None:
                    f(int(n))
                    break
    except Exception:
        pass  # fail-open: wrong thread count is a perf bug, not a crash


def _openblas_handles():
    import ctypes
    import glob
    import os

    libs = glob.glob(
        os.path.join(
            os.path.dirname(np.__file__), "..", "numpy.libs", "libopenblas*"
        )
    ) + glob.glob(os.path.join(os.path.dirname(np.__file__), ".libs", "libopenblas*"))
    return [ctypes.CDLL(lib) for lib in libs]


def blas_thread_report() -> dict:
    """Diagnostic for the train-time variance hunt: the OpenBLAS thread
    count THIS process would use for a GEMM, plus whether
    ``cap_worker_blas_threads`` already ran here and whether it took the
    driver exemption. Cheap; bench.py prints it on stderr so a slow
    train sample is immediately attributable (capped driver = ~2x slower
    k-means fit at high nlist)."""
    n = None
    try:
        for h in _openblas_handles():
            for fn in ("openblas_get_num_threads64_", "openblas_get_num_threads"):
                f = getattr(h, fn, None)
                if f is not None:
                    n = int(f())
                    break
            if n is not None:
                break
    except Exception:
        pass
    is_driver = False
    try:
        from pyspark import SparkContext

        is_driver = SparkContext._active_spark_context is not None
    except Exception:
        pass
    return {
        "blas_threads": n,
        "cap_ran": _BLAS_CAPPED,
        "active_spark_context": is_driver,
    }


def list_matrix(
    rb: pa.RecordBatch, col: str, dtype=np.float64
) -> np.ndarray:
    """(n, d) float matrix from a vector column of a RecordBatch, in
    EITHER physical layout:

    - fixed-length ``list<float>`` (the logical schema): ``flatten()``
      resolves list offsets (including sliced batches) without copying
      values; the reshape requires every row to have the same length,
      which the engine's fixed-dimension schema guarantees (dimension is
      checked per request, server/query_service.cpp:115-119) — a ragged
      or null row raises ``ValueError``;
    - packed ``binary`` (epoch ``vector_layout="packed_f32"``,
      sources/epochs.py): each row is d float32-LE values in one byte
      string — decoded as a frombuffer view, no per-element work. This
      is the faster JVM->Python path: Spark's ArrowWriter emits a list
      column element-by-element but a binary column row-by-memcpy
      (interleaved A/B: ~1.9x on the scan shape at 600K and 4.8M,
      scripts/ab_binary_layout.py, PERF.md r9).

    Every dense kernel funnels through here, so scanners handle both
    layouts with no per-site changes."""
    cap_worker_blas_threads()
    arr = rb.column(rb.schema.get_field_index(col))
    n = len(arr)
    if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
        if n == 0:
            return np.empty((0, 0), dtype=dtype)
        off_dt = (
            np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        )
        offsets = np.frombuffer(arr.buffers()[1], dtype=off_dt)[
            arr.offset : arr.offset + n + 1
        ]
        widths = np.diff(offsets)
        w = int(widths[0])
        if w % 4 != 0 or (widths != w).any():
            raise ValueError(
                f"binary vector column {col!r} is not fixed-width float32"
            )
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        M = (
            np.ascontiguousarray(
                data[offsets[0] : offsets[-1]].reshape(n, w)
            )
            .view(np.float32)
        )
        return M.astype(dtype, copy=False)
    if pa.types.is_fixed_size_binary(arr.type):
        if n == 0:
            return np.empty((0, 0), dtype=dtype)
        w = arr.type.byte_width
        if w % 4 != 0:
            raise ValueError(f"fixed binary width {w} not float32-aligned")
        data = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
        M = (
            np.ascontiguousarray(
                data[arr.offset * w : (arr.offset + n) * w].reshape(n, w)
            )
            .view(np.float32)
        )
        return M.astype(dtype, copy=False)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    # a null row holds no values and a ragged row shifts every later one:
    # either would reshape into a matrix of the wrong rows, so both raise
    if arr.null_count:
        raise ValueError(f"list column {col!r} has {arr.null_count} null rows")
    if pa.types.is_fixed_size_list(arr.type):
        d = arr.type.list_size
    else:
        widths = np.diff(arr.offsets.to_numpy())
        d = int(widths[0])
        if (widths != d).any():
            raise ValueError(
                f"ragged list column {col!r}: row lengths "
                f"{int(widths.min())}..{int(widths.max())}"
            )
    values = arr.flatten().to_numpy(zero_copy_only=False)
    M = values.reshape(n, d)
    return M.astype(dtype, copy=False)


def binary_matrix(rb: pa.RecordBatch, col: str, width: int) -> np.ndarray:
    """(n, width) uint8 matrix from a fixed-width binary column (PQ codes:
    uint8[m] per vector, engine/kernels.cuh:226-237) — one buffer slice, no
    per-row bytes objects."""
    cap_worker_blas_threads()
    arr = rb.column(rb.schema.get_field_index(col))
    n = len(arr)
    if n == 0:
        return np.empty((0, width), dtype=np.uint8)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ]
    if not (np.diff(offsets) == width).all():
        raise ValueError(f"binary column {col!r} is not fixed-width {width}")
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data[offsets[0] : offsets[-1]].reshape(n, width)


def pack_f32_transform(vec_col: str = "vector"):
    """mapInArrow generator factory: replace a fixed-dim ``list<float>``
    column with its packed float32-LE ``binary`` form (other columns pass
    through untouched; already-binary batches pass through whole). The
    writer side of epoch ``vector_layout="packed_f32"``."""

    def run(batches):
        for rb in batches:
            i = rb.schema.get_field_index(vec_col)
            arr = rb.column(i)
            if pa.types.is_binary(arr.type) or pa.types.is_large_binary(
                arr.type
            ):
                yield rb
                continue
            n = len(arr)
            vals = (
                arr.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float32, copy=False)
            )
            if n == 0:
                binarr = pa.array([], type=pa.binary())
            else:
                d, rem = divmod(len(vals), n)
                if rem != 0:
                    raise ValueError(
                        f"ragged vector column {vec_col!r} cannot pack"
                    )
                offsets = np.arange(n + 1, dtype=np.int32) * (d * 4)
                binarr = pa.BinaryArray.from_buffers(
                    pa.binary(),
                    n,
                    [
                        None,
                        pa.py_buffer(offsets.tobytes()),
                        pa.py_buffer(vals.tobytes()),
                    ],
                )
            arrays = [
                binarr if j == i else rb.column(j)
                for j in range(rb.num_columns)
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=rb.schema.names)

    return run


def unpack_f32_transform(vec_col: str = "vector"):
    """Inverse of :func:`pack_f32_transform`: packed binary ->
    ``list<float>`` (export paths — snapshot hand-off, layout
    conversion). List-typed batches pass through."""

    def run(batches):
        for rb in batches:
            i = rb.schema.get_field_index(vec_col)
            arr = rb.column(i)
            if not (
                pa.types.is_binary(arr.type)
                or pa.types.is_large_binary(arr.type)
            ):
                yield rb
                continue
            M = list_matrix(rb, vec_col, dtype=np.float32)
            n, d = M.shape if M.size else (len(arr), 0)
            values = pa.array(M.ravel(), type=pa.float32())
            offsets = pa.array(
                np.arange(n + 1, dtype=np.int32) * d, type=pa.int32()
            )
            lst = pa.ListArray.from_arrays(offsets, values)
            arrays = [
                lst if j == i else rb.column(j) for j in range(rb.num_columns)
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=rb.schema.names)

    return run


def column(rb: pa.RecordBatch, col: str, dtype=None) -> np.ndarray:
    out = rb.column(rb.schema.get_field_index(col)).to_numpy(zero_copy_only=False)
    return out if dtype is None else out.astype(dtype, copy=False)


def batch(**cols) -> pa.RecordBatch:
    """RecordBatch from numpy arrays / pa.Arrays, in kwarg order."""
    arrays = [
        c if isinstance(c, pa.Array) else pa.array(c) for c in cols.values()
    ]
    return pa.RecordBatch.from_arrays(arrays, names=list(cols.keys()))


def topk_rows(dmat: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-column (query) top-k of a (n, nq) distance matrix as flat
    (col_index, row_index) arrays of length nq*kk, column-major,
    vectorized across ALL queries at once (no per-query Python loop):
    np.argpartition along axis 0 is the batched std::partial_sort
    (ivf_flat_index.cpp:367-371)."""
    n, nq = dmat.shape
    kk = min(k, n)
    if kk < n:
        sel = np.argpartition(dmat, kk - 1, axis=0)[:kk]  # (kk, nq)
    else:
        sel = np.broadcast_to(np.arange(n)[:, None], (n, nq))
    qcol = np.broadcast_to(np.arange(nq, dtype=np.int64), (kk, nq)).ravel(order="F")
    return qcol, sel.ravel(order="F")


def topk_columns(
    dmat: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``topk_rows`` as (col_index, id, distance) flat arrays."""
    qcol, rows = topk_rows(dmat, k)
    return qcol, ids[rows], dmat[rows, qcol]
