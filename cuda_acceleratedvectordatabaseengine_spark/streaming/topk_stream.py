"""Incremental top-k over a streaming corpus — a custom stateful streaming
operator via ``applyInPandasWithState``.

The batch engine answers "top-k of query q over corpus C" in one job (T1,
engine/ivf_flat_index.cpp:339-384 semantics). When C itself is the stream
(vectors keep arriving — live ingest into an index), the reference has no
answer at all; this operator is the extension: per query, keep the best-k
``(id, distance)`` seen so far as GroupState, fold each micro-batch's
candidates in, and emit the refined top-k after every batch.

State size is O(k) per query — bounded regardless of stream length — and
the fold is associative/commutative, so the result after the final batch is
EXACTLY the batch T1 answer over everything that streamed by (tested via
stream-vs-batch equivalence, the same oracle discipline as events.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import distance as D

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("distance", T.DoubleType(), False),
    ]
)

# GroupState payload: the current best-k, columnar.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType()), False),
        T.StructField("dists", T.ArrayType(T.DoubleType()), False),
    ]
)


def _fold_topk(
    ids: np.ndarray, dists: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Best-k by (distance, id) with dedup-by-id keeping the smaller
    distance — the T4 merge semantics (ivf_flat_index.cpp:474-518)."""
    order = np.lexsort((ids, dists))
    ids, dists = ids[order], dists[order]
    keep = np.zeros(len(ids), dtype=bool)
    seen: set = set()
    for i, vid in enumerate(ids):
        if vid not in seen:
            seen.add(vid)
            keep[i] = True
        if len(seen) > k:
            break
    ids, dists = ids[keep][:k], dists[keep][:k]
    return ids, dists


def incremental_topk(
    candidates: DataFrame,
    k: int,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Streaming {query_id, id, distance} candidates -> per-query running
    top-k, one refreshed result set per micro-batch (update mode).

    ``candidates`` is typically produced inside the same streaming query by
    scoring arriving vectors against a broadcast query set (see
    ``score_stream_against_queries``)."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (query_id,) = key
        new_ids: list[np.ndarray] = []
        new_dists: list[np.ndarray] = []
        for pdf in pdfs:
            new_ids.append(pdf["id"].to_numpy(np.int64))
            new_dists.append(pdf["distance"].to_numpy(np.float64))
        if state.exists:
            s_ids, s_dists = state.get
            new_ids.append(np.asarray(s_ids, dtype=np.int64))
            new_dists.append(np.asarray(s_dists, dtype=np.float64))
        ids = np.concatenate(new_ids) if new_ids else np.empty(0, np.int64)
        dists = np.concatenate(new_dists) if new_dists else np.empty(0, np.float64)
        ids, dists = _fold_topk(ids, dists, k)
        state.update((ids.tolist(), dists.tolist()))
        yield pd.DataFrame(
            {
                "query_id": np.full(len(ids), query_id, dtype=np.int64),
                "rank": np.arange(1, len(ids) + 1, dtype=np.int32),
                "id": ids,
                "distance": dists,
            }
        )

    return candidates.groupBy("query_id").applyInPandasWithState(
        update,
        outputStructType=RESULT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def score_stream_against_queries(
    vector_stream: DataFrame,
    queries_pdf: pd.DataFrame,
    metric: str = D.L2,
) -> DataFrame:
    """Score arriving {id, vector} rows against a fixed query set (driver
    pandas {query_id, qvec}), emitting {query_id, id, distance} candidates.
    The query matrix ships to executors once (closure broadcast) — the
    streaming analog of T1's query-batch flattening."""
    from ..functions import arrowkit as AK

    qids = queries_pdf["query_id"].to_numpy(np.int64)
    Q = AK.list_matrix(
        pa.RecordBatch.from_pandas(queries_pdf[["qvec"]], preserve_index=False),
        "qvec",
    )
    metric = D.parse_metric(metric)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("id", T.LongType(), False),
            T.StructField("distance", T.DoubleType(), False),
        ]
    )

    def score(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, "vector")
            ids = AK.column(rb, "id", np.int64)
            Dm = D.pairwise(metric, V, Q)  # (n, nq)
            n, nq = Dm.shape
            yield AK.batch(
                query_id=np.repeat(qids, n),
                id=np.tile(ids, nq),
                distance=Dm.T.ravel(),
            )

    return vector_stream.select("id", "vector").mapInArrow(score, schema=out_schema)
