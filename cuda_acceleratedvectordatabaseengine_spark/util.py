"""Small plan-shaping helpers shared across operators."""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame


class SharedCache:
    """Bounded, semantically-keyed registry of persisted DataFrames.

    Expensive derived relations (shingle tables, minhash/simhash signature
    sets, LSH bucket keys) are consumed by several plan branches within one
    operator AND recomputed verbatim by sibling operators in the same
    pipeline (pair finding -> cluster resolution reruns the identical
    shingle+signature pass). A plain ``.cache()`` leaks storage blocks
    forever; unpersist-before-return forces every sibling call to pay the
    full pass again. This registry is the middle path the reference's cache
    objects take (a capacity-bounded cache with explicit eviction,
    engine/ivf_flat_index.h:191-222):

    - ``persist(df)`` keys the frame by its ANALYZED-PLAN semantic hash, so
      a sibling operator that rebuilds the same logical relation gets the
      already-persisted one back (hit = zero recompute);
    - entries are LRU-bounded (``max_entries``) — inserting past the cap
      unpersists the coldest entry, so long-lived applications cannot
      accumulate storage;
    - ``release()`` is the explicit eviction hook for callers
      (bench harnesses, services) that want a cold start.

    An entry whose blocks were dropped externally (``spark.catalog.
    clearCache()``) is re-persisted on hit rather than silently degrading to
    recompute-per-consumer.
    """

    def __init__(self, max_entries: int = 8) -> None:
        self.max_entries = max_entries
        # key -> bucket of semantically-distinct frames sharing the 32-bit
        # hash (collisions are ~2^-32 per pair; the bucket keeps them
        # tracked and evictable instead of leaking)
        self._entries: OrderedDict[tuple, list[DataFrame]] = OrderedDict()

    @staticmethod
    def _key(df: DataFrame) -> tuple:
        try:
            return (id(df.sparkSession), df._jdf.semanticHash())
        except Exception:
            # Connect or API drift: key by object identity — no cross-call
            # sharing, still bounded. Safe from id-reuse false hits because
            # the registry holds a strong ref to the keyed object.
            return (id(df.sparkSession), id(df))

    @staticmethod
    def _same(a: DataFrame, b: DataFrame) -> bool:
        """A 32-bit semanticHash can collide between distinct plans; a hit
        must be confirmed with a full semantic comparison before a cached
        relation is substituted — a false positive would silently compute
        over the wrong data."""
        if a is b:
            return True
        try:
            return a.sameSemantics(b)
        except Exception:
            return False

    def persist(self, df: DataFrame) -> DataFrame:
        key = self._key(df)
        bucket = self._entries.get(key)
        if bucket is not None:
            for hit in bucket:
                if self._same(hit, df):
                    self._entries.move_to_end(key)
                    lvl = hit.storageLevel
                    if not (lvl.useMemory or lvl.useDisk):  # externally cleared
                        hit.persist()
                    return hit
        df = df.persist()
        self._entries.setdefault(key, []).append(df)
        self._entries.move_to_end(key)
        # never evict the bucket just inserted (guard: keep >= 1 key)
        while len(self) > self.max_entries and len(self._entries) > 1:
            _, cold = self._entries.popitem(last=False)
            for c in cold:
                c.unpersist()
        return df

    def release(self) -> int:
        """Unpersist every entry; returns how many were released."""
        n = len(self)
        while self._entries:
            for c in self._entries.popitem()[1]:
                c.unpersist()
        return n

    def __len__(self) -> int:
        return sum(len(b) for b in self._entries.values())


def respread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row work.

    A small parquet input (one file under ``maxPartitionBytes``) arrives as a
    single partition, serializing everything downstream — hashing, shingling,
    decode — onto one core.  Round-robin repartition up to the session's
    default parallelism when the input has fewer partitions than that.  At
    100 TB the scan already has thousands of splits and this is a no-op (the
    partition-count probe is metadata-only, no job runs).
    """
    if df.isStreaming:
        # no .rdd on a streaming frame; micro-batch parallelism is the
        # source's concern (maxFilesPerTrigger / maxOffsetsPerTrigger)
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:
        # Connect or planning failure: leave the plan alone — forcing a
        # repartition here would add a full shuffle to inputs that are
        # already wide, which is worse than the pre-probe behavior
        return df
    if nparts < target:
        return df.repartition(target)
    return df


def drop_oversized_buckets(
    df: DataFrame, keys: "list[str]", max_size: int | None
) -> DataFrame:
    """Skew guard for LSH-style self-joins: remove every row whose ``keys``
    group has more than ``max_size`` members.

    A bucket of B members feeds B^2/2 rows into the candidate self-join —
    one degenerate bucket (a million near-identical documents on a
    dedup-heavy corpus is exactly where this runs) turns the sub-quadratic
    plan quadratic. Oversized buckets are dropped WHOLE: their members lose
    candidate pairs from this bucket (other buckets/bands can still pair
    them), which is the documented recall trade for a bounded join. The
    oversized-key set is tiny by construction (each key covers > max_size
    rows), so the anti-join broadcasts.

    ``None`` disables the guard (labeled-oracle paths).
    """
    if max_size is None:
        return df
    from pyspark.sql import functions as F

    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_size)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), list(keys), "left_anti")


def bucket_candidate_pairs(
    rows: DataFrame,
    keys: "list[str]",
    id_col: str,
    out_a: str,
    out_b: str,
    max_size: int | None,
    payload_col: "str | None" = None,
    out_pa: "str | None" = None,
    out_pb: "str | None" = None,
    impl: "str | None" = None,
) -> DataFrame:
    """Distinct within-bucket candidate pairs (``out_a < out_b``) for the
    LSH family, in ONE exchange plus the final distinct (guide §2.3/§2.4).

    Each ``keys`` group is a NON-windowed LSH bucket: members are collected
    to one array row, groups larger than ``max_size`` (or smaller than 2)
    are filtered out — exactly ``drop_oversized_buckets`` semantics without
    its extra count pass — and the a<b pairs come from a sorted-array
    two-level explode. A bucket of B members still costs B^2/2 emitted
    rows (that term is inherent to bucket blocking and bounded by
    ``max_size``); what this shape removes is the triple re-evaluation of
    the bucket relation and 2-3 shuffles of it.

    ``payload_col`` optionally carries one extra column per member through
    to the pair (e.g. the simhash signature), emitted as ``out_pa`` /
    ``out_pb``. Pair sets are identical to the self-join shape; the
    distinct collapses cross-bucket repeats the same way.

    ``max_size=None`` (labeled-oracle paths) falls back to the self-join
    shape: an uncapped degenerate bucket must not be collected into a
    single >2 GB array row.

    ``impl="self_join"`` forces the self-join shape at one call site: a
    caller whose bucket relation is already persisted (both self-join
    sides become cache reads) measures slightly faster with it — the
    dedup_lsh_recall row, OPTIMIZATION_r15.md §3.
    """
    from pyspark.sql import functions as F

    if max_size is None or impl == "self_join":
        rows = drop_oversized_buckets(rows, keys, max_size)
        sel_a = [F.col(id_col).alias(out_a)] + (
            [F.col(payload_col).alias(out_pa)] if payload_col else []
        )
        sel_b = [F.col(id_col).alias(out_b)] + (
            [F.col(payload_col).alias(out_pb)] if payload_col else []
        )
        a = rows.select(*keys, *sel_a)
        b = rows.select(*keys, *sel_b)
        cols = [out_a, out_b] + ([out_pa, out_pb] if payload_col else [])
        pred = None
        for c in [a[k] == b[k] for k in keys] + [F.col(out_a) < F.col(out_b)]:
            pred = c if pred is None else (pred & c)
        return a.join(b, pred).select(*cols).distinct()
    item = (
        F.struct(F.col(id_col).alias("i"), F.col(payload_col).alias("p"))
        if payload_col
        else F.col(id_col)
    )
    grp = (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(item)).alias("ms"))
        .where((F.size("ms") >= 2) & (F.size("ms") <= int(max_size)))
    )
    lhs = grp.select(F.col("ms"), F.posexplode("ms").alias("_i", "_a"))
    rhs = lhs.select(
        "_a",
        F.explode(F.expr("slice(ms, _i + 2, size(ms))")).alias("_b"),
    )
    # A bucket holding the same id twice puts equal ids side by side in
    # the sorted array; drop those identity pairs like the self-join's a<b.
    if payload_col:
        return rhs.where(F.col("_a.i") < F.col("_b.i")).select(
            F.col("_a.i").alias(out_a),
            F.col("_b.i").alias(out_b),
            F.col("_a.p").alias(out_pa),
            F.col("_b.p").alias(out_pb),
        ).distinct()
    return rhs.where(F.col("_a") < F.col("_b")).select(
        F.col("_a").alias(out_a), F.col("_b").alias(out_b)
    ).distinct()


def sample_head(df: DataFrame, n: int, slack: int = 4) -> DataFrame:
    """Scale-safe "first ~n rows" for training-sample selection.

    A bare ``df.limit(n)`` embedded in a downstream plan (cached, scanned
    repeatedly, fed to ``kmeans.train``) compiles to LocalLimit ->
    Exchange.SinglePartition -> GlobalLimit: when every partition holds
    fewer than ``n`` rows the LocalLimit drops NOTHING, so the exchange
    ships the whole corpus to one task — measured 61 GB of block-manager
    spill sampling 120K training rows from a 10M x 768-d corpus
    (scripts/scale_probe_768d.py incident, PERF.md r10). Only a TERMINAL
    limit (a direct ``.toArrow()``/``.collect()`` on it, like
    ``kmeans.train``'s probe collect) runs incrementally and avoids this.

    Here each partition is capped map-side first — Arrow-batch slicing,
    no per-row Python — at a BASE quota of ``ceil(n / num_partitions)``
    rows (tagged tier 0) plus a RESERVE of ``ceil((slack-1) * n /
    num_partitions)`` rows (tier 1), and the final take is the ``n``
    lowest-tier rows. On evenly-partitioned data the result is the tier-0
    spread — ~n/num_partitions rows from EVERY partition, exactly what a
    training sample wants; reserve rows only surface when some partitions
    are thin or empty (a filtered corpus), compensating the shortfall.
    The exchange under the final take carries at most ~slack*n rows
    regardless of corpus size. Like any limit, membership is not
    deterministic across re-executions unless the source order is.

    Skew caveat (r10 ADVICE): the cap is per-partition, so this MAY
    still return fewer than ``n`` rows even when the input holds more —
    whenever the input's rows are concentrated in fewer than ``1/slack``
    of its partitions. The default ``slack=4`` tolerates up to 3/4 of
    partitions being empty while bounding the exchange at ~4n rows;
    raise ``slack`` for nastier skew. The helper expects a SCAN-STAGE
    input (its intended use: sampling a parquet corpus before training)
    — on a post-shuffle plan the partition-count probe below may trigger
    physical planning under AQE and the count it returns may not match
    the mapInArrow execution partitioning, mis-sizing the cap.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    if slack < 1:
        raise ValueError(f"slack must be >= 1, got {slack}")
    if df.isStreaming:
        raise ValueError("sample_head is a batch helper; bound the stream source")
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import ByteType, StructField, StructType

    try:
        nparts = max(1, df.rdd.getNumPartitions())
    except Exception:  # Connect or planning failure: bound by parallelism
        nparts = max(1, df.sparkSession.sparkContext.defaultParallelism)
    base = -(-n // nparts)  # ceil
    total = base + (-(-((slack - 1) * n) // nparts) if slack > 1 else 0)
    tier_col = "__tier"
    while tier_col in df.columns:  # avoid shadowing a user column
        tier_col += "_"
    out_names = [f.name for f in df.schema.fields] + [tier_col]
    out_schema = StructType(
        df.schema.fields + [StructField(tier_col, ByteType(), False)]
    )

    def _take_per_partition(batches):
        taken = 0
        for batch in batches:
            if taken >= total:
                return
            take = min(total - taken, batch.num_rows)
            sl = batch.slice(0, take)
            tier = np.ones(take, dtype=np.int8)
            n0 = min(max(base - taken, 0), take)
            tier[:n0] = 0
            yield pa.RecordBatch.from_arrays(
                list(sl.columns) + [pa.array(tier, type=pa.int8())],
                names=out_names,
            )
            taken += take

    capped = df.mapInArrow(_take_per_partition, schema=out_schema)
    return capped.orderBy(tier_col).limit(n).select(*df.columns)
