"""Similarity-search scale paths: blocked exact all-pairs and LSH-bucketed
near-duplicate joins over embedding columns.

The exact all-pairs similarity self-join (T1 with queries=corpus,
engine/ivf_flat_index.cpp:339-384 generalized to a join) is O(n^2 d) no
matter what — the question is the constant and the shuffle shape:

- ``blocked_all_pairs``: vectors are packed into B dense blocks
  (``collect_list`` per block), block pairs (i <= j) meet in an equi-join,
  and each block pair is one BLAS distance-matrix call inside
  ``mapInPandas``. O(B^2) tasks, each a dense matmul — the Spark analog of
  the reference's contiguous-list GPU scan, and ~10x faster than a row-wise
  non-equi crossJoin with per-pair array aggregation (which Spark executes
  as BroadcastNestedLoopJoin + interpreted higher-order functions).
- ``lsh_near_dup_pairs``: the 100 TB path. Random-hyperplane signatures
  band into bucket keys; pairs meet in an equi-join on (repetition, bucket)
  and are verified exactly. Cost drops from O(n^2) to O(sum of bucket^2) —
  the same blocking idea as MinHash-LSH for text (operators/dedup.py), for
  dense vectors.

Both paths emit identical schemas so callers can swap exact -> LSH when n
outgrows the quadratic budget.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import distance as D
from ..util import SharedCache

# LSH bucket keys are recomputed verbatim by sibling calls (recall
# evaluation, repeated dedup passes) — shared, LRU-bounded, evictable via
# ann.shared_cache.release()
shared_cache = SharedCache(max_entries=4)

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id_a", T.LongType(), False),
        T.StructField("vec_id_b", T.LongType(), False),
        T.StructField("d2", T.DoubleType(), False),
    ]
)


def _pack_blocks(df: DataFrame, id_col: str, vec_col: str, n_blocks: int) -> DataFrame:
    """One row per block: {block, ids: array<long>, vecs: array<array<float>>}.
    Block assignment hashes the id so skew in id ranges doesn't skew blocks."""
    return (
        df.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("block"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
        )
        .groupBy("block")
        .agg(
            F.collect_list("_id").alias("ids"),
            F.collect_list("_vec").alias("vecs"),
        )
    )


def blocked_all_pairs(
    df: DataFrame,
    tau: float,
    metric: str = D.L2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = 16,
) -> DataFrame:
    """Exact all-pairs distances below ``tau`` (id_a < id_b), computed as
    B(B+1)/2 dense block-pair distance matrices.

    Size ``n_blocks`` so one block's vectors fit comfortably in an executor
    task (rows/B * d * 8 bytes); the per-task working set is two blocks plus
    their distance matrix. ``n_blocks=None`` sizes it automatically from a
    count probe (targets ~128 MB of float32 per block, min 16 — two cheap
    driver jobs, acceptable for an oracle path).

    Hard ceiling: each block is packed into ONE Spark row (``collect_list``),
    so a block must stay under Spark's ~2 GB single-row limit — i.e.
    ``n/B * d * 4`` bytes per block; at 100M x 64-d floats that means
    B >= ~16 (auto-sizing picks ~200). This path is the labeled exact
    ORACLE (quality measurement on bounded samples); the production scale
    path is ``lsh_near_dup_pairs``, which has no such ceiling."""
    metric = D.parse_metric(metric)
    if n_blocks is None:
        head = df.select(vec_col).filter(F.col(vec_col).isNotNull()).head(1)
        dim = len(head[0][0]) if head else 1
        n = df.count()
        target_rows = max(1, (128 << 20) // (4 * dim))  # ~128 MB/block
        n_blocks = max(16, -(-n // target_rows))
    blocks = _pack_blocks(df, id_col, vec_col, n_blocks)
    left = blocks.select(
        F.col("block").alias("block_a"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    right = blocks.select(
        F.col("block").alias("block_b"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    # Non-equi on block ids, but over only B rows per side — the nested-loop
    # join is over blocks, while the O(n^2) math stays dense in numpy.
    paired = left.join(right, F.col("block_a") <= F.col("block_b"))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a, out_b, out_d = [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                Va = np.array([np.asarray(v) for v in row.vecs_a], dtype=np.float64)
                Vb = np.array([np.asarray(v) for v in row.vecs_b], dtype=np.float64)
                Dm = D.pairwise(metric, Va, Vb)  # (na, nb)
                if row.block_a == row.block_b:
                    # same block meets itself once: keep one orientation
                    mask = (Dm < tau) & (ids_a[:, None] < ids_b[None, :])
                    ia, ib = np.nonzero(mask)
                    lo, hi = ids_a[ia], ids_b[ib]
                else:
                    # distinct blocks meet exactly once (block_a < block_b):
                    # keep every close pair, normalize to (min, max) — the
                    # smaller id may live on either side
                    ia, ib = np.nonzero(Dm < tau)
                    pa, pb = ids_a[ia], ids_b[ib]
                    lo, hi = np.minimum(pa, pb), np.maximum(pa, pb)
                out_a.append(lo)
                out_b.append(hi)
                out_d.append(Dm[ia, ib])
            if not out_a:
                continue
            yield pd.DataFrame(
                {
                    "vec_id_a": np.concatenate(out_a),
                    "vec_id_b": np.concatenate(out_b),
                    "d2": np.concatenate(out_d),
                }
            )

    return paired.mapInPandas(scan, schema=PAIRS_SCHEMA)


# ---------------------------------------------------------------------------
# LSH-bucketed near-dup (the sub-quadratic scale path)
# ---------------------------------------------------------------------------


def lsh_bucket_keys(
    df: DataFrame,
    n_planes: int = 12,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH: per repetition table, the sign pattern of
    ``n_planes`` projections becomes the bucket key. Cosine-near vectors
    collide with probability (1 - theta/pi)^n_planes per table; ``n_tables``
    independent tables OR-amplify recall."""
    if dim is None:
        head = df.select(vec_col).head(1)
        if not head:
            raise ValueError(
                "cannot infer embedding dimension from an empty DataFrame; "
                "pass dim= explicitly when the input may be empty"
            )
        dim = len(head[0][0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    spark = df.sparkSession
    bplanes = spark.sparkContext.broadcast(planes)

    # widen a one-file scan so the projection pass uses every core
    from ..util import respread

    df = respread(df)

    # keys only — deliberately NO vector column: the bucket table is
    # replicated x n_tables and shuffled/cached for the candidate self-join,
    # which reads just (table_id, bucket, vec_id); verification re-joins
    # vectors from the source. Carrying the widest column here would be an
    # n_tables-fold shuffle/cache amplification for zero benefit at 100 TB.
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("table_id", T.IntegerType(), False),
            T.StructField("bucket", T.LongType(), False),
        ]
    )
    src = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vector"))

    def sign_buckets(batches):
        from ..functions import arrowkit as AK

        P = bplanes.value
        n_t, n_p, _ = P.shape
        weights = (1 << np.arange(n_p)).astype(np.int64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, "vector")
            ids = AK.column(rb, "vec_id", np.int64)
            yield AK.batch(
                vec_id=np.tile(ids, n_t),
                table_id=np.repeat(np.arange(n_t, dtype=np.int32), len(ids)),
                bucket=np.concatenate(
                    [((V @ P[t].T) > 0) @ weights for t in range(n_t)]
                ),
            )

    return src.mapInArrow(sign_buckets, schema=out_schema)


def lsh_near_dup_pairs(
    df: DataFrame,
    tau: float,
    metric: str = D.COSINE,
    n_planes: int = 12,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Approximate near-dup pairs: LSH candidate generation (equi-join on
    (table, bucket)) + exact within-bucket verification + dedup across
    tables. Same output schema as ``blocked_all_pairs``; recall < 1 by
    design, tunable via n_planes/n_tables.

    ``max_bucket_size`` drops degenerate (table, bucket) groups whole
    before the self-join (``util.drop_oversized_buckets``): a bucket of B
    members is B^2/2 candidate rows, so one million-member bucket — a
    dedup-heavy corpus is exactly where this runs — would be 5e11 pairs.
    Members of a dropped bucket can still collide in the other
    ``n_tables - 1`` tables. ``None`` disables the cap.

    Parameter guidance (collision prob per plane is 1 - theta/pi): for true
    near-duplicates (cos_dist < 0.2, theta < 37deg, p > 0.79) the defaults
    (12 planes, 8 tables) give >99% recall with tiny buckets; for weaker
    similarity (cos_dist ~ 0.5, p ~ 0.65) drop to ~4 planes and raise
    tables (e.g. 4x16: 1-(1-0.65^4)^16 ~ 0.96) at the price of larger
    candidate buckets."""
    # persist via the shared registry: both sides of the bucket self-join
    # read the mapInPandas projection pass, which Spark would otherwise run
    # twice end-to-end, and sibling calls on the same corpus (recall
    # evaluation runs production + baseline branches) reuse the same keys.
    # The relation is ids+keys only (3 narrow columns — see lsh_bucket_keys);
    # storage is LRU-bounded with an ann.shared_cache.release() hook, so
    # nothing leaks unboundedly across an application's lifetime.
    keyed = shared_cache.persist(
        lsh_bucket_keys(df, n_planes, n_tables, seed, id_col, vec_col)
    )
    from ..util import bucket_candidate_pairs

    # dedup BEFORE verification: a pair colliding in many tables must be
    # scored once, not n_tables times (candidate generation is the cheap
    # part; the distance evaluation is what must not be repeated).
    # impl="self_join": `keyed` is persisted above, so both self-join
    # sides are cache reads and the self-join shape measures faster than
    # the group-explode here (OPTIMIZATION_r15.md §3: counterbalanced
    # dedup_lsh_recall rerun, 4.83 vs 5.14s min-of-reps).
    cand = bucket_candidate_pairs(
        keyed, ["table_id", "bucket"], "vec_id", "vec_id_a", "vec_id_b",
        max_bucket_size, impl="self_join",
    )
    return exact_verify_pairs(df, cand, tau, metric, id_col, vec_col)


def exact_verify_pairs(
    df: DataFrame,
    cand: DataFrame,
    tau: float,
    metric: str = D.COSINE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact verification of a {vec_id_a, vec_id_b} candidate-pair set:
    join both vectors back from the source (two equi-joins on id — the
    candidate table stays narrow until here) and keep pairs with exact
    distance < tau. Shared tail of every bucketed near-dup generator
    (LSH tables, SimHash blocks, cluster buckets); precision is
    structurally 1.0 because nothing unverified is ever emitted."""
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    pairs = cand.select("vec_id_a", "vec_id_b").join(
        src.select(F.col("_id").alias("vec_id_a"), F.col("_vec").alias("va")),
        "vec_id_a",
    ).join(
        src.select(F.col("_id").alias("vec_id_b"), F.col("_vec").alias("vb")),
        "vec_id_b",
    )

    # mapInArrow + flat-buffer reshape (arrowkit.list_matrix) — the same
    # zero-copy discipline as every dense scanner; the candidate volume
    # here is B^2/2 per bucket (1.28M pairs for 141 survivors on the
    # bench's weak-similarity LSH shape), so per-row Python vector
    # materialization would dominate the actual row-wise distance math
    # (OPTIMIZATION_r15.md §6: 1.21x over mapInPandas, bit-identical).
    def verify(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            A = AK.list_matrix(rb, "va")
            B = AK.list_matrix(rb, "vb")
            d = D.rowwise(metric, A, B)
            keep = d < tau
            yield AK.batch(
                vec_id_a=AK.column(rb, "vec_id_a", np.int64)[keep],
                vec_id_b=AK.column(rb, "vec_id_b", np.int64)[keep],
                d2=d[keep],
            )

    return pairs.mapInArrow(verify, schema=PAIRS_SCHEMA)


def cluster_assign_keys(
    df: DataFrame,
    centroids: np.ndarray,
    assign_m: int = 2,
    metric: str = D.L2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-assignment bucket keys: each vector keyed by its ``assign_m``
    NEAREST coarse-quantizer centroids (ties by list_id). assign_m=1 is
    plain B3 assignment; assign_m>1 is the standard multi-probe trick so
    near-dup pairs straddling a cluster boundary still share a bucket."""
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    if not 1 <= assign_m <= C.shape[0]:
        raise ValueError(f"assign_m must be in [1, nlist], got {assign_m}")
    metric = D.parse_metric(metric)
    m = assign_m
    from ..util import respread

    src = respread(df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vector")
    )

    def keys(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = AK.column(rb, "vec_id", np.int64)
            V = AK.list_matrix(rb, "vector")
            dmat = D.pairwise(metric, C, V)  # (nlist, n)
            # full (distance, list_id) lexsort: nlist is small by the IVF
            # discipline, and unlike argpartition the tie order at the m
            # boundary is exact — the SQL oracle replicates it verbatim
            ids_key = np.broadcast_to(
                np.arange(C.shape[0])[:, None], dmat.shape
            )
            lists = np.lexsort((ids_key, dmat), axis=0)[:m]
            yield AK.batch(
                vec_id=np.repeat(ids, m),
                list_id=lists.T.ravel().astype(np.int32),
            )

    return src.mapInArrow(keys, schema="vec_id long, list_id int")


def cluster_near_dup_pairs(
    df: DataFrame,
    centroids: np.ndarray,
    tau: float,
    metric: str = D.COSINE,
    assign_m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 100_000,
    assign_metric: str | None = None,
) -> DataFrame:
    """IVF-cluster-bucketed near-dup pairs: the index's own coarse
    quantizer as the blocking function. Candidates are pairs sharing any
    of their ``assign_m`` nearest-centroid buckets (equi-join on list_id),
    verified exactly before emission — the same
    candidate→dedup→verify shape as ``lsh_near_dup_pairs`` but with
    DATA-ADAPTIVE buckets (trained centroids follow density; random
    hyperplanes don't) and zero extra index artifacts when an IVF index
    already exists.

    Scale posture: with the IVF discipline nlist ~ sqrt(n), a bucket is
    ~sqrt(n) members and total candidates ~n^1.5/2 — sub-quadratic but
    coarser than LSH at the same recall; prefer this when the corpus is
    already IVF-indexed (the assignment is the index's routing pass) and
    recall matters more than candidate volume. ``max_bucket_size`` drops
    degenerate buckets whole, same guard as the LSH/SimHash generators.

    ``assign_metric`` is the BUCKETING metric (defaults to the verify
    ``metric``, so blocking follows the same geometry the verification
    scores — a cosine-metric index routes by cosine). Pass ``D.L2``
    explicitly to block with an L2-trained quantizer while verifying
    another metric (e.g. reusing an existing L2 IVF routing pass).
    """
    keyed = cluster_assign_keys(
        df, centroids, assign_m, assign_metric or metric, id_col, vec_col
    )
    from ..util import bucket_candidate_pairs

    cand = bucket_candidate_pairs(
        keyed, ["list_id"], "vec_id", "vec_id_a", "vec_id_b", max_bucket_size
    )
    return exact_verify_pairs(df, cand, tau, metric, id_col, vec_col)


def label_separation_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label cluster-quality stats over an embedding column: intra-class
    spread vs nearest-other-centroid distance (a Davies-Bouldin-style
    separation signal for curation — labels whose ratio nears 1 are
    blending into a neighbor and need relabeling or filtering).

    All JVM expressions: posexplode to (label, dim, value), centroids by
    map-side-combined avg, per-vector distance via a BROADCAST join of the
    (labels x dims)-sized centroid table back onto the exploded values
    (small by construction), centroid-pair distances from an equi-join on
    dim. Scales in the corpus dimension; labels x dims stays driver-free
    but must fit a broadcast (true for any labeling scheme worth the name).

    Returns (label, n_vecs, intra_mean, nearest_label, inter_dist,
    separation_ratio = intra_mean / inter_dist).
    """
    ex = df.select(
        F.col(label_col),
        F.col(id_col),
        F.posexplode(vec_col).alias("i", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    cent = ex.groupBy(label_col, "i").agg(F.avg("v").alias("c"))
    per_vec = (
        ex.join(F.broadcast(cent), [label_col, "i"])
        .groupBy(id_col, label_col)
        .agg(
            F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias(
                "d2"
            )
        )
    )
    intra = per_vec.groupBy(label_col).agg(
        F.count("*").alias("n_vecs"),
        F.avg(F.sqrt("d2")).alias("intra_mean"),
    )
    ca = cent.select(F.col(label_col).alias("la"), "i", F.col("c").alias("cla"))
    cb = cent.select(F.col(label_col).alias("lb"), "i", F.col("c").alias("clb"))
    inter = (
        ca.join(cb, "i")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("cla") - F.col("clb")) * (F.col("cla") - F.col("clb"))
                )
            ).alias("inter_dist")
        )
    )
    nearest = (
        inter.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("la").orderBy(
                    F.col("inter_dist").asc(), F.col("lb").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("la").alias(label_col),
            F.col("lb").alias("nearest_label"),
            "inter_dist",
        )
    )
    return intra.join(nearest, label_col).select(
        label_col,
        "n_vecs",
        "intra_mean",
        "nearest_label",
        "inter_dist",
        (F.col("intra_mean") / F.col("inter_dist")).alias("separation_ratio"),
    )


def embedding_shift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension distribution shift between two embedding snapshots
    (old crawl vs new crawl, train vs holdout): means, sample variances,
    and the standardized mean difference |ma-mb|/sqrt((va+vb)/2) — the
    alarm that fires when a new data drop doesn't look like the corpus
    the index/model was built on.

    Two map-side-combined aggregations (one per side) on posexploded
    values, joined on dimension — corpus-scale work is two passes, the
    join is dims-sized.
    """

    def moments(df, tag):
        return (
            df.select(F.posexplode(vec_col).alias("pos0", "v"))
            .select((F.col("pos0") + 1).alias("pos"), F.col("v").cast("double"))
            .groupBy("pos")
            .agg(
                F.count("*").alias(f"n_{tag}"),
                F.avg("v").alias(f"mean_{tag}"),
                F.var_samp("v").alias(f"var_{tag}"),
            )
        )
    a = moments(df_a, "a")
    b = moments(df_b, "b")
    smd = F.abs(F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        (F.col("var_a") + F.col("var_b")) / 2.0
    )
    return a.join(b, "pos").select(
        "pos", "n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b",
        smd.alias("smd"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids: np.ndarray,
    tau: float,
    metric: str = D.COSINE,
    assign_m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: "int | None" = 100_000,
    assign_metric: "str | None" = None,
    pairs: "DataFrame | None" = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023): find
    embedding-space near-duplicate GROUPS via the cluster-blocked pair
    generator, resolve them transitively (connected components), and keep
    ONE representative per group — the canonical (minimum-id) member, the
    same deterministic survivor rule as text ``resolve_duplicates``.

    Returns one row per input id: ``{id_col, component, keep}`` where
    ``component`` is the group's canonical id (own id for singletons) and
    ``keep`` marks the survivor — filter ``keep`` to materialize the
    semantically-deduplicated corpus, or group by ``component`` for
    cluster audits.

    Scale shape: pairs come sub-quadratically from the coarse-quantizer
    blocking (``cluster_near_dup_pairs`` — the index's own routing pass),
    components from the hybrid union-find/pointer-jumping resolver (the
    pair graph is orders of magnitude smaller than the corpus), and the
    final labeling is one left join — no stage touches all-pairs.

    ``pairs`` — bring-your-own candidate edges ({vec_id_a, vec_id_b, ...}
    as ``cluster_near_dup_pairs`` emits): callers that already computed
    the pair graph (a near-dup audit, a cached catalog row) skip the
    generation pass entirely; the blocking params are ignored."""
    from . import dedup

    if pairs is None:
        pairs = cluster_near_dup_pairs(
            df,
            centroids,
            tau,
            metric=metric,
            assign_m=assign_m,
            id_col=id_col,
            vec_col=vec_col,
            max_bucket_size=max_bucket_size,
            assign_metric=assign_metric,
        )
    comp = dedup.connected_components(
        pairs, id_a="vec_id_a", id_b="vec_id_b"
    ).select(F.col("doc_id").alias(id_col), "component")
    labeled = df.select(id_col).join(comp, id_col, "left")
    component = F.coalesce(F.col("component"), F.col(id_col))
    return labeled.select(
        id_col,
        component.alias("component"),
        (F.col(id_col) == component).alias("keep"),
    )
