"""The declared canonical query catalog (SURVEY.md §2.7 Q1-Q12 + the
LLM-pipeline extension queries).

Each entry pairs a Spark implementation (DataFrame API, exercising the real
engine operators) with an ANSI/DuckDB oracle SQL string over the same
parquet views. Contract discipline for cross-engine hash-matching:

- all float math in DOUBLE; every float output column ROUND(x, 6)
  (money ROUND(x, 2));
- ranking/LIMIT always on the RAW (unrounded) value with an id tiebreaker,
  rounding applied only to the emitted column — so the selected row set
  cannot differ between engines at a rounding boundary;
- identical output column names and dtypes on both sides.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import distance as D
from ..operators import knn
from ..sources import tables


@dataclass(frozen=True)
class QuerySpec:
    name: str
    description: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> driver does a rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, description: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, description, fn, oracle)
        return fn

    return deco


# Shared oracle CTE: embeddings unnested with 1-based position, DOUBLE.
UN_EMB = (
    "un AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos, "
    "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)"
)


# ---------------------------------------------------------------------------
# Q1: scan + filter + project (validation/read path V1/F2)
# ---------------------------------------------------------------------------
@query(
    "q1_scan_filter",
    "lineitem scan with pushed-down filter and pruned projection",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_quantity > 45
        ORDER BY l_orderkey, l_linenumber
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Q2-Q4: exact top-k scan (T1) under the three metrics (S1-S3)
# ---------------------------------------------------------------------------
def _knn_single_query(spark, sf_dir, metric):
    emb = tables.load(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    res = knn.exact_knn(corpus, qdf, k=10, metric=metric)
    return res.select(
        F.col("id").alias("vec_id"), F.round("distance", 6).alias("dist")
    ).orderBy("dist", "vec_id")


def _metric_oracle(dist_sql: str) -> str:
    return f"""
        WITH {UN_EMB},
        qun AS (SELECT pos, v AS qv FROM un WHERE vec_id = 0),
        d AS (
            SELECT a.vec_id, {dist_sql} AS dist_raw
            FROM un a JOIN qun ON a.pos = qun.pos
            WHERE a.vec_id <> 0
            GROUP BY a.vec_id
        )
        SELECT vec_id, ROUND(dist_raw, 6) AS dist
        FROM d ORDER BY dist_raw, vec_id LIMIT 10
    """


@query(
    "q2_knn_l2",
    "exact 10-NN of vec_id=0, squared L2 (S1/T1 semantics)",
    oracle=_metric_oracle("SUM((a.v - qun.qv) * (a.v - qun.qv))"),
)
def q2(spark, sf_dir):
    return _knn_single_query(spark, sf_dir, D.L2)


@query(
    "q3_knn_ip",
    "exact 10-NN of vec_id=0, negated inner product (S2)",
    oracle=_metric_oracle("-SUM(a.v * qun.qv)"),
)
def q3(spark, sf_dir):
    return _knn_single_query(spark, sf_dir, D.INNER_PRODUCT)


@query(
    "q4_knn_cosine",
    "exact 10-NN of vec_id=0, cosine distance (S3, correct GPU-kernel semantics)",
    oracle=_metric_oracle(
        "1 - SUM(a.v * qun.qv) / "
        "(SQRT(SUM(a.v * a.v)) * SQRT(SUM(qun.qv * qun.qv)) + 1e-8)"
    ),
)
def q4(spark, sf_dir):
    return _knn_single_query(spark, sf_dir, D.COSINE)


# ---------------------------------------------------------------------------
# Q5 + Q8: coarse-quantizer assignment (T2/B3) and one Lloyd mean-update (B2)
# Centroids are the 10 per-label position-wise means so both engines can
# derive them deterministically (FIXTURES.md §2) — no RNG in the oracle.
# ---------------------------------------------------------------------------
_ASSIGN_ORACLE_CTES = f"""
        WITH {UN_EMB},
        cent AS (
            SELECT e.label AS list_id, u.pos, AVG(u.v) AS c
            FROM embeddings e
            JOIN un u ON u.vec_id = e.vec_id
            GROUP BY e.label, u.pos
        ),
        dist AS (
            SELECT u.vec_id, cent.list_id, SUM((u.v - cent.c) * (u.v - cent.c)) AS d2
            FROM un u JOIN cent ON u.pos = cent.pos
            GROUP BY u.vec_id, cent.list_id
        ),
        assign AS (
            SELECT vec_id, list_id FROM (
                SELECT vec_id, list_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rn
                FROM dist) t
            WHERE rn = 1
        )
"""


def _assigned_embeddings(spark, sf_dir):
    from ..operators import kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    C = kmeans.label_centroids(emb)
    return kmeans.assign(emb, C, vec_col="embedding", out_col="list_id")


@query(
    "q5_assign_counts",
    "coarse-quantizer assignment to per-label mean centroids, bucket sizes (T2/B3)",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        SELECT CAST(list_id AS INTEGER) AS list_id, COUNT(*) AS cnt
        FROM assign GROUP BY list_id ORDER BY list_id
    """,
)
def q5(spark, sf_dir):
    return (
        _assigned_embeddings(spark, sf_dir)
        .groupBy("list_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy("list_id")
    )


@query(
    "q8_lloyd_update",
    "one Lloyd mean-update step over the Q5 assignment (B2)",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        SELECT CAST(a.list_id AS INTEGER) AS list_id,
               CAST(u.pos AS INTEGER) AS pos,
               ROUND(AVG(u.v), 6) AS c
        FROM assign a JOIN un u ON a.vec_id = u.vec_id
        GROUP BY a.list_id, u.pos
        ORDER BY a.list_id, u.pos LIMIT 200
    """,
)
def q8(spark, sf_dir):
    assigned = _assigned_embeddings(spark, sf_dir)
    return (
        assigned.select("list_id", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("list_id", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
        .orderBy("list_id", "pos")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Q6: per-group top-k via window (T1/T4 ranking shape)
# ---------------------------------------------------------------------------
@query(
    "q6_topk_per_group",
    "top-3 orders by totalprice per customer (window top-k, T4 tiebreak discipline)",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
            FROM orders) t
        WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 100
    """,
)
def q6(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q7: dedup-by-key count (T4 dedup semantics)
# ---------------------------------------------------------------------------
@query(
    "q7_distinct_count",
    "distinct (l_orderkey, l_suppkey) pair count — T4 dedup-by-id analog",
    oracle="""
        SELECT COUNT(*) AS cnt FROM (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) t
    """,
)
def q7(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_suppkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Q9: aggregation layer (V7-style metrics agg / TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@query(
    "q9_agg_pricing",
    "pricing summary by returnflag/linestatus (map-side-combinable agg)",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS cnt
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q9(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q10: join results to metadata (broadcast dim join)
# ---------------------------------------------------------------------------
@query(
    "q10_join_metadata",
    "customer x nation broadcast join + agg (results-to-metadata join shape)",
    oracle="""
        SELECT n_name, COUNT(*) AS cnt, ROUND(SUM(c_acctbal), 2) AS acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
    """,
)
def q10(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    n = tables.load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Q12: events tumbling window (batch-equivalent of the streaming surface)
# ---------------------------------------------------------------------------
@query(
    "q12_events_hourly",
    "hourly tumbling-window counts/sums over events (streaming batch-equivalent)",
    oracle="""
        SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
               event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q12(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "hour_bucket", F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("long")
        )
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour_bucket", "event_type")
    )


# ---------------------------------------------------------------------------
# Flagship: batched multi-query cosine top-k (the serving hot path T1+T4,
# set-at-a-time — the reference loops queries serially,
# engine/ivf_flat_index.cpp:214; Spark does the whole batch in one job)
# ---------------------------------------------------------------------------
@query(
    "ann_cosine_topk",
    "batched exact cosine top-5 for 5 query vectors (flagship search path)",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, a.vec_id,
                   1 - SUM(a.v * q.qv) /
                       (SQRT(SUM(a.v * a.v)) * SQRT(SUM(q.qv * q.qv)) + 1e-8)
                   AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def ann_cosine_topk(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    res = knn.exact_knn(corpus, qdf, k=5, metric=D.COSINE)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# IVF index build + search end-to-end (B1-B4 + T2-T4). Full probe
# (nprobe = nlist) is EXACT by construction, so it gets a SQL oracle; the
# partial-probe recall query is approximate -> rows-only check.
# ---------------------------------------------------------------------------
# One build per (sf_dir, metric) per process: the epoch lifecycle exists so
# that searches hit the ACTIVE epoch instead of rebuilding (F5 semantics,
# format/storage.cpp:318-375) — the fullprobe/recall/PQ queries below are
# searches against that shared build, exactly as they would be in serving.
_INDEX_CACHE: dict[tuple, object] = {}


def _scratch_dir(prefix: str) -> str:
    """A fresh temp directory for a catalog row's index or export, removed
    at process exit: not sooner, because ``_INDEX_CACHE`` keeps handles
    over it across rows, and a returned plan reads it lazily."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def _build_emb_index(spark, sf_dir, name, metric):
    from ..operators import ivf, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    key = (sf_dir, metric)
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        init = kmeans.label_centroids(emb)
        idx = ivf.IVFIndex.build(
            corpus,
            _scratch_dir("cavde_idx_"),
            name,
            nlist=init.shape[0],
            metric=metric,
            init=init,
            train=False,
        )
        _INDEX_CACHE[key] = idx
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return idx, corpus, qdf


def _build_half_chain(spark, sf_dir):
    """Shared fixture for the O(delta) maintenance rows (r12 verdict #5 —
    fixture amortization): ONE even-half base epoch + ONE odd-half delta
    epoch, built once per process. index_delete_tombstones /
    index_pq_delta_codes / index_sq_delta_codes previously each rebuilt
    this identical chain in their own tmp dir (3x the base assign+write
    and 3x the delta write for byte-identical fixtures).

    Order-independence holds because each consumer only APPENDS its own
    artifact kind to the immutable chain: the PQ row encodes pq codes,
    the SQ row sq codes (different sidecar dirs + manifest fields on the
    same epochs — no collision), and the delete row writes its own
    tombstone epoch (activate=False, so the shared tip never moves).
    None of the three results reads another row's artifact; the
    ordering-independence test in tests/test_plans.py covers the trio."""

    from ..operators import ivf, kmeans

    key = (sf_dir, "half_chain")
    got = _INDEX_CACHE.get(key)
    if got is None:
        emb = tables.load(spark, sf_dir, "embeddings")
        corpus = emb.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        )
        init = kmeans.label_centroids(emb)
        base = ivf.IVFIndex.build(
            corpus.filter(F.col("id") % 2 == 0),
            _scratch_dir("cavde_idx_half_"),
            "q_half_chain",
            nlist=init.shape[0],
            metric=D.L2,
            init=init,
            train=False,
        )
        delta = base.add(corpus.filter(F.col("id") % 2 == 1))
        got = (base, delta)
        _INDEX_CACHE[key] = got
    return got


@query(
    "ivf_search_fullprobe",
    "epoch build + IVF search at nprobe=nlist (exact by completeness), L2 top-10",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def ivf_search_fullprobe(spark, sf_dir):
    idx, _, qdf = _build_emb_index(spark, sf_dir, "q_ivf_full", D.L2)
    res = idx.search(qdf, k=10, nprobe=idx.manifest.nlist)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


@query(
    "ivf_search_filtered",
    "filtered ANN (beyond the reference — its proto has no filter field): "
    "fullprobe IVF search restricted to id % 3 = 0 by a predicate applied "
    "inside the pruned index scan (pushed to the parquet reader); exact by "
    "completeness, so the oracle is the same SQL top-k with a WHERE",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            WHERE a.vec_id % 3 = 0
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def ivf_search_filtered_q(spark, sf_dir):
    idx, _, qdf = _build_emb_index(spark, sf_dir, "q_ivf_full", D.L2)
    res = idx.search(qdf, k=10, nprobe=idx.manifest.nlist, where="id % 3 = 0")
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


@query(
    "ivf_rerank_fullprobe",
    "rerank_exact on IVF-Flat (declared-flag parity, proto/vdb.proto:22): "
    "full-probe search + exact join-back rerank must equal exact top-10 "
    "(re-scoring exact distances is a semantic identity)",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def ivf_rerank_fullprobe(spark, sf_dir):
    idx, _, qdf = _build_emb_index(spark, sf_dir, "q_ivf_rr", D.L2)
    res = idx.search(
        qdf, k=10, nprobe=idx.manifest.nlist, rerank_exact=True, rerank_k=30
    )
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


@query(
    "ivf_recall_nprobe2",
    "IVF search at nprobe=2 scored against the exact oracle (T8 recall@10). "
    "The partial probe is DETERMINISTIC given the label centroids — probe "
    "ranking, pruned scan, and recall are all recomputed exactly in SQL",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        , qprobe AS (
            SELECT vec_id AS query_id, list_id FROM (
                SELECT vec_id, list_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, list_id) AS rn
                FROM dist WHERE vec_id < 5) t
            WHERE rn <= 2
        ),
        cand AS (
            SELECT qp.query_id, a.vec_id
            FROM qprobe qp JOIN assign a ON a.list_id = qp.list_id
        ),
        cdist AS (
            SELECT c.query_id, c.vec_id,
                   SUM((av.v - qv.v) * (av.v - qv.v)) AS d2
            FROM cand c
            JOIN un av ON av.vec_id = c.vec_id
            JOIN un qv ON qv.vec_id = c.query_id AND qv.pos = av.pos
            GROUP BY c.query_id, c.vec_id
        ),
        approx10 AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d2, vec_id) AS rn
                FROM cdist) t
            WHERE rn <= 10
        ),
        edist AS (
            SELECT qv.vec_id AS query_id, av.vec_id,
                   SUM((av.v - qv.v) * (av.v - qv.v)) AS d2
            FROM un av
            JOIN (SELECT * FROM un WHERE vec_id < 5) qv ON qv.pos = av.pos
            GROUP BY qv.vec_id, av.vec_id
        ),
        exact10 AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d2, vec_id) AS rn
                FROM edist) t
            WHERE rn <= 10
        )
        SELECT e.query_id,
               ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS recall
        FROM exact10 e
        LEFT JOIN approx10 a
          ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def ivf_recall(spark, sf_dir):
    from ..metrics import recall_at_k

    idx, corpus, qdf = _build_emb_index(spark, sf_dir, "q_ivf_recall", D.L2)
    approx = idx.search(qdf, k=10, nprobe=2)
    exact = knn.exact_knn(corpus, qdf, k=10, metric=D.L2)
    return recall_at_k(approx, exact).select(
        "query_id", F.round("recall", 6).alias("recall")
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Range (radius) search — a verb the reference's top-k-only proto lacks
# (proto/vdb.proto:16-23) but standard for vector stores. The radius is
# derived from the data (midpoint of query 0's 20th/21st neighbor distances)
# so the query is stable across testdata regenerations; the midpoint falls in
# an inter-neighbor gap, keeping boundary membership insensitive to
# engine-level float summation order.
# ---------------------------------------------------------------------------
_RANGE_RADIUS_SQL = """
        rk AS (
            SELECT dist_raw, ROW_NUMBER() OVER (ORDER BY dist_raw, vec_id) AS rn
            FROM d WHERE query_id = 0
        ),
        rad AS (
            SELECT (MAX(CASE WHEN rn = 20 THEN dist_raw END)
                  + MAX(CASE WHEN rn = 21 THEN dist_raw END)) / 2.0 AS radius
            FROM rk WHERE rn IN (20, 21)
        )
        SELECT d.query_id, d.vec_id, ROUND(d.dist_raw, 6) AS dist
        FROM d, rad WHERE d.dist_raw <= rad.radius
        ORDER BY d.query_id, dist, d.vec_id
"""


def _range_radius(spark, sf_dir) -> float:
    """Midpoint of query 0's 20th/21st exact L2-squared neighbor distances
    (self included at rank 1) — both engines derive the identical boundary."""
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    nn = knn.exact_knn(corpus, q0, k=21, metric=D.L2)
    d = {r["rank"]: r["distance"] for r in nn.filter(F.col("rank") >= 20).collect()}
    return (d[20] + d[21]) / 2.0


@query(
    "range_search_l2",
    "exact radius search: all vectors within the derived L2-squared radius "
    "of queries 0-2 (brute-force scan path, knn.range_search)",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 3),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        {_RANGE_RADIUS_SQL}
    """,
)
def range_search_l2_q(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = knn.range_search(corpus, qdf, _range_radius(spark, sf_dir), metric=D.L2)
    return res.select(
        "query_id",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "dist", "vec_id")


@query(
    "ivf_range_search",
    "radius search through the IVF layout with covering-radius list pruning "
    "(triangle-inequality exact — results equal brute force bit-for-bit)",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        {_RANGE_RADIUS_SQL}
    """,
)
def ivf_range_search_q(spark, sf_dir):
    idx, _, qdf = _build_emb_index(spark, sf_dir, "q_ivf_full", D.L2)
    res = idx.range_search(qdf, _range_radius(spark, sf_dir))
    return res.select(
        "query_id",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "dist", "vec_id")


# ---------------------------------------------------------------------------
# Snapshot save/load (sources/snapshot.py) — the reference declares
# save/load (ivf_flat_index.h:62-66) but never implements them. The query
# exports the shared build to a portable snapshot, imports it into a FRESH
# index dir, and searches the imported epoch at full probe: results must
# equal the exact SQL top-k, proving the roundtrip preserved ids, vectors,
# assignments, and centroids.
# ---------------------------------------------------------------------------
@query(
    "index_snapshot_roundtrip",
    "export epoch -> portable Arrow snapshot -> import as fresh index -> "
    "full-probe top-10 equals exact SQL (save/load verb, "
    "ivf_flat_index.h:62-66 declared-only)",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def index_snapshot_roundtrip_q(spark, sf_dir):
    from ..sources import snapshot

    idx, _, qdf = _build_emb_index(spark, sf_dir, "q_ivf_full", D.L2)
    key = (sf_dir, "snapshot_rt")
    imported = _INDEX_CACHE.get(key)
    if imported is None:
        snap_dir = _scratch_dir("cavde_snap_") + "/snap"
        snapshot.export_epoch(idx, snap_dir)
        imported = snapshot.import_snapshot(
            spark, snap_dir, _scratch_dir("cavde_snap_idx_"), "snap_rt"
        )
        _INDEX_CACHE[key] = imported
    res = imported.search(qdf, k=10, nprobe=imported.manifest.nlist)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Shard merge (service.merge_index, FAISS IndexIVF::merge_from semantics;
# no reference analog — its shards never merge). Two indexes are built
# independently over disjoint id halves, then src folds into dst as one
# O(|src|) delta epoch against dst's quantizer. Full-probe search over
# the merged index is exact by completeness, so the whole
# build+build+merge+search chain value-matches the brute-force SQL top-k
# over the UNION (= the whole embeddings table).
# ---------------------------------------------------------------------------
@query(
    "index_merge_search",
    "two shard indexes over disjoint id halves merged via one delta epoch "
    "(service.merge_index); full-probe top-10 over the merged index "
    "equals exact SQL over the union corpus",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a JOIN q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def index_merge_search_q(spark, sf_dir):
    from ..service import VectorEngine

    emb = tables.load(spark, sf_dir, "embeddings")
    key = (sf_dir, "merge_engine")
    eng = _INDEX_CACHE.get(key)
    if eng is None:
        from concurrent.futures import ThreadPoolExecutor

        root = _scratch_dir("cavde_idx_merge_")
        # one job for both probes instead of first() + count() (r15)
        dim, cnt = emb.agg(
            F.first(F.size("embedding")), F.count("*")
        ).first()
        cut = cnt // 2
        halves = {
            "shard_a": F.col("vec_id") < cut,
            "shard_b": F.col("vec_id") >= cut,
        }
        eng = VectorEngine(spark, f"{root}/data")

        def build_shard(item):
            # the two shard builds are independent (disjoint index names,
            # roots, sources); overlapping them lets shard_b's jobs
            # back-fill the tail of shard_a's stages (guide §2.6)
            name, pred = item
            emb.filter(pred).select(
                F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
            ).write.parquet(f"{root}/{name}_src")
            eng.create_index(name, dim, metric="l2", nlist=8)
            ep = eng.build_epoch(name, f"{root}/{name}_src", seed=7, max_iter=2)
            eng.activate_epoch(name, ep)

        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(build_shard, halves.items()))
        eng.merge_index("shard_a", "shard_b", activate=True)
        eng.load_index("shard_a")
        _INDEX_CACHE[key] = eng
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = eng.search("shard_a", qdf, topk=10, nprobe=8)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# PCA (operators/pca.py): the distributed moments/covariance pass is exact
# and value-matched against SQL; the eigendecomposition itself is driver
# numpy (no SQL analog), so the projection query pins the invariants every
# correct PCA must satisfy — orthonormal components, variance-descending
# eigenvalues, projected-data variance equal to the eigenvalue.
# ---------------------------------------------------------------------------
@query(
    "pca_covariance",
    "distributed single-pass sample covariance of the first 8 embedding "
    "dimensions (the moments pass PCA trains on), value-matched in SQL",
    oracle=f"""
        WITH {UN_EMB},
        cov AS (
            SELECT a.pos AS pi, b.pos AS pj,
                   (SUM(a.v * b.v) - COUNT(*) * (AVG(a.v) * AVG(b.v)))
                       / (COUNT(*) - 1) AS c
            FROM un a JOIN un b ON a.vec_id = b.vec_id AND a.pos <= b.pos
            WHERE a.pos <= 8 AND b.pos <= 8
            GROUP BY a.pos, b.pos
        )
        SELECT CAST(pi - 1 AS INTEGER) AS i, CAST(pj - 1 AS INTEGER) AS j,
               ROUND(c, 6) AS cov
        FROM cov ORDER BY i, j
    """,
)
def pca_covariance_q(spark, sf_dir):
    from ..operators import pca

    emb = tables.load(spark, sf_dir, "embeddings")
    _mean, C, _n = pca.covariance(emb, vec_col="embedding")
    rows = [
        (i, j, round(float(C[i, j]), 6))
        for i in range(8)
        for j in range(i, 8)
    ]
    return spark.createDataFrame(rows, "i int, j int, cov double").orderBy("i", "j")


@query(
    "pca_project_invariants",
    "PCA fit (k=8) + distributed projection: per-component orthonormality, "
    "variance-descending order, and projected-variance == eigenvalue as "
    "hard-checkable booleans (eigenvectors have no SQL analog)",
    oracle="""
        SELECT CAST(vec_id AS INTEGER) AS component,
               TRUE AS norm_ok,
               TRUE AS var_descending_ok,
               TRUE AS proj_var_matches_eigenvalue
        FROM embeddings WHERE vec_id < 8 ORDER BY component
    """,
)
def pca_project_invariants_q(spark, sf_dir):
    import numpy as np

    from ..operators import pca

    emb = tables.load(spark, sf_dir, "embeddings")
    src = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    model = pca.train_pca(src, n_components=8)
    proj = pca.transform(src, model)
    # distributed per-component sample variance of the projected data
    variances = (
        proj.select(
            *[F.var_samp(F.col("pca")[i]).alias(f"v{i}") for i in range(8)]
        )
        .collect()[0]
    )
    ev = model.explained_variance
    norms = np.linalg.norm(model.components, axis=1)
    rows = []
    for i in range(8):
        rows.append(
            (
                i,
                bool(abs(norms[i] - 1.0) < 1e-9),
                bool(i == 0 or ev[i] <= ev[i - 1] + 1e-12),
                bool(abs(variances[i] - ev[i]) <= 1e-6 * max(1.0, abs(ev[i]))),
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, norm_ok boolean, var_descending_ok boolean, "
        "proj_var_matches_eigenvalue boolean",
    ).orderBy("component")


# ---------------------------------------------------------------------------
# Hybrid retrieval (operators/hybrid.py): keyword (inverted-index IDF) +
# vector (exact L2 over the doc-linked embeddings) branches fused by
# reciprocal-rank fusion. Queries are "more-like-this" on docs 0-2: keyword
# text AND query vector both come from the query doc, the realistic hybrid
# shape. The oracle replicates both branch rankings and the fusion.
# ---------------------------------------------------------------------------
@query(
    "hybrid_rrf_search",
    "hybrid more-like-this: IDF-weighted keyword top-20 + exact-L2 vector "
    "top-20 over doc-linked embeddings, fused by RRF(60) to top-10",
    oracle=f"""
        WITH {UN_EMB},
        dt AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
                FROM documents)
        ),
        idf AS (
            SELECT token,
                   LN(((SELECT COUNT(*) FROM documents) + 1.0)
                      / (COUNT(*) + 1.0)) AS idf
            FROM dt GROUP BY token
        ),
        qt AS (SELECT doc_id AS query_id, token FROM dt WHERE doc_id < 3),
        kw AS (
            SELECT qt.query_id, dt.doc_id AS id, SUM(idf.idf) AS s
            FROM qt JOIN dt USING (token) JOIN idf USING (token)
            GROUP BY qt.query_id, dt.doc_id
        ),
        kwr AS (
            -- rank on the ROUNDED score (see hybrid.keyword_topk: exact
            -- mathematical ties are common in IDF sums; rounding collapses
            -- them onto the id tiebreak identically in both engines)
            SELECT query_id, id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(s, 6) DESC, id) AS rnk
            FROM kw
        ),
        qv AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 3),
        vd AS (
            SELECT qv.query_id, a.vec_id AS id,
                   SUM((a.v - qv.qv) * (a.v - qv.qv)) AS dist
            FROM un a JOIN qv ON a.pos = qv.pos
            WHERE a.vec_id IN (SELECT doc_id FROM documents)
            GROUP BY qv.query_id, a.vec_id
        ),
        vr AS (
            SELECT query_id, id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dist, id) AS rnk
            FROM vd
        ),
        uni AS (
            SELECT query_id, id, rnk FROM kwr WHERE rnk <= 20
            UNION ALL
            SELECT query_id, id, rnk FROM vr WHERE rnk <= 20
        ),
        rrf AS (
            SELECT query_id, id, SUM(1.0 / (60 + rnk)) AS score
            FROM uni GROUP BY query_id, id
        ),
        fr AS (
            SELECT query_id, id, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, id) AS INTEGER)
                       AS rank
            FROM rrf
        )
        SELECT query_id, rank, id AS doc_id, ROUND(score, 6) AS rrf
        FROM fr WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def hybrid_rrf_search_q(spark, sf_dir):
    from ..operators import hybrid

    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")
    linked = emb.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    corpus = linked.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qvecs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    qtexts = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    kw = hybrid.keyword_topk(docs, qtexts, k=20)
    vec = knn.exact_knn(corpus, qvecs, k=20, metric=D.L2)
    fused = hybrid.rrf_fuse(
        [kw.select("query_id", "rank", "id"), vec.select("query_id", "rank", "id")],
        k=10,
    )
    return fused.select(
        "query_id",
        "rank",
        F.col("id").alias("doc_id"),
        F.round("score", 6).alias("rrf"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# retrieval_quality_metrics (r8): ranked-retrieval quality grading —
# nDCG@10 / MRR@10 / hit_rate@10 (metrics.ranking_quality_report) of the
# RRF-fused hybrid list against graded relevance derived from the exact-L2
# vector branch (rel 3 for exact ranks 1-3, 2 for 4-10, 1 for 11-20). The
# fused list interleaves keyword-only docs (rel 0), so the metrics are
# non-trivial; the whole rank-discount arithmetic (exponential gain, ideal
# DCG, reciprocal first-relevant rank) recomputes exactly in SQL. Folded
# into metrics_report_combo (native (metric, value) shape).
# ---------------------------------------------------------------------------
@query(
    "retrieval_quality_metrics",
    "ranking quality of the hybrid RRF top-10 vs exact-L2-derived graded "
    "relevance: macro ndcg@10 (Burges exponential gain), mrr@10, "
    "hit_rate@10 — the tuning-loop verb for BM25/RRF/MaxSim surfaces, "
    "value-matched to ROUND(6)",
    oracle=f"""
        WITH {UN_EMB},
        dt AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
                FROM documents)
        ),
        idf AS (
            SELECT token,
                   LN(((SELECT COUNT(*) FROM documents) + 1.0)
                      / (COUNT(*) + 1.0)) AS idf
            FROM dt GROUP BY token
        ),
        qt AS (SELECT doc_id AS query_id, token FROM dt WHERE doc_id < 3),
        kw AS (
            SELECT qt.query_id, dt.doc_id AS id, SUM(idf.idf) AS s
            FROM qt JOIN dt USING (token) JOIN idf USING (token)
            GROUP BY qt.query_id, dt.doc_id
        ),
        kwr AS (
            SELECT query_id, id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(s, 6) DESC, id) AS rnk
            FROM kw
        ),
        qv AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 3),
        vd AS (
            SELECT qv.query_id, a.vec_id AS id,
                   SUM((a.v - qv.qv) * (a.v - qv.qv)) AS dist
            FROM un a JOIN qv ON a.pos = qv.pos
            WHERE a.vec_id IN (SELECT doc_id FROM documents)
            GROUP BY qv.query_id, a.vec_id
        ),
        vr AS (
            SELECT query_id, id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dist, id) AS rnk
            FROM vd
        ),
        uni AS (
            SELECT query_id, id, rnk FROM kwr WHERE rnk <= 20
            UNION ALL
            SELECT query_id, id, rnk FROM vr WHERE rnk <= 20
        ),
        rrf AS (
            SELECT query_id, id, SUM(1.0 / (60 + rnk)) AS score
            FROM uni GROUP BY query_id, id
        ),
        fr AS (
            SELECT query_id, id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, id) AS rank
            FROM rrf
        ),
        rel AS (
            SELECT query_id, id,
                   CASE WHEN rnk <= 3 THEN 3.0
                        WHEN rnk <= 10 THEN 2.0
                        ELSE 1.0 END AS rel
            FROM vr WHERE rnk <= 20
        ),
        scored AS (
            SELECT f.query_id, f.rank, COALESCE(rel.rel, 0.0) AS rel
            FROM (SELECT * FROM fr WHERE rank <= 10) f
            LEFT JOIN rel ON f.query_id = rel.query_id AND f.id = rel.id
        ),
        perq AS (
            SELECT query_id,
                   SUM((POWER(2.0, rel) - 1.0) / LOG2(rank + 1.0)) AS dcg,
                   MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel
            FROM scored GROUP BY query_id
        ),
        irk AS (
            SELECT query_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, id) AS ir
            FROM rel
        ),
        ideal AS (
            SELECT query_id,
                   SUM((POWER(2.0, rel) - 1.0) / LOG2(ir + 1.0)) AS idcg
            FROM irk WHERE ir <= 10 GROUP BY query_id
        ),
        pq2 AS (
            SELECT p.query_id,
                   CASE WHEN COALESCE(i.idcg, 0) > 0
                        THEN p.dcg / i.idcg ELSE 0.0 END AS ndcg,
                   COALESCE(1.0 / p.first_rel, 0.0) AS mrr,
                   CASE WHEN p.first_rel IS NOT NULL
                        THEN 1.0 ELSE 0.0 END AS hit
            FROM perq p LEFT JOIN ideal i ON p.query_id = i.query_id
        )
        SELECT metric, ROUND(value, 6) + 0 AS value FROM (
            SELECT CAST('ndcg@10' AS VARCHAR) AS metric, AVG(ndcg) AS value
            FROM pq2
            UNION ALL
            SELECT CAST('mrr@10' AS VARCHAR), AVG(mrr) FROM pq2
            UNION ALL
            SELECT CAST('hit_rate@10' AS VARCHAR), AVG(hit) FROM pq2
        ) ORDER BY metric
    """,
)
def retrieval_quality_metrics_q(spark, sf_dir):
    from .. import metrics as M
    from ..operators import hybrid

    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")
    linked = emb.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    corpus = linked.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qvecs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    qtexts = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    kw = hybrid.keyword_topk(docs, qtexts, k=20)
    vec = knn.exact_knn(corpus, qvecs, k=20, metric=D.L2)
    fused = hybrid.rrf_fuse(
        [kw.select("query_id", "rank", "id"), vec.select("query_id", "rank", "id")],
        k=10,
    )
    relevance = vec.select(
        "query_id",
        "id",
        F.when(F.col("rank") <= 3, 3.0)
        .when(F.col("rank") <= 10, 2.0)
        .otherwise(1.0)
        .alias("rel"),
    )
    return (
        M.ranking_quality_report(
            fused.select("query_id", "rank", "id"), relevance, k=10
        )
        .select("metric", (F.round("value", 6) + F.lit(0.0)).alias("value"))
        .orderBy("metric")
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (operators/sq.py) — per-dim uint8 codes against
# trained [min, max] ranges. Unlike PQ (seeded k-means codebooks), SQ8 is a
# DETERMINISTIC function of the corpus, so the oracle replicates the full
# encode->decode->search pipeline in SQL and value-matches end-to-end.
# The quantization arithmetic below mirrors encode_batch_sq/decode_batch_sq
# operation-for-operation — keep them in lockstep.
# ---------------------------------------------------------------------------
_SQ_DECODE_CTES = f"""
        WITH {UN_EMB},
        rng AS (SELECT pos, MIN(v) AS vmin, MAX(v) AS vmax FROM un GROUP BY pos),
        dec AS (
            SELECT u.vec_id, u.pos,
                   rng.vmin + (CASE WHEN rng.vmax = rng.vmin THEN 0
                        ELSE FLOOR(LEAST(GREATEST(
                            (u.v - rng.vmin) / (rng.vmax - rng.vmin), 0), 1)
                            * 255 + 0.5) END)
                        * ((rng.vmax - rng.vmin) / 255.0) AS vhat
            FROM un u JOIN rng USING (pos)
        ),
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        d AS (
            SELECT q.query_id, dec.vec_id,
                   SUM((dec.vhat - q.qv) * (dec.vhat - q.qv)) AS dist_raw
            FROM dec JOIN q ON dec.pos = q.pos
            GROUP BY q.query_id, dec.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
"""


def _build_sq_index(spark, sf_dir):
    from ..operators import sq

    idx, _, qdf = _build_emb_index(spark, sf_dir, "q_ivf_full", D.L2)
    key = (sf_dir, "sq8")
    sq_idx = _INDEX_CACHE.get(key)
    if sq_idx is None:
        sq_idx = sq.IVFSQIndex.build_from_ivf(idx)
        _INDEX_CACHE[key] = sq_idx
    return sq_idx, qdf


@query(
    "sq8_topk",
    "SQ8 asymmetric search at full probe: top-10 by distance between raw "
    "queries and the decoded uint8-quantized corpus — the whole "
    "train/encode/decode/search pipeline value-matched in SQL",
    oracle=_SQ_DECODE_CTES
    + """
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def sq8_topk_q(spark, sf_dir):
    sq_idx, qdf = _build_sq_index(spark, sf_dir)
    res = sq_idx.search(qdf, k=10, nprobe=sq_idx.nlist)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


@query(
    "sq8_rerank",
    "SQ8 two-stage retrieval: quantized top-50 shortlist, then exact "
    "re-scoring against the raw vectors to top-10 — both stages replicated "
    "in SQL (shortlist membership AND final exact ranking)",
    oracle=_SQ_DECODE_CTES
    + """
        , short AS (SELECT query_id, vec_id FROM r WHERE rank <= 50),
        ed AS (
            SELECT s.query_id, s.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM short s
            JOIN un a ON a.vec_id = s.vec_id
            JOIN q ON q.query_id = s.query_id AND q.pos = a.pos
            GROUP BY s.query_id, s.vec_id
        ),
        er AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM ed
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM er WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def sq8_rerank_q(spark, sf_dir):
    sq_idx, qdf = _build_sq_index(spark, sf_dir)
    res = sq_idx.search(
        qdf, k=10, nprobe=sq_idx.nlist, rerank_exact=True, rerank_k=50
    )
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


@query(
    "pq_recall_rerank",
    "IVF-PQ ADC search (T5/T6) and exact rerank (T7): per-query recall "
    "floors + the rerank>=ADC dominance theorem as hard-checkable booleans "
    "(quantization recall itself is seeded-RNG-dependent, so the oracle "
    "pins the invariants every correct PQ implementation must satisfy)",
    oracle="""
        SELECT vec_id AS query_id,
               TRUE AS adc_floor_ok,
               TRUE AS rerank_floor_ok,
               TRUE AS rerank_not_worse
        FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
    """,
)
def pq_recall_rerank(spark, sf_dir):
    from ..metrics import recall_at_k
    from ..operators import pq as PQ

    idx, corpus, qdf = _build_emb_index(spark, sf_dir, "q_pq", D.L2)
    pq_key = (sf_dir, D.L2, "pq16x8")
    pq_idx = _INDEX_CACHE.get(pq_key)
    if pq_idx is None:
        pq_idx = PQ.IVFPQIndex.build_from_ivf(idx, m=16, nbits=8, seed=42)
        _INDEX_CACHE[pq_key] = pq_idx
    exact = knn.exact_knn(corpus, qdf, k=10, metric=D.L2)
    adc = pq_idx.search(qdf, k=10, nprobe=10)
    rr = pq_idx.search(qdf, k=10, nprobe=10, rerank_exact=True, rerank_k=50)
    r1 = recall_at_k(adc, exact).select(
        "query_id", F.col("recall").alias("recall_adc")
    )
    r2 = recall_at_k(rr, exact).select(
        "query_id", F.col("recall").alias("recall_rerank")
    )
    # floors hold with margin at sf0.01 (adc >= 0.7, rr = 1.0) and sf0.1
    # (adc >= 0.5, rr >= 0.8); rerank >= adc is exact (the reranked top-k
    # of a candidate superset can only gain ground-truth hits, never lose)
    return (
        r1.join(r2, "query_id")
        .select(
            "query_id",
            (F.col("recall_adc") >= 0.4).alias("adc_floor_ok"),
            (F.col("recall_rerank") >= 0.7).alias("rerank_floor_ok"),
            (F.col("recall_rerank") >= F.col("recall_adc")).alias("rerank_not_worse"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Q11 + dedup family (the LLM-pipeline extension, SURVEY.md §2.6)
# ---------------------------------------------------------------------------
NEAR_DUP_TAU = 1.15  # chosen once from sf0.01: 33 stable pairs below it

# DuckDB spelling of functions.text.quality_score_expr (kept in lockstep)
TXT_QUALITY_SQL = (
    "LEAST(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE length(regexp_split_to_array(trim(text), '\\s+')) END) / 100.0) "
    "* (1.0 - CASE WHEN length(text) = 0 THEN 0.0 "
    "ELSE CAST(length(regexp_replace(lower(text), '[a-z ]', '', 'g')) AS DOUBLE) "
    "/ length(text) END)"
)


@query(
    "q11_embedding_near_dup",
    "similarity self-join: all embedding pairs with squared-L2 < tau (T1, queries=corpus)",
    oracle=f"""
        WITH {UN_EMB},
        pairs AS (
            SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                   SUM((a.v - b.v) * (a.v - b.v)) AS d2
            FROM un a JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
            GROUP BY a.vec_id, b.vec_id
        )
        SELECT vec_id_a, vec_id_b, ROUND(d2, 6) AS d2
        FROM pairs WHERE d2 < {NEAR_DUP_TAU}
        ORDER BY vec_id_a, vec_id_b
    """,
)
def q11_near_dup(spark, sf_dir):
    from ..operators import dedup

    emb = tables.load(spark, sf_dir, "embeddings")
    return (
        dedup.embedding_near_dup_pairs(emb, tau=NEAR_DUP_TAU)
        .select("vec_id_a", "vec_id_b", F.round("d2", 6).alias("d2"))
        .orderBy("vec_id_a", "vec_id_b")
    )


@query(
    "dedup_exact_stats",
    "exact dedup summary via content fingerprint (hash-groupBy)",
    oracle="""
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_unique,
               COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_dup
        FROM documents
    """,
)
def dedup_exact_q(spark, sf_dir):
    from ..operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    return dedup.exact_dedup_stats(docs)


_JACCARD_ORACLE = """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
                   || ' ' || w[CAST(i AS INTEGER)+2] AS shingle
            FROM toks, LATERAL unnest(range(1, greatest(array_length(w) - 1, 1))) t(i)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b,
               ROUND(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
        FROM inter
        JOIN sizes na ON doc_id_a = na.doc_id
        JOIN sizes nb ON doc_id_b = nb.doc_id
        WHERE c * 1.0 / (na.n + nb.n - c) >= 0.3
        ORDER BY doc_id_a, doc_id_b
"""


@query(
    "dedup_ngram_jaccard",
    "exact 3-gram Jaccard near-dup pairs (threshold 0.3) over documents",
    oracle=_JACCARD_ORACLE,
)
def dedup_jaccard_q(spark, sf_dir):
    from ..operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    return (
        dedup.ngram_jaccard_pairs(docs, threshold=0.3, n=3)
        .select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")
    )


@query(
    "dedup_minhash_lsh",
    "MinHash-LSH (128 perms, 32x4 bands) + exact verify, threshold 0.3 — "
    "deterministic and validated against the exact-Jaccard oracle "
    "(planted dups are j>=0.9; P(LSH miss) ~ 1e-15)",
    oracle=_JACCARD_ORACLE,
)
def dedup_minhash_q(spark, sf_dir):
    from ..operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    return (
        dedup.minhash_dedup_pairs(docs, threshold=0.3, num_perm=128, bands=32, n=3)
        .select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")
    )


# Full value oracle for SimHash: the catalog query uses the portable md5
# token hash (first 16 md5 hex chars, big-endian) so DuckDB recomputes the
# signatures bit-for-bit, then checks pairs by xor+bit_count — the exact
# all-pairs ground truth the block-LSH must equal (pigeonhole completeness).
_SIMHASH_ORACLE = """
    WITH toks AS (
        SELECT doc_id, lower(unnest(
            CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                 ELSE regexp_split_to_array(trim(text), '\\s+') END)) AS tok
        FROM documents
    ),
    th AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        FROM toks
    ),
    bitsum AS (
        SELECT doc_id, b.i,
               SUM(CASE WHEN ((CASE WHEN b.i < 32 THEN lo ELSE hi END)
                              >> (b.i % 32)) & 1 = 1
                   THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) b
        GROUP BY doc_id, b.i
    ),
    sigs AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN
                    CASE WHEN i = 63 THEN -9223372036854775807 - 1
                         ELSE (1::BIGINT << CAST(i AS INTEGER)) END
                    ELSE 0 END) AS BIGINT) AS simhash
        FROM bitsum GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_id_a, doc_id_b
"""


@query(
    "dedup_simhash",
    "SimHash-64 near-dup pairs (Hamming <= 3) via block LSH, portable md5 "
    "token hash — oracle recomputes signatures bit-for-bit in SQL",
    oracle=_SIMHASH_ORACLE,
)
def dedup_simhash_q(spark, sf_dir):
    from ..operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    return (
        dedup.simhash_near_pairs(docs, max_hamming=3, token_hash="md5")
        .select(
            "doc_id_a", "doc_id_b", F.col("hamming").cast("int").alias("hamming")
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


# ---------------------------------------------------------------------------
# text analysis (tokenization, quality, fingerprints)
# ---------------------------------------------------------------------------
@query(
    "text_token_stats",
    "whitespace tokenization + per-lang token statistics",
    oracle="""
        SELECT lang,
               CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\\s+'))
                   END) AS BIGINT) AS total_tokens,
               ROUND(AVG(CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE length(regexp_split_to_array(trim(text), '\\s+'))
                         END), 6) AS avg_tokens,
               COUNT(*) AS cnt
        FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    from ..functions import text as TXT

    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.select("lang", TXT.token_count_expr("text").alias("tc"))
        .groupBy("lang")
        .agg(
            F.sum("tc").alias("total_tokens"),
            F.round(F.avg("tc"), 6).alias("avg_tokens"),
            F.count("*").alias("cnt"),
        )
        .orderBy("lang")
    )


@query(
    "text_quality_scores",
    "deterministic quality score (length saturation x alphabetic cleanliness), top 50",
    oracle=f"""
        SELECT doc_id, ROUND({TXT_QUALITY_SQL}, 6) AS quality
        FROM documents
        ORDER BY {TXT_QUALITY_SQL} DESC, doc_id LIMIT 50
    """,
)
def text_quality(spark, sf_dir):
    from ..functions import text as TXT

    docs = tables.load(spark, sf_dir, "documents")
    raw = TXT.quality_score_expr("text")
    return (
        docs.select("doc_id", raw.alias("q_raw"))
        .orderBy(F.col("q_raw").desc(), "doc_id")
        .limit(50)
        .select("doc_id", F.round("q_raw", 6).alias("quality"))
    )


@query(
    "text_bpe_token_stats",
    "BPE-ish regex token counting (subword pre-tokenization) per source",
    oracle="""
        SELECT source,
               CAST(SUM(len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]'))) AS BIGINT)
                   AS total_bpe_tokens,
               ROUND(AVG(len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]'))), 6)
                   AS avg_bpe_tokens,
               COUNT(*) AS cnt
        FROM documents GROUP BY source ORDER BY source
    """,
)
def text_bpe_tokens(spark, sf_dir):
    from ..functions import text as TXT

    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.select("source", TXT.bpe_token_count_expr("text").alias("tc"))
        .groupBy("source")
        .agg(
            F.sum("tc").cast("long").alias("total_bpe_tokens"),
            F.round(F.avg("tc"), 6).alias("avg_bpe_tokens"),
            F.count("*").alias("cnt"),
        )
        .orderBy("source")
    )


@query(
    "text_quality_filter",
    "pipeline quality gate: docs passing the quality threshold, counted per lang",
    oracle=f"""
        SELECT lang, COUNT(*) AS n_kept,
               ROUND(AVG({TXT_QUALITY_SQL}), 6) AS avg_quality
        FROM documents
        WHERE {TXT_QUALITY_SQL} >= 0.5
        GROUP BY lang ORDER BY lang
    """,
)
def text_quality_filter(spark, sf_dir):
    from ..functions import text as TXT
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    kept = textops.quality_filter(docs, min_score=0.5)
    return (
        kept.select("lang", TXT.quality_score_expr("text").alias("q"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@query(
    "ann_ip_normalized",
    "S4 normalize + negated-IP top-k == cosine ranking on the unit sphere "
    "(the documented PQ-cosine route)",
    oracle=f"""
        WITH {UN_EMB},
        nrm AS (
            SELECT vec_id, 1.0 / SQRT(SUM(v * v) + 1e-8) AS inv
            FROM un GROUP BY vec_id
        ),
        -- mirror S4 exactly: double multiply by the reciprocal, then a
        -- float32 round (the kernel keeps normalized vectors float,
        -- kernels.cuh:357-385) — so both engines sum identical float32s
        unit AS (
            SELECT u.vec_id, u.pos, CAST(CAST(u.v * nrm.inv AS REAL) AS DOUBLE) AS v
            FROM un u JOIN nrm ON u.vec_id = nrm.vec_id
        ),
        q AS (SELECT pos, v AS qv FROM unit WHERE vec_id = 7),
        d AS (
            SELECT a.vec_id, -SUM(a.v * q.qv) AS dist_raw
            FROM unit a JOIN q ON a.pos = q.pos
            WHERE a.vec_id <> 7
            GROUP BY a.vec_id
        )
        SELECT vec_id, ROUND(dist_raw, 6) AS dist
        FROM d ORDER BY dist_raw, vec_id LIMIT 10
    """,
)
def ann_ip_normalized(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    unit = emb.select(
        "vec_id", D.l2_normalize_expr("embedding").alias("nvec")
    )
    qdf = unit.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("nvec").alias("qvec")
    )
    corpus = unit.filter(F.col("vec_id") != 7).select(
        F.col("vec_id").alias("id"), F.col("nvec").alias("vector")
    )
    res = knn.exact_knn(corpus, qdf, k=10, metric=D.INNER_PRODUCT)
    return res.select(
        F.col("id").alias("vec_id"), F.round("distance", 6).alias("dist")
    ).orderBy("dist", "vec_id")


def _lang_id_oracle() -> str:
    """DuckDB spelling of lang_id_expr, generated from the SAME stopword
    lists (functions/text.py) so the two can never drift. Tie-break on equal
    hits: ascending language code (the CASE checks codes in sorted order)."""
    from ..functions.text import _LANG_STOPWORDS

    codes = sorted(_LANG_STOPWORDS)
    hit_cols = ", ".join(
        "len(list_filter(toks, t -> lower(t) IN ({}))) AS h_{}".format(
            ", ".join(f"'{w}'" for w in _LANG_STOPWORDS[c]), c
        )
        for c in codes
    )
    best = "greatest({})".format(", ".join(f"h_{c}" for c in codes))
    pick = " ".join(
        f"WHEN h_{c} = {best} THEN '{c}'" for c in codes[:-1]
    ) + f" ELSE '{codes[-1]}'"
    return f"""
        WITH base AS (
            SELECT doc_id, text,
                CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
            FROM documents
        ),
        scored AS (
            SELECT doc_id, text, len(toks) AS token_cnt,
                   {TXT_QUALITY_SQL} AS quality, {hit_cols},
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))
                             / CAST(length(text) AS DOUBLE) END AS cjk
            FROM base
        ),
        pred AS (
            SELECT token_cnt, quality,
                   CASE WHEN cjk > 0.2 THEN 'zh'
                        WHEN {best} > 0 THEN CASE {pick} END
                        ELSE 'und' END AS lang_pred
            FROM scored
        )
        SELECT lang_pred, COUNT(*) AS cnt,
               ROUND(AVG(token_cnt), 6) AS avg_tokens,
               ROUND(AVG(quality), 6) AS avg_quality
        FROM pred GROUP BY lang_pred ORDER BY lang_pred
    """


@query(
    "text_lang_id",
    "heuristic language ID (CJK ratio + stopword voting) distribution — "
    "fully deterministic, recomputed token-for-token by the SQL oracle",
    oracle=_lang_id_oracle(),
)
def text_lang_id(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    return textops.language_stats(docs)


# ---------------------------------------------------------------------------
# SQL surface: the same T1 search expressed in plain Spark SQL over
# registered views + registered distance UDFs (SURVEY.md §4: "register
# distance functions via spark.udf.register so the declared SQL queries can
# call l2_sq(a,b)") — proves a SQL-only user can run the engine's search.
# ---------------------------------------------------------------------------
@query(
    "sql_knn_l2",
    "pure-SQL 10-NN of vec_id=0 using the registered l2_sq UDF over a view",
    oracle=_metric_oracle("SUM((a.v - qun.qv) * (a.v - qun.qv))"),
)
def sql_knn_l2(spark, sf_dir):
    D.register_sql_functions(spark)
    tables.load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings_v")
    return spark.sql(
        """
        WITH q AS (SELECT embedding AS qvec FROM embeddings_v WHERE vec_id = 0),
        d AS (
            SELECT e.vec_id, l2_sq(e.embedding, q.qvec) AS dist_raw
            FROM embeddings_v e CROSS JOIN q
            WHERE e.vec_id <> 0
        )
        SELECT vec_id, ROUND(dist_raw, 6) AS dist
        FROM d ORDER BY dist_raw, vec_id LIMIT 10
        """
    )


# ---------------------------------------------------------------------------
# cosine near-dup (exact, blocked kernel) + LSH scale path (approximate)
# ---------------------------------------------------------------------------
COSINE_DUP_TAU = 0.55  # sf0.01: 14 pairs below; nearest value 0.5484 (safe margin)


@query(
    "dedup_embedding_cosine",
    "exact cosine near-dup pairs below tau via the blocked all-pairs kernel",
    oracle=f"""
        WITH {UN_EMB},
        norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM un GROUP BY vec_id),
        pairs AS (
            SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                   1 - SUM(a.v * b.v) / (na.nrm * nb.nrm + 1e-8) AS d2
            FROM un a
            JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
            JOIN norms na ON na.vec_id = a.vec_id
            JOIN norms nb ON nb.vec_id = b.vec_id
            GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
        )
        SELECT vec_id_a, vec_id_b, ROUND(d2, 6) AS cos_dist
        FROM pairs WHERE d2 < {COSINE_DUP_TAU}
        ORDER BY vec_id_a, vec_id_b
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    from ..operators import ann

    emb = tables.load(spark, sf_dir, "embeddings")
    return (
        ann.blocked_all_pairs(emb, tau=COSINE_DUP_TAU, metric=D.COSINE)
        .select("vec_id_a", "vec_id_b", F.round("d2", 6).alias("cos_dist"))
        .orderBy("vec_id_a", "vec_id_b")
    )


@query(
    "dedup_lsh_recall",
    "LSH-bucketed cosine near-dup (sub-quadratic scale path) scored against "
    "the exact blocked kernel: n_exact is value-checked by SQL; LSH "
    "perfect-precision (exact verify) and a recall floor are pinned as "
    "booleans (bucketing recall is seeded-RNG-dependent)",
    oracle=f"""
        WITH {UN_EMB},
        norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM un GROUP BY vec_id),
        pairs AS (
            SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                   1 - SUM(a.v * b.v) / (na.nrm * nb.nrm + 1e-8) AS d2
            FROM un a
            JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
            JOIN norms na ON na.vec_id = a.vec_id
            JOIN norms nb ON nb.vec_id = b.vec_id
            GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
               TRUE AS precision_ok, TRUE AS recall_ok
        FROM pairs WHERE d2 < {COSINE_DUP_TAU}
    """,
)
def dedup_lsh_recall(spark, sf_dir):
    from ..operators import ann

    emb = tables.load(spark, sf_dir, "embeddings")
    # three actions follow (two counts + a join-count): cache both pair
    # sets so neither pipeline is recomputed per action
    exact = ann.blocked_all_pairs(emb, tau=COSINE_DUP_TAU, metric=D.COSINE).cache()
    # weak-similarity regime at this tau: 4 planes x 16 tables (ann.py)
    approx = ann.lsh_near_dup_pairs(
        emb, tau=COSINE_DUP_TAU, metric=D.COSINE, n_planes=4, n_tables=16
    ).cache()
    try:
        from concurrent.futures import ThreadPoolExecutor

        # the two arms are independent pipelines materializing separate
        # caches — submit both counts so the LSH arm's jobs back-fill the
        # exact arm's stage tails (guide §2.6); the hit join below reads
        # both caches after the barrier
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_exact = pool.submit(exact.count)
            f_lsh = pool.submit(approx.count)
            n_exact, n_lsh = f_exact.result(), f_lsh.result()
        hit = exact.join(
            approx.select("vec_id_a", "vec_id_b"), ["vec_id_a", "vec_id_b"]
        ).count()
        # precision is structurally 1.0 (candidates are verified with the
        # exact distance before emission); recall floor 0.9 holds with
        # margin (1.0 at sf0.01, 0.979 at sf0.1 measured)
        return spark.createDataFrame(
            [(n_exact, hit == n_lsh, hit / max(n_exact, 1) >= 0.9)],
            "n_exact long, precision_ok boolean, recall_ok boolean",
        )
    finally:
        exact.unpersist()
        approx.unpersist()


# ---------------------------------------------------------------------------
# multimodal asset pipeline (binary payload columns, SURVEY.md extension)
# ---------------------------------------------------------------------------
@query(
    "multimodal_asset_stats",
    "documents as binary assets: per-kind count/bytes over the payload column",
    oracle="""
        SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               COUNT(*) AS cnt,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               ROUND(AVG(octet_length(encode(text))), 6) AS avg_bytes
        FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def multimodal_stats_q(spark, sf_dir):
    from ..operators import multimodal as MM

    docs = tables.load(spark, sf_dir, "documents")
    return MM.asset_stats(MM.documents_as_assets(docs))


# Full value oracle for the multimodal composition: the fake decoder reads
# raw payload bytes (UTF-8 text here) and _featurize takes per-chunk byte
# means — both exactly SQL-expressible: byte p of an ASCII payload is
# ascii(substr(text, p+1, 1)), chunk(p) = ceil((p+1)*dim/n) - 1 reproduces
# the (i*n)//dim edge rule (verified identity), float32 cast included.
_MM_DIM = 32
_MM_FEAT_CTES = f"""
    bytes AS (
        SELECT doc_id, unnest(range(greatest(length(text), {_MM_DIM}))) AS p
        FROM documents
    ),
    vals AS (
        SELECT b.doc_id, b.p,
               CASE WHEN b.p < length(d.text)
                    THEN ascii(substr(d.text, CAST(b.p + 1 AS INTEGER), 1))
                    ELSE 0 END AS byte,
               greatest(length(d.text), {_MM_DIM}) AS n
        FROM bytes b JOIN documents d ON d.doc_id = b.doc_id
    ),
    feat AS (
        SELECT doc_id,
               CAST(((p + 1) * {_MM_DIM} + n - 1) // n - 1 AS INTEGER) AS pos,
               CAST(AVG(byte) / 255.0 AS REAL) AS f
        FROM vals GROUP BY doc_id, ((p + 1) * {_MM_DIM} + n - 1) // n - 1
    ),
    fd AS (SELECT doc_id, pos, CAST(f AS DOUBLE) AS v FROM feat),
    norms AS (SELECT doc_id, SQRT(SUM(v * v)) AS nrm FROM fd GROUP BY doc_id)
"""


@query(
    "multimodal_feature_knn",
    "binary payload -> mapInPandas featurize -> exact cosine top-3 "
    "(the multimodal->embedding->ANN composition, deterministic fake decode "
    "recomputed byte-for-byte by the SQL oracle)",
    oracle=f"""
        WITH {_MM_FEAT_CTES},
        d AS (
            SELECT q.doc_id AS query_id, a.doc_id AS asset_id,
                   1 - SUM(a.v * q.v) / (na.nrm * nq.nrm + 1e-8) AS dist_raw
            FROM fd a
            JOIN (SELECT * FROM fd WHERE doc_id < 3) q ON q.pos = a.pos
            JOIN norms na ON na.doc_id = a.doc_id
            JOIN norms nq ON nq.doc_id = q.doc_id
            GROUP BY q.doc_id, a.doc_id, na.nrm, nq.nrm
        ),
        r AS (
            SELECT query_id, asset_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY dist_raw, asset_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, asset_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 3 ORDER BY query_id, rank
    """,
)
def multimodal_knn_q(spark, sf_dir):
    from ..operators import multimodal as MM

    docs = tables.load(spark, sf_dir, "documents")
    feats = MM.extract_features(MM.documents_as_assets(docs), dim=32)
    corpus = feats.select(F.col("asset_id").alias("id"), F.col("feature").alias("vector"))
    qdf = feats.filter(F.col("asset_id") < 3).select(
        F.col("asset_id").alias("query_id"), F.col("feature").alias("qvec")
    )
    res = knn.exact_knn(corpus, qdf, k=3, metric=D.COSINE)
    return res.select(
        "query_id", "rank", F.col("id").alias("asset_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# V7 metrics aggregation parity + analytic windows (relational breadth)
# ---------------------------------------------------------------------------
@query(
    "events_percentiles",
    "V7-style metrics rollup: per event_type count + exact p50/p95/p99 of "
    "value (the reference's sorted-vector percentile, query_service.cpp:790-798)",
    oracle="""
        SELECT event_type, COUNT(*) AS cnt,
               ROUND(quantile_cont(value, 0.50), 6) AS p50,
               ROUND(quantile_cont(value, 0.95), 6) AS p95,
               ROUND(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_percentiles(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "events_running_sum",
    "analytic window: per-user running event count and value sum in time "
    "order (first 200 rows of user_id < 20)",
    oracle="""
        SELECT user_id, event_id,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS n_so_far,
               ROUND(SUM(value) OVER w, 6) AS running_value
        FROM events
        WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, n_so_far LIMIT 200
    """,
)
def events_running_sum(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            F.row_number().over(w).cast("long").alias("n_so_far"),
            F.round(
                F.sum("value").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                6,
            ).alias("running_value"),
        )
        .orderBy("user_id", "n_so_far")
        .limit(200)
    )


@query(
    "multimodal_frame_stats",
    "video frame sampling: per-asset sampled-frame counts from payload size "
    "(sequence+explode plumbing, no UDF)",
    oracle="""
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_videos,
               CAST(SUM(CAST(CEIL(GREATEST(CAST(FLOOR(octet_length(encode(text)) / 256) AS BIGINT), 1) / 10.0) AS BIGINT)) AS BIGINT)
                   AS n_sampled_frames
        FROM documents WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_stats(spark, sf_dir):
    from ..operators import multimodal as MM

    docs = tables.load(spark, sf_dir, "documents")
    frames = MM.sample_frames(
        MM.documents_as_assets(docs), frame_bytes=256, every_n=10
    )
    return frames.agg(
        F.countDistinct("asset_id").cast("long").alias("n_videos"),
        F.count("*").cast("long").alias("n_sampled_frames"),
    )


@query(
    "dedup_clusters",
    "duplicate-cluster resolution: connected components over the exact "
    "3-gram-Jaccard (>=0.3) pair graph; one row per cluster (>=2 docs), "
    "cluster_id = canonical (minimum) doc_id",
    oracle="""
        WITH RECURSIVE
        toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
                   || ' ' || w[CAST(i AS INTEGER)+2] AS shingle
            FROM toks, LATERAL unnest(range(1, greatest(array_length(w) - 1, 1))) t(i)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        p AS (
            SELECT doc_id_a, doc_id_b
            FROM inter
            JOIN sizes na ON doc_id_a = na.doc_id
            JOIN sizes nb ON doc_id_b = nb.doc_id
            WHERE c * 1.0 / (na.n + nb.n - c) >= 0.3
        ),
        edges AS (
            SELECT doc_id_a AS s, doc_id_b AS d FROM p
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM p
        ),
        reach AS (
            SELECT s AS doc_id, d AS r FROM edges
            UNION
            SELECT re.doc_id, e.d FROM reach re JOIN edges e ON re.r = e.s
        ),
        comp AS (
            SELECT doc_id, LEAST(doc_id, MIN(r)) AS cluster_id
            FROM reach GROUP BY doc_id
        )
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
        FROM comp GROUP BY cluster_id ORDER BY cluster_id
    """,
)
def dedup_clusters_q(spark, sf_dir):
    from ..operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3, n=3)
    return dedup.duplicate_clusters(pairs).orderBy("cluster_id")


@query(
    "events_sessionization",
    "batch sessionization (30-min inactivity gap): per-user session count, "
    "event count, and mean session duration (users < 50)",
    oracle="""
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS t_us FROM events WHERE user_id < 50
        ),
        lagged AS (
            SELECT user_id, t_us,
                   LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us) AS pt
            FROM e
        ),
        marks AS (
            SELECT user_id, t_us,
                   CASE WHEN pt IS NULL OR t_us - pt >= 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM lagged
        ),
        sess AS (
            SELECT user_id, t_us,
                   SUM(new_sess) OVER
                       (PARTITION BY user_id ORDER BY t_us) - 1 AS session_id
            FROM marks
        ),
        per_sess AS (
            SELECT user_id, session_id, COUNT(*) AS n_ev,
                   (MAX(t_us) - MIN(t_us)) / 1000000.0 AS dur_s
            FROM sess GROUP BY user_id, session_id
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n_ev) AS BIGINT) AS n_events,
               ROUND(AVG(dur_s), 6) AS avg_session_secs
        FROM per_sess GROUP BY user_id ORDER BY user_id
    """,
)
def events_sessionization_q(spark, sf_dir):
    from ..streaming import events as EV

    ev = tables.load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return EV.session_stats(ev, gap_seconds=1800)


@query(
    "pipeline_split_stats",
    "deterministic md5-bucketed train/val/test split (80/10/10): doc counts "
    "per (split, lang) — content-addressed, engine- and order-independent",
    oracle="""
        WITH h AS (
            SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hx
            FROM documents
        ),
        s AS (
            SELECT lang, CASE WHEN hx < 'cccc' THEN 'train'
                              WHEN hx < 'e666' THEN 'val'
                              ELSE 'test' END AS split
            FROM h
        )
        SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM s GROUP BY split, lang ORDER BY split, lang
    """,
)
def pipeline_split_stats_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    return (
        textops.train_val_test_split(docs)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline hygiene: benchmark decontamination, deterministic
# sampling, intra-document repetition. All content-addressed / relational —
# each value-matched in SQL.
# ---------------------------------------------------------------------------
@query(
    "pipeline_decontamination",
    "benchmark decontamination (operators/decontam.py): corpus docs "
    "containing >= 50% of a benchmark item's distinct 3-gram shingles "
    "(benchmark = doc_id % 5 == 0, corpus = the rest; the planted "
    "near-dups guarantee hits)",
    oracle="""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
                   || ' ' || w[CAST(i AS INTEGER)+2] AS shingle
            FROM toks, LATERAL unnest(range(1, greatest(array_length(w) - 1, 1))) t(i)
        ),
        bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 5 = 0),
        corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 5 <> 0),
        bs AS (SELECT bench_id, COUNT(*) AS bn FROM bench GROUP BY bench_id),
        inter AS (
            SELECT c.doc_id, b.bench_id, COUNT(*) AS ov
            FROM corp c JOIN bench b USING (shingle)
            GROUP BY 1, 2
        )
        SELECT i.doc_id, i.bench_id, CAST(i.ov AS BIGINT) AS overlap,
               ROUND(i.ov * 1.0 / bs.bn, 6) AS containment
        FROM inter i JOIN bs USING (bench_id)
        WHERE i.ov * 1.0 / bs.bn >= 0.5
        ORDER BY doc_id, bench_id
    """,
)
def pipeline_decontamination_q(spark, sf_dir):
    from ..operators import decontam

    docs = tables.load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    bench = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    rep = decontam.contamination_report(
        corpus, bench, n=3, min_containment=0.5
    )
    return rep.select(
        "doc_id", "bench_id", "overlap", F.round("containment", 6).alias("containment")
    ).orderBy("doc_id", "bench_id")


@query(
    "pipeline_sample_stats",
    "deterministic sampling (operators/sampling.py): per-lang kept counts "
    "under a stratified domain mix (en 50%, others 20%) and an n_chars-"
    "weighted acceptance — content-addressed md5 draws, reproducible in SQL",
    oracle="""
        WITH h AS (
            SELECT doc_id, lang, n_chars,
                   substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8) AS hx
            FROM documents
        ),
        flags AS (
            SELECT lang,
                   hx < (CASE WHEN lang = 'en' THEN printf('%08x',
                              CAST(floor(0.5 * 4294967296) AS BIGINT))
                         ELSE printf('%08x',
                              CAST(floor(0.2 * 4294967296) AS BIGINT)) END)
                       AS strat,
                   CASE WHEN n_chars / 400.0 >= 1.0 THEN TRUE
                        WHEN n_chars / 400.0 <= 0.0 THEN FALSE
                        ELSE hx < printf('%08x',
                             CAST(floor(n_chars / 400.0 * 4294967296) AS BIGINT))
                   END AS wsamp
            FROM h
        )
        SELECT lang,
               CAST(SUM(CASE WHEN strat THEN 1 ELSE 0 END) AS BIGINT) AS n_stratified,
               CAST(SUM(CASE WHEN wsamp THEN 1 ELSE 0 END) AS BIGINT) AS n_weighted
        FROM flags GROUP BY lang ORDER BY lang
    """,
)
def pipeline_sample_stats_q(spark, sf_dir):
    from ..operators import sampling

    docs = tables.load(spark, sf_dir, "documents")
    strat = sampling.stratified_sample(
        docs, {"en": 0.5}, default_rate=0.2, group_col="lang", salt="mix1"
    ).groupBy("lang").agg(F.count("*").alias("n_stratified"))
    weighted = sampling.weighted_sample(
        docs, F.col("n_chars") / 400.0, salt="mix1"
    ).groupBy("lang").agg(F.count("*").alias("n_weighted"))
    langs = docs.select("lang").distinct()
    return (
        langs.join(strat, "lang", "left")
        .join(weighted, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_stratified", F.lit(0)).alias("n_stratified"),
            F.coalesce("n_weighted", F.lit(0)).alias("n_weighted"),
        )
        .orderBy("lang")
    )


@query(
    "text_repetition_stats",
    "intra-document repetition (textops.repetition_stats): word-2-gram "
    "duplicate ratio and top-n-gram mass per doc (Gopher/RefinedWeb-style "
    "boilerplate signal), docs 0-29",
    oracle="""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
            FROM documents WHERE length(trim(text)) > 0 AND doc_id < 30
        ),
        sh AS (
            SELECT doc_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1] AS s
            FROM toks, LATERAL unnest(range(1, greatest(array_length(w), 1))) t(i)
        ),
        per AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY 1, 2),
        st AS (
            SELECT doc_id, SUM(c) AS total, COUNT(*) AS dn, MAX(c) AS top
            FROM per GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(st.total, 0) AS BIGINT) AS total_ngrams,
               CAST(COALESCE(st.dn, 0) AS BIGINT) AS distinct_ngrams,
               ROUND(COALESCE(1 - st.dn * 1.0 / st.total, 0.0), 6) AS dup_ngram_ratio,
               ROUND(COALESCE(st.top * 1.0 / st.total, 0.0), 6) AS top_ngram_mass
        FROM (SELECT doc_id FROM documents WHERE doc_id < 30) d
        LEFT JOIN st USING (doc_id)
        ORDER BY doc_id
    """,
)
def text_repetition_stats_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    rep = textops.repetition_stats(docs, n=2)
    return rep.select(
        "doc_id",
        "total_ngrams",
        "distinct_ngrams",
        F.round("dup_ngram_ratio", 6).alias("dup_ngram_ratio"),
        F.round("top_ngram_mass", 6).alias("top_ngram_mass"),
    ).orderBy("doc_id")


@query(
    "text_vocabulary_topk",
    "corpus vocabulary: top-25 tokens by total count (doc_freq >= 2), "
    "lowercase whitespace tokenization",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
            FROM documents WHERE length(trim(text)) > 0
        ),
        v AS (
            SELECT token, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS total_cnt
            FROM toks GROUP BY token
            HAVING COUNT(DISTINCT doc_id) >= 2
        )
        SELECT token, CAST(doc_freq AS BIGINT) AS doc_freq,
               CAST(total_cnt AS BIGINT) AS total_cnt
        FROM v ORDER BY total_cnt DESC, token LIMIT 25
    """,
)
def text_vocabulary_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    return (
        textops.vocabulary(docs, min_df=2)
        .orderBy(F.col("total_cnt").desc(), "token")
        .limit(25)
    )


@query(
    "arrow_ipc_roundtrip",
    "F1/F2 storage parity: embeddings written to reference-format Arrow IPC "
    "(uint64 id + list<float32>) and read back distributed; checksum must "
    "equal the parquet source",
    oracle=f"""
        WITH {UN_EMB},
        norms AS (SELECT vec_id, SUM(v * v) AS n2 FROM un GROUP BY vec_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
               ROUND(AVG(n2), 6) AS avg_sq_norm
        FROM norms
    """,
)
def arrow_ipc_roundtrip_q(spark, sf_dir):
    from ..sources import arrow_ipc

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"cavde_ipc_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    arrow_ipc.write_vectors(emb, out)
    back = arrow_ipc.read_vectors(spark, out)
    sq_norm = F.aggregate(
        "vector",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return back.select("id", sq_norm.alias("n2")).agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("id").cast("long").alias("sum_ids"),
        F.round(F.avg("n2"), 6).alias("avg_sq_norm"),
    )


@query(
    "arrow_ipc_slice",
    "F2 row-range slice read (storage.cpp:142-180): embeddings written as "
    "one sorted single-batch IPC file, read back with (offset=100, "
    "length=50) — must equal the parquet source's LIMIT/OFFSET window",
    oracle=f"""
        WITH {UN_EMB},
        sel AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 50 OFFSET 100)
        SELECT u.vec_id, ROUND(SUM(u.v * u.v), 6) AS sq_norm
        FROM un u JOIN sel s ON s.vec_id = u.vec_id
        GROUP BY u.vec_id ORDER BY u.vec_id
    """,
)
def arrow_ipc_slice_q(spark, sf_dir):
    from ..sources import arrow_ipc

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"cavde_ipc_slice_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    # one sorted partition -> one single-batch file, the reference's shard
    # shape (storage.cpp:185-292), so the per-batch slice IS the row range
    arrow_ipc.write_vectors(emb.repartition(1).sortWithinPartitions("id"), out)
    back = arrow_ipc.read_vectors(spark, out, offset=100, length=50)
    sq_norm = F.aggregate(
        "vector",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return (
        back.select(F.col("id").alias("vec_id"), sq_norm.alias("n2"))
        .select("vec_id", F.round("n2", 6).alias("sq_norm"))
        .orderBy("vec_id")
    )


@query(
    "events_asof_attribution",
    "as-of join (single-shuffle union+window form): each purchase matched "
    "to the user's most recent prior-or-simultaneous click; per-user "
    "attribution stats (oracle: DuckDB native ASOF JOIN)",
    oracle="""
        WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT user_id, epoch_us(ts) AS t
                   FROM events WHERE event_type = 'click'),
             j AS (
                 SELECT p.user_id, p.t, c.t AS ct
                 FROM p ASOF LEFT JOIN c
                 ON p.user_id = c.user_id AND p.t >= c.t
             )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(COUNT(ct) AS BIGINT) AS n_attributed,
               ROUND(AVG((t - ct) / 1000000.0), 6) AS avg_gap_s
        FROM j GROUP BY user_id ORDER BY user_id
    """,
)
def events_asof_attribution_q(spark, sf_dir):
    from ..operators.asof import asof_join

    ev = tables.load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    j = asof_join(p, c, by="user_id", left_ts="t", right_ts="t", right_cols=["t"])
    return (
        j.groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.count("t_right").alias("n_attributed"),
            F.round(F.avg((F.col("t") - F.col("t_right")) / F.lit(1_000_000.0)), 6).alias(
                "avg_gap_s"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "index_list_stats",
    "V10 stats surface: per-inverted-list vector counts read back from the "
    "ACTIVE epoch's partitioned layout — validates the build->storage->load "
    "round trip against the in-SQL assignment (same oracle as Q5)",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        SELECT CAST(list_id AS INTEGER) AS list_id, COUNT(*) AS n_vectors
        FROM assign GROUP BY list_id ORDER BY list_id
    """,
)
def index_list_stats_q(spark, sf_dir):
    idx, _corpus, _qdf = _build_emb_index(spark, sf_dir, "q_stats", D.L2)
    return (
        idx.vectors.groupBy(F.col("list_id").cast("int").alias("list_id"))
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("list_id")
    )


@query(
    "index_delta_add",
    "incremental add (reference add(), ivf_flat_index.cpp:148-202) as delta "
    "epochs: build on the even half of the corpus, add the odd half as an "
    "O(delta) delta epoch; per-list counts read through the epoch CHAIN "
    "must equal the one-shot SQL assignment over the full corpus",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        SELECT CAST(list_id AS INTEGER) AS list_id, COUNT(*) AS n_vectors
        FROM assign GROUP BY list_id ORDER BY list_id
    """,
)
def index_delta_add_q(spark, sf_dir):
    from ..operators import ivf, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    key = (sf_dir, "delta_add")
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        init = kmeans.label_centroids(emb)
        base = ivf.IVFIndex.build(
            corpus.filter(F.col("id") % 2 == 0),
            _scratch_dir("cavde_idx_delta_"),
            "q_delta",
            nlist=init.shape[0],
            metric=D.L2,
            init=init,
            train=False,
        )
        idx = base.add(corpus.filter(F.col("id") % 2 == 1))
        _INDEX_CACHE[key] = idx
    return (
        idx.vectors.groupBy(F.col("list_id").cast("int").alias("list_id"))
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("list_id")
    )


@query(
    "index_delete_tombstones",
    "delete-by-id via tombstone delta epochs (r4; no reference analog — "
    "its mutable index is add-only): build on the even half, delta-add the "
    "odd half, delete vec_id % 5 = 0; per-list LIVE counts read through "
    "the chain fold must equal the SQL assignment excluding the deleted ids",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        SELECT CAST(list_id AS INTEGER) AS list_id, COUNT(*) AS n_vectors
        FROM assign WHERE vec_id % 5 <> 0
        GROUP BY list_id ORDER BY list_id
    """,
)
def index_delete_tombstones_q(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    key = (sf_dir, "delete_tomb")
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        _base, chained = _build_half_chain(spark, sf_dir)
        # tombstone epoch appends to the SHARED chain (activate=False:
        # the shared tip must not move for the other consumers)
        idx = chained.delete(
            corpus.filter(F.col("id") % 5 == 0).select("id"), activate=False
        )
        _INDEX_CACHE[key] = idx
    return (
        idx.vectors.groupBy(F.col("list_id").cast("int").alias("list_id"))
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("list_id")
    )


@query(
    "index_pq_delta_codes",
    "O(delta) PQ maintenance on a delta chain (r4): the base epoch trains "
    "codebooks (build_from_ivf), the odd-half delta epoch encodes ONLY its "
    "own vectors with the INHERITED codebooks (encode_delta — codebooks are "
    "train-time artifacts, never retrained on add); per-list code counts "
    "read through the chain-union codes path must equal the one-shot SQL "
    "assignment over the full corpus",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        SELECT CAST(list_id AS INTEGER) AS list_id, COUNT(*) AS n_codes
        FROM assign GROUP BY list_id ORDER BY list_id
    """,
)
def index_pq_delta_codes_q(spark, sf_dir):
    from ..operators import pq as PQ

    key = (sf_dir, "pq_delta")
    pq_idx = _INDEX_CACHE.get(key)
    if pq_idx is None:
        base, delta = _build_half_chain(spark, sf_dir)
        # pq codes append to the shared chain's epochs; the sq row writes
        # its own sidecar kind alongside — no collision, order-free
        PQ.IVFPQIndex.build_from_ivf(base, m=16, nbits=8, seed=42)
        pq_idx = PQ.IVFPQIndex.encode_delta(delta)
        _INDEX_CACHE[key] = pq_idx
    return (
        pq_idx.codes.groupBy(F.col("list_id").cast("int").alias("list_id"))
        .agg(F.count("*").alias("n_codes"))
        .orderBy("list_id")
    )


@query(
    "index_hot_lists",
    "V9 LFU access statistics (ivf_flat_index.cpp:227-229): a fresh index "
    "handle runs one nprobe=2 search batch; per-list probe counts + last "
    "search sequence must equal the SQL-recomputed probe ranking",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        , qprobe AS (
            SELECT vec_id AS query_id, list_id FROM (
                SELECT vec_id, list_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, list_id) AS rn
                FROM dist WHERE vec_id < 5) t
            WHERE rn <= 2
        )
        SELECT CAST(list_id AS INTEGER) AS list_id,
               COUNT(*) AS access_count,
               CAST(1 AS BIGINT) AS last_access_seq
        FROM qprobe GROUP BY list_id
        ORDER BY access_count DESC, list_id
    """,
)
def index_hot_lists_q(spark, sf_dir):
    idx, _corpus, qdf = _build_emb_index(spark, sf_dir, "q_hot", D.L2)
    # fresh handle over the same ACTIVE epoch: stats start at zero no matter
    # which other catalog queries already searched the cached index
    from ..operators import ivf

    fresh = ivf.IVFIndex.load(
        spark, idx.manager.base_dir, idx.manager.index_name
    )
    fresh.search(qdf, k=10, nprobe=2).count()
    return fresh.access_stats_df().orderBy(
        F.col("access_count").desc(), "list_id"
    )


@query(
    "events_interval_join",
    "range join (bucketed equi-join form, no nested-loop): clicks within "
    "the 5 minutes before each error, per-user window stats",
    oracle="""
        WITH e AS (SELECT event_id AS eid, user_id, epoch_us(ts) AS t
                   FROM events WHERE event_type = 'error'),
             c AS (SELECT epoch_us(ts) AS t, user_id
                   FROM events WHERE event_type = 'click'),
             j AS (
                 SELECT e.user_id, e.eid, c.t - e.t AS dt
                 FROM e JOIN c
                 ON e.user_id = c.user_id
                 AND c.t - e.t BETWEEN -300000000 AND 0
             )
        SELECT user_id,
               CAST(COUNT(DISTINCT eid) AS BIGINT) AS n_errors_with_click,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(-dt / 1000000.0), 6) AS avg_lead_s
        FROM j GROUP BY user_id ORDER BY user_id
    """,
)
def events_interval_join_q(spark, sf_dir):
    from ..operators.rangejoin import interval_join

    ev = tables.load(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), "user_id", F.unix_micros("ts").alias("t")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    j = interval_join(
        err, clk, by="user_id", left_ts="t", right_ts="t",
        lower=-300_000_000, upper=0,
    )
    return (
        j.groupBy("user_id")
        .agg(
            F.countDistinct("eid").alias("n_errors_with_click"),
            F.count("*").alias("n_pairs"),
            F.round(
                F.avg((F.col("t") - F.col("t_right")) / F.lit(1_000_000.0)), 6
            ).alias("avg_lead_s"),
        )
        .orderBy("user_id")
    )


@query(
    "text_tfidf_terms",
    "top-5 distinctive tokens per language by TF-IDF (smoothed idf, "
    "rank-on-raw with token tiebreak)",
    oracle=r"""
        WITH toks AS (
            SELECT lang, doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
            FROM documents WHERE length(trim(text)) > 0
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        tf AS (SELECT lang, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        docf AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        scored AS (
            SELECT lang, token,
                   tf * LN((n.n_docs + 1.0) / (docf.df + 1.0)) AS s
            FROM tf JOIN docf USING (token) CROSS JOIN n
        ),
        ranked AS (
            SELECT lang, token, s,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY s DESC, token
                   ) AS INTEGER) AS rnk
            FROM scored
        )
        SELECT lang, rnk, token, ROUND(s, 6) AS tfidf
        FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk
    """,
)
def text_tfidf_terms_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    return textops.tfidf_terms(docs, group_col="lang", top_n=5)


# ---------------------------------------------------------------------------
# training-pipeline additions (round 4): LM scoring, substring dedup,
# domain mixing, sequence packing
# ---------------------------------------------------------------------------
@query(
    "text_unigram_logprob",
    "corpus-MLE unigram LM score per document (textops.unigram_logprob) — "
    "the perplexity-style quality gate run before any neural filter; "
    "vocabulary count + token->prob join, both shuffle-bucketed",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
            FROM documents WHERE length(trim(text)) > 0
        ),
        vocab AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab)
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(AVG(LN(c * 1.0 / t)), 6) AS avg_logprob
        FROM toks JOIN vocab USING (token) CROSS JOIN tot
        GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_unigram_logprob_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    return (
        textops.unigram_logprob(docs)
        .select(
            "doc_id",
            "n_tokens",
            F.round("avg_logprob", 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_substring_spans",
    "substring dedup per document, both tiers: 'window_mass' = share of "
    "8-token windows occurring more than once in the corpus "
    "(dedup.duplicated_span_stats, the cheap screen) and 'exact_coverage' "
    "= the exact token-position coverage suffix-array ExactSubstr "
    "(Lee et al. 2022) would trim at L=8 "
    "(dedup.exact_substring_stats: repeated-window interval union — "
    "exact, two shuffle stages, no monolithic index)",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ),
        sp AS (
            SELECT doc_id, CAST(i AS INTEGER) AS pos,
                   array_to_string(
                       w[CAST(i AS INTEGER):CAST(i AS INTEGER)+7], ' ') AS span
            FROM toks,
                 LATERAL unnest(range(1, greatest(array_length(w) - 6, 1))) t(i)
        ),
        occ AS (SELECT span, COUNT(*) AS occ FROM sp GROUP BY 1),
        m1 AS (
            SELECT 'window_mass' AS method, doc_id,
                   COUNT(*) AS total_units,
                   CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS dup_units,
                   ROUND(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) * 1.0
                         / COUNT(*), 6) AS dup_ratio
            FROM sp JOIN occ USING (span)
            GROUP BY doc_id
        ),
        dup AS (
            SELECT doc_id, pos AS s, pos + 8 AS e
            FROM sp JOIN occ USING (span) WHERE occ > 1
        ),
        brk AS (
            SELECT doc_id, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                            PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS b
            FROM dup
        ),
        isl AS (
            SELECT doc_id, s, e,
                   SUM(b) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS UNBOUNDED PRECEDING) AS g
            FROM brk
        ),
        spans AS (
            SELECT doc_id, g, MIN(s) AS ss, MAX(e) AS ee
            FROM isl GROUP BY 1, 2
        ),
        cov AS (
            SELECT doc_id, CAST(SUM(ee - ss) AS BIGINT) AS dup_units
            FROM spans GROUP BY 1
        ),
        m2 AS (
            SELECT 'exact_coverage' AS method, t.doc_id,
                   CAST(array_length(t.w) AS BIGINT) AS total_units,
                   COALESCE(c.dup_units, 0) AS dup_units,
                   ROUND(COALESCE(c.dup_units, 0) * 1.0
                         / array_length(t.w), 6) AS dup_ratio
            FROM toks t LEFT JOIN cov c USING (doc_id)
        )
        SELECT * FROM m1 UNION ALL SELECT * FROM m2
        ORDER BY method, doc_id
    """,
)
def dedup_substring_spans_q(spark, sf_dir):
    from ..operators import dedup

    # mirror the oracle's toks CTE filter: it drops empty/whitespace-only
    # documents, while the operators emit a row for every document
    docs = tables.load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    approx = (
        dedup.duplicated_span_stats(docs, n=8)
        .select(
            F.lit("window_mass").alias("method"),
            "doc_id",
            F.col("total_spans").cast("long").alias("total_units"),
            F.col("dup_spans").cast("long").alias("dup_units"),
            F.round("dup_ratio", 6).alias("dup_ratio"),
        )
    )
    exact = (
        dedup.exact_substring_stats(docs, min_len=8)
        .select(
            F.lit("exact_coverage").alias("method"),
            "doc_id",
            F.col("total_tokens").cast("long").alias("total_units"),
            F.col("dup_tokens").cast("long").alias("dup_units"),
            F.round("dup_ratio", 6).alias("dup_ratio"),
        )
    )
    return approx.unionByName(exact).orderBy("method", "doc_id")


@query(
    "dedup_exact_trim",
    "the Lee et al. 2022 ExactSubstr TRIM step at L=8: every token "
    "position inside a substring of >= 8 tokens occurring more than once "
    "in the corpus is removed; the oracle reconstructs the surviving "
    "token stream independently (dedup.trim_duplicated_spans)",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ),
        sp AS (
            SELECT doc_id, CAST(i AS INTEGER) AS pos,
                   array_to_string(
                       w[CAST(i AS INTEGER):CAST(i AS INTEGER)+7], ' ') AS span
            FROM toks,
                 LATERAL unnest(range(1, greatest(array_length(w) - 6, 1))) t(i)
        ),
        occ AS (SELECT span, COUNT(*) AS occ FROM sp GROUP BY 1),
        dup AS (
            SELECT doc_id, pos AS s, pos + 8 AS e
            FROM sp JOIN occ USING (span) WHERE occ > 1
        ),
        brk AS (
            SELECT doc_id, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                            PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS b
            FROM dup
        ),
        isl AS (
            SELECT doc_id, s, e,
                   SUM(b) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS UNBOUNDED PRECEDING) AS g
            FROM brk
        ),
        spans AS (
            SELECT doc_id, g, MIN(s) AS ss, MAX(e) AS ee
            FROM isl GROUP BY 1, 2
        ),
        tokpos AS (
            SELECT doc_id, CAST(i AS INTEGER) AS pos,
                   w[CAST(i AS INTEGER)] AS tok
            FROM toks, LATERAL unnest(range(1, array_length(w) + 1)) t(i)
        ),
        kept AS (
            SELECT tp.doc_id, tp.pos, tp.tok
            FROM tokpos tp
            WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = tp.doc_id
                  AND tp.pos >= s.ss AND tp.pos < s.ee)
        ),
        agg AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
            FROM kept GROUP BY doc_id
        ),
        rem AS (
            SELECT doc_id, CAST(SUM(ee - ss) AS BIGINT) AS removed_tokens
            FROM spans GROUP BY 1
        )
        SELECT t.doc_id, COALESCE(a.text, '') AS text,
               COALESCE(r.removed_tokens, 0) AS removed_tokens
        FROM toks t
        LEFT JOIN agg a USING (doc_id)
        LEFT JOIN rem r USING (doc_id)
        ORDER BY doc_id
    """,
)
def dedup_exact_trim_q(spark, sf_dir):
    from ..operators import dedup

    # mirror the oracle's toks CTE filter (drops empty/whitespace-only docs)
    docs = tables.load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return (
        dedup.trim_duplicated_spans(
            docs.select("doc_id", "text"), min_len=8
        )
        .select(
            "doc_id", "text", F.col("removed_tokens").cast("long")
            .alias("removed_tokens")
        )
        .orderBy("doc_id")
    )


_MIX_WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0}


@query(
    "pipeline_domain_mix",
    "domain-mix resampling (sampling.domain_mix_plan/_sample): per-source "
    "fractions for the largest subset matching target weights "
    "src0:4 src1:2 src2:1 src3:1 (others dropped), then the deterministic "
    "md5 keep-counts — Pile/DoReMi-style reweighting by downsampling",
    oracle="""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
        ),
        wt AS (
            SELECT source, n_docs,
                   CASE source WHEN 'src0' THEN 4.0 WHEN 'src1' THEN 2.0
                        WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 1.0
                        ELSE 0.0 END AS w
            FROM counts
        ),
        k AS (SELECT MIN(n_docs / w) AS scale_k FROM wt WHERE w > 0),
        plan AS (
            SELECT source, n_docs,
                   CASE WHEN w <= 0 THEN 0.0
                        ELSE least(1.0, (scale_k * w) / n_docs) END AS frac
            FROM wt CROSS JOIN k
        ),
        kept AS (
            SELECT d.source, COUNT(*) AS n_kept
            FROM documents d JOIN plan p ON d.source = p.source
            WHERE p.frac >= 1.0 OR (p.frac > 0.0 AND
                  substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8)
                  < printf('%08x',
                           CAST(floor(p.frac * 4294967296) AS BIGINT)))
            GROUP BY 1
        )
        SELECT p.source, p.n_docs, ROUND(p.frac, 6) AS frac,
               COALESCE(n_kept, 0) AS n_kept
        FROM plan p LEFT JOIN kept USING (source)
        ORDER BY p.source
    """,
)
def pipeline_domain_mix_q(spark, sf_dir):
    from ..operators import sampling

    docs = tables.load(spark, sf_dir, "documents")
    plan = sampling.domain_mix_plan(docs, _MIX_WEIGHTS, group_col="source")
    kept = (
        sampling.domain_mix_sample(docs, _MIX_WEIGHTS, group_col="source")
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        plan.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.round("frac", 6).alias("frac"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "pipeline_pack_sequences",
    "GPT-style sequence packing (operators/packing.py): concatenate docs "
    "in doc_id order, cut 256-token training sequences via a two-level "
    "distributed prefix scan (no global single-partition window); "
    "per-sequence doc/token stats — sum(n_tokens) == corpus tokens",
    oracle=r"""
        WITH tc AS (
            SELECT doc_id,
                   CAST(length(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS tc
            FROM documents WHERE length(trim(text)) > 0
        ),
        pos AS (
            SELECT doc_id, tc,
                   CAST(SUM(tc) OVER (ORDER BY doc_id) - tc AS BIGINT) AS s
            FROM tc
        ),
        sp AS (
            SELECT doc_id, tc, s,
                   unnest(range(s // 256, (s + tc - 1) // 256 + 1)) AS seq_id
            FROM pos
        )
        SELECT seq_id, COUNT(*) AS n_docs,
               CAST(SUM(least(s + tc, (seq_id + 1) * 256)
                        - greatest(s, seq_id * 256)) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM sp GROUP BY seq_id ORDER BY seq_id
    """,
)
def pipeline_pack_sequences_q(spark, sf_dir):
    from ..operators import packing

    docs = tables.load(spark, sf_dir, "documents")
    return packing.pack_sequences(docs, budget=256, num_buckets=8).orderBy(
        "seq_id"
    )


@query(
    "text_hashing_knn",
    "in-engine embedding generation + sparse similarity search: feature-"
    "hashing term vectors (portable md5 token->dim, L2-normalized tf) and "
    "top-1 cosine neighbor per doc via the inverted-index similarity join "
    "(pairs meet only on shared dims — sub-quadratic), docs 0-199",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
            FROM documents WHERE doc_id < 200 AND length(trim(text)) > 0
        ),
        tf AS (
            SELECT doc_id,
                   ('0x' || substr(md5(token), 1, 8))::BIGINT % 256 AS dim,
                   COUNT(*) AS tf
            FROM toks GROUP BY 1, 2
        ),
        nrm AS (SELECT doc_id, SQRT(SUM(tf * tf)) AS norm FROM tf GROUP BY 1),
        vec AS (
            SELECT t.doc_id, dim, tf / norm AS w
            FROM tf t JOIN nrm USING (doc_id)
        ),
        sims AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS cos
            FROM vec a JOIN vec b ON a.dim = b.dim AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT id_a, id_b, cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY id_a ORDER BY cos DESC, id_b
                   ) AS INTEGER) AS rnk
            FROM sims
        )
        SELECT id_a AS doc_id, rnk, id_b AS neighbor_id, ROUND(cos, 6) AS cos
        FROM ranked WHERE rnk <= 1 ORDER BY doc_id, rnk
    """,
)
def text_hashing_knn_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    vec = textops.hashed_term_vectors(docs, dim=256)
    return (
        textops.sparse_cosine_neighbors(vec, top_k=1)
        .select("doc_id", "rnk", "neighbor_id", F.round("cos", 6).alias("cos"))
        .orderBy("doc_id", "rnk")
    )


@query(
    "embedding_label_separation",
    "per-label cluster quality over the embeddings table "
    "(ann.label_separation_stats): intra-class spread vs nearest-other-"
    "centroid distance, Davies-Bouldin-style — the relabel/filter signal "
    "for curated embedding sets",
    oracle=f"""
        WITH {UN_EMB},
        ex AS (
            SELECT u.vec_id, e.label, u.pos, u.v
            FROM un u JOIN embeddings e USING (vec_id)
        ),
        cent AS (
            SELECT label, pos, AVG(v) AS c FROM ex GROUP BY 1, 2
        ),
        per_vec AS (
            SELECT ex.vec_id, ex.label,
                   SUM((ex.v - cent.c) * (ex.v - cent.c)) AS d2
            FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
            GROUP BY 1, 2
        ),
        intra AS (
            SELECT label, COUNT(*) AS n_vecs, AVG(SQRT(d2)) AS intra_mean
            FROM per_vec GROUP BY 1
        ),
        inter AS (
            SELECT a.label AS la, b.label AS lb,
                   SQRT(SUM((a.c - b.c) * (a.c - b.c))) AS inter_dist
            FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
            GROUP BY 1, 2
        ),
        nearest AS (
            SELECT la AS label, lb AS nearest_label, inter_dist
            FROM (SELECT la, lb, inter_dist,
                         ROW_NUMBER() OVER (
                             PARTITION BY la ORDER BY inter_dist, lb
                         ) AS rk
                  FROM inter)
            WHERE rk = 1
        )
        SELECT i.label, i.n_vecs, ROUND(i.intra_mean, 6) AS intra_mean,
               n.nearest_label, ROUND(n.inter_dist, 6) AS inter_dist,
               ROUND(i.intra_mean / n.inter_dist, 6) AS separation_ratio
        FROM intra i JOIN nearest n USING (label)
        ORDER BY i.label
    """,
)
def embedding_label_separation_q(spark, sf_dir):
    from ..operators import ann

    emb = tables.load(spark, sf_dir, "embeddings")
    return (
        ann.label_separation_stats(emb)
        .select(
            "label",
            "n_vecs",
            F.round("intra_mean", 6).alias("intra_mean"),
            "nearest_label",
            F.round("inter_dist", 6).alias("inter_dist"),
            F.round("separation_ratio", 6).alias("separation_ratio"),
        )
        .orderBy("label")
    )


def _funnel_pii_sql() -> str:
    from ..functions.text import pii_redact_oracle_sql

    return pii_redact_oracle_sql("text")


_FUNNEL_ORACLE = rf"""
        WITH corpus AS (
            SELECT doc_id, text, lang, source FROM documents
            WHERE doc_id % 5 <> 0
        ),
        bench AS (
            SELECT doc_id AS bench_id, text FROM documents
            WHERE doc_id % 5 = 0
        ),
        tc AS (
            SELECT doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\s+'))
                        END AS BIGINT) AS tc
            FROM corpus
        ),
        s1 AS (SELECT * FROM corpus WHERE lang = 'en'),
        s2 AS (SELECT * FROM s1 WHERE {TXT_QUALITY_SQL} >= 0.5),
        s2p AS (
            SELECT doc_id, {_funnel_pii_sql()} AS text, lang, source FROM s2
        ),
        tcp AS (
            SELECT doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\s+'))
                        END AS BIGINT) AS tc
            FROM s2p
        ),
        s3 AS (
            SELECT doc_id, text, lang, source FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY
                        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                    ORDER BY doc_id) AS rn
                FROM s2p)
            WHERE rn = 1
        ),
        toks3 AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM s3 WHERE length(trim(text)) > 0
        ),
        sh3 AS (
            SELECT DISTINCT doc_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
                   || ' ' || w[CAST(i AS INTEGER)+2] AS shingle
            FROM toks3,
                 LATERAL unnest(range(1, greatest(array_length(w) - 1, 1))) t(i)
        ),
        sizes3 AS (SELECT doc_id, COUNT(*) AS n FROM sh3 GROUP BY 1),
        nd AS (
            SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
            FROM sh3 a JOIN sh3 b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        dropb AS (
            SELECT DISTINCT nd.ib AS doc_id
            FROM nd JOIN sizes3 na ON nd.ia = na.doc_id
                    JOIN sizes3 nb ON nd.ib = nb.doc_id
            WHERE c * 1.0 / (na.n + nb.n - c) >= 0.7
        ),
        s4 AS (
            SELECT * FROM s3
            WHERE doc_id NOT IN (SELECT doc_id FROM dropb)
        ),
        btoks AS (
            SELECT bench_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM bench WHERE length(trim(text)) > 0
        ),
        bsh AS (
            SELECT DISTINCT bench_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
                   || ' ' || w[CAST(i AS INTEGER)+2] AS shingle
            FROM btoks,
                 LATERAL unnest(range(1, greatest(array_length(w) - 1, 1))) t(i)
        ),
        bs AS (SELECT bench_id, COUNT(*) AS bn FROM bsh GROUP BY 1),
        sh4 AS (
            SELECT doc_id, shingle FROM sh3
            WHERE doc_id IN (SELECT doc_id FROM s4)
        ),
        cont AS (
            SELECT DISTINCT i.doc_id FROM (
                SELECT c.doc_id, b.bench_id, COUNT(*) AS ov
                FROM sh4 c JOIN bsh b USING (shingle) GROUP BY 1, 2) i
            JOIN bs USING (bench_id)
            WHERE i.ov * 1.0 / bs.bn >= 0.5
        ),
        s5 AS (
            SELECT * FROM s4
            WHERE doc_id NOT IN (SELECT doc_id FROM cont)
        ),
        cnt5 AS (SELECT source, COUNT(*) AS n FROM s5 GROUP BY 1),
        k AS (SELECT MIN(n / 1.0) AS scale_k FROM cnt5),
        plan AS (
            SELECT source, least(1.0, (scale_k * 1.0) / n) AS frac
            FROM cnt5 CROSS JOIN k
        ),
        s6 AS (
            SELECT s5.* FROM s5 JOIN plan USING (source)
            WHERE frac >= 1.0 OR (frac > 0.0 AND
                  substr(md5(CAST(doc_id AS VARCHAR) || ':funnel'), 1, 8)
                  < printf('%08x', CAST(floor(frac * 4294967296) AS BIGINT)))
        )
        SELECT * FROM (
            SELECT CAST(0 AS INTEGER) AS stage, 'raw' AS name,
                   COUNT(*) AS n_docs,
                   COALESCE(CAST(SUM(tc.tc) AS BIGINT), 0) AS n_tokens
            FROM corpus JOIN tc USING (doc_id)
            UNION ALL
            SELECT CAST(1 AS INTEGER), 'lang', COUNT(*),
                   COALESCE(CAST(SUM(tc.tc) AS BIGINT), 0)
            FROM s1 JOIN tc USING (doc_id)
            UNION ALL
            SELECT CAST(2 AS INTEGER), 'quality', COUNT(*),
                   COALESCE(CAST(SUM(tc.tc) AS BIGINT), 0)
            FROM s2 JOIN tc USING (doc_id)
            UNION ALL
            SELECT CAST(3 AS INTEGER), 'pii_redact', COUNT(*),
                   COALESCE(CAST(SUM(tcp.tc) AS BIGINT), 0)
            FROM s2p JOIN tcp USING (doc_id)
            UNION ALL
            SELECT CAST(4 AS INTEGER), 'exact_dedup', COUNT(*),
                   COALESCE(CAST(SUM(tcp.tc) AS BIGINT), 0)
            FROM s3 JOIN tcp USING (doc_id)
            UNION ALL
            SELECT CAST(5 AS INTEGER), 'near_dedup', COUNT(*),
                   COALESCE(CAST(SUM(tcp.tc) AS BIGINT), 0)
            FROM s4 JOIN tcp USING (doc_id)
            UNION ALL
            SELECT CAST(6 AS INTEGER), 'decontam', COUNT(*),
                   COALESCE(CAST(SUM(tcp.tc) AS BIGINT), 0)
            FROM s5 JOIN tcp USING (doc_id)
            UNION ALL
            SELECT CAST(7 AS INTEGER), 'domain_mix', COUNT(*),
                   COALESCE(CAST(SUM(tcp.tc) AS BIGINT), 0)
            FROM s6 JOIN tcp USING (doc_id)
        ) ORDER BY stage
"""


@query(
    "pipeline_curation_funnel",
    "the full curation pipeline as one funnel (operators/curation.py): "
    "lang filter -> quality gate -> PII redaction (r6: transforms, never "
    "drops) -> exact dedup -> near dedup (verified MinHash, "
    "keep-smallest) -> benchmark decontamination -> uniform domain mix; "
    "per-stage doc/token attrition, every stage an already-oracled "
    "engine verb",
    oracle=_FUNNEL_ORACLE,
)
def pipeline_curation_funnel_q(spark, sf_dir):
    from ..functions import text as TXT
    from ..operators import curation

    docs = tables.load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    bench = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    # stage_sec is wall-clock diagnostics — no SQL analog, excluded from
    # the cross-engine value compare
    return (
        curation.curation_funnel(corpus, bench, pii_classes=TXT.PII_CLASSES)
        .drop("stage_sec")
        .orderBy("stage")
    )


def _profile_branch(col: str) -> str:
    return f"""
            SELECT '{col}' AS col_name, COUNT(*) AS n_rows,
                   COUNT(*) - COUNT({col}) AS n_null,
                   COUNT(DISTINCT {col}) AS n_distinct,
                   CAST(MIN({col}) AS VARCHAR) AS min_value,
                   CAST(MAX({col}) AS VARCHAR) AS max_value
            FROM documents"""


@query(
    "pipeline_profile_table",
    "single-pass per-column profile of the documents table "
    "(operators/profile.py, exact distincts for the oracle gate; the "
    "scale default is HyperLogLog approx_count_distinct): row/null/"
    "distinct counts and min/max per column",
    oracle=" UNION ALL ".join(
        _profile_branch(c)
        for c in ["doc_id", "lang", "n_chars", "source", "text"]
    )
    + " ORDER BY col_name",
)
def pipeline_profile_table_q(spark, sf_dir):
    from ..operators import profile

    docs = tables.load(spark, sf_dir, "documents")
    return profile.profile_table(docs, exact=True).orderBy("col_name")


# ---------------------------------------------------------------------------
# pipeline_temperature_mix (r7): temperature-scaled domain mixing plan
# (sampling.temperature_mix_plan, alpha=0.5) — target share ~ n^alpha,
# realized as the largest achievable subset. alpha pinned at 0.5 so the
# weight is sqrt(n) (correctly rounded per IEEE in every engine; general
# pow is last-ulp engine-dependent, which is why the catalog row pins
# this alpha while the operator takes any). Plan rows value-matched;
# the downsampling predicate itself is already certified by
# pipeline_sample_stats' literal-fraction rows.
# ---------------------------------------------------------------------------
@query(
    "pipeline_temperature_mix",
    "temperature mixing plan over languages (alpha=0.5, share ~ "
    "sqrt(n)): per-lang n_docs + keep fraction of the largest exact-"
    "proportion subset, value-matched to ROUND(6)",
    oracle="""
        WITH c AS (
            SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        ),
        w AS (SELECT lang, n_docs, sqrt(n_docs) AS wt FROM c),
        k AS (
            SELECT MIN(CAST(n_docs AS DOUBLE) / wt) AS sk FROM w
            WHERE wt > 0
        ),
        p AS (
            SELECT lang, n_docs,
                   CASE WHEN wt <= 0 THEN 0.0
                        ELSE LEAST(1.0, sk * wt / n_docs) END AS frac
            FROM w, k
        )
        SELECT lang, n_docs, ROUND(frac, 6) + 0 AS frac
        FROM p ORDER BY lang
    """,
)
def pipeline_temperature_mix_q(spark, sf_dir):
    from ..operators import sampling

    docs = tables.load(spark, sf_dir, "documents")
    plan = sampling.temperature_mix_plan(docs, alpha=0.5, group_col="lang")
    return plan.select(
        "lang",
        "n_docs",
        (F.round("frac", 6) + F.lit(0.0)).alias("frac"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# text_paragraph_dedup (r7): WITHIN-document duplicate-line removal
# (textops.dedup_paragraphs) — the intra-doc complement of corpus-level
# boilerplate removal. Pure array expressions (split -> normalize ->
# first-occurrence filter via array_position), zero shuffles; the twin
# fixture plants case/whitespace-variant repeated nav lines plus
# duplicated blank lines (kept: structure) so the normalization and the
# 0- vs 1-based lambda-index seam are both exercised. Full cleaned text
# value-matched per document.
# ---------------------------------------------------------------------------
_PARA_FIXTURE = (
    "'Nav Home About' || chr(10) || text || chr(10) || "
    "'Real content line ' || CAST(doc_id AS STRING) || '.' || chr(10) || "
    "chr(10) || 'Nav  home ABOUT' || chr(10) || chr(10) || "
    "'nav home about' || chr(10) || 'Closing line.'"
)


@query(
    "text_paragraph_dedup",
    "within-document duplicate-line removal (first occurrence kept, "
    "blank lines preserved, case/whitespace-insensitive match): the "
    "full cleaned text value-matched per document; keep = doc was "
    "already clean",
    oracle=rf"""
        WITH pages AS (
            SELECT doc_id, {_PARA_FIXTURE} AS page FROM documents
        ),
        norm AS (
            SELECT doc_id, page,
                   string_split(page, chr(10)) AS lines,
                   list_transform(
                       string_split(page, chr(10)),
                       s -> lower(trim(regexp_replace(s, '\s+', ' ', 'g')))
                   ) AS nl
            FROM pages
        ),
        clean AS (
            SELECT doc_id, page,
                   array_to_string(
                       list_filter(
                           lines,
                           (x, i) -> nl[i] = ''
                                     OR list_position(nl, nl[i]) = i
                       ), chr(10)) AS cleaned
            FROM norm
        )
        SELECT doc_id, cleaned AS detail, cleaned = page AS keep
        FROM clean ORDER BY doc_id
    """,
)
def text_paragraph_dedup_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    pages = docs.select("doc_id", F.expr(_PARA_FIXTURE).alias("page"))
    out = textops.dedup_paragraphs(pages, text_col="page", out_col="cleaned")
    return out.select(
        "doc_id",
        F.col("cleaned").alias("detail"),
        (F.col("cleaned") == F.col("page")).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# corpus_drift_report (r7): distribution drift between two corpus
# snapshots (profile.corpus_drift) — per-language share delta + total-
# variation distance, exact arithmetic (no logs), fixture snapshots =
# the doc_id parity halves. Folded into metrics_report_combo (native
# (metric, value) shape).
# ---------------------------------------------------------------------------
@query(
    "corpus_drift_report",
    "corpus drift between the doc_id-parity snapshot halves: per-lang "
    "share_delta (share_B - share_A) and tv_distance = SUM(|delta|)/2 — "
    "the new-crawl-drop sanity check, value-matched to ROUND(6)",
    oracle="""
        WITH a AS (
            SELECT lang IS NULL AS gn,
                   COALESCE(CAST(lang AS VARCHAR), '') AS gv,
                   COUNT(*) AS n_a FROM documents
            WHERE doc_id % 2 = 0 GROUP BY 1, 2
        ),
        b AS (
            SELECT lang IS NULL AS gn,
                   COALESCE(CAST(lang AS VARCHAR), '') AS gv,
                   COUNT(*) AS n_b FROM documents
            WHERE doc_id % 2 = 1 GROUP BY 1, 2
        ),
        j AS (
            SELECT CASE WHEN COALESCE(a.gn, b.gn)
                        THEN '<null>' ELSE COALESCE(a.gv, b.gv) END AS g,
                   COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
            FROM a FULL OUTER JOIN b ON a.gn = b.gn AND a.gv = b.gv
        ),
        d AS (
            SELECT g,
                   CAST(n_b AS DOUBLE) / SUM(n_b) OVER ()
                   - CAST(n_a AS DOUBLE) / SUM(n_a) OVER () AS delta
            FROM j
        )
        SELECT 'share_delta:' || g AS metric, ROUND(delta, 6) + 0 AS value
        FROM d
        UNION ALL
        SELECT 'tv_distance' AS metric,
               ROUND(SUM(ABS(delta)) / 2, 6) + 0 AS value
        FROM d
        ORDER BY metric
    """,
)
def corpus_drift_report_q(spark, sf_dir):
    from ..operators import profile

    docs = tables.load(spark, sf_dir, "documents")
    return profile.corpus_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        group_col="lang",
    ).orderBy("metric")


@query(
    "index_quantization_health",
    "per-list quantization distortion + assignment margin over the Q5 "
    "label-centroid assignment (kmeans.quantization_health): mean/max "
    "distance to own centroid and mean runner-up margin — the retrain "
    "signal the serving side watches",
    oracle=_ASSIGN_ORACLE_CTES.rstrip()
    + """,
        ranked AS (
            SELECT vec_id, list_id, d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d2, list_id) AS rn
            FROM dist
        ),
        own AS (SELECT vec_id, list_id, SQRT(d2) AS d FROM ranked WHERE rn = 1),
        sec AS (SELECT vec_id, SQRT(d2) AS ds FROM ranked WHERE rn = 2)
        SELECT CAST(own.list_id AS INTEGER) AS list_id, COUNT(*) AS n_vecs,
               ROUND(AVG(own.d), 6) AS mean_dist,
               ROUND(MAX(own.d), 6) AS max_dist,
               ROUND(AVG(sec.ds - own.d), 6) AS mean_margin
        FROM own JOIN sec USING (vec_id)
        GROUP BY own.list_id ORDER BY list_id
    """,
)
def index_quantization_health_q(spark, sf_dir):
    from ..operators import kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    C = kmeans.label_centroids(emb)
    return (
        kmeans.quantization_health(emb, C, vec_col="embedding")
        .select(
            "list_id",
            "n_vecs",
            F.round("mean_dist", 6).alias("mean_dist"),
            F.round("max_dist", 6).alias("max_dist"),
            F.round("mean_margin", 6).alias("mean_margin"),
        )
        .orderBy("list_id")
    )


@query(
    "pipeline_token_budget_mix",
    "token-budget corpus mixing (sampling.token_budget_mix): per-source "
    "fractions hitting a 2000-token budget at weights src0:1 src1:1 "
    "src2:2 (others dropped) — training mixes are specified in tokens, "
    "not documents; starved groups cap at frac 1",
    oracle=r"""
        WITH tokc AS (
            SELECT source, doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\s+'))
                   END AS tc
            FROM documents
        ),
        counts AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(tc) AS BIGINT) AS n_tokens
            FROM tokc GROUP BY 1
        ),
        wt AS (
            SELECT source, n_docs, n_tokens,
                   CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 1.0
                        WHEN 'src2' THEN 2.0 ELSE 0.0 END AS w
            FROM counts
        ),
        plan AS (
            SELECT source, n_docs, n_tokens,
                   (2000.0 * w) / 4.0 AS token_budget,
                   CASE WHEN n_tokens <= 0 THEN 0.0
                        ELSE least(1.0, ((2000.0 * w) / 4.0) / n_tokens)
                   END AS frac
            FROM wt
        ),
        kept AS (
            SELECT d.source, COUNT(*) AS kept_docs,
                   CAST(SUM(t.tc) AS BIGINT) AS kept_tokens
            FROM documents d
            JOIN tokc t USING (doc_id)
            JOIN plan p ON d.source = p.source
            WHERE p.frac >= 1.0 OR (p.frac > 0.0 AND
                  substr(md5(CAST(d.doc_id AS VARCHAR) || ':tokmix'), 1, 8)
                  < printf('%08x',
                           CAST(floor(p.frac * 4294967296) AS BIGINT)))
            GROUP BY 1
        )
        SELECT p.source, p.n_docs, p.n_tokens,
               ROUND(p.token_budget, 6) AS token_budget,
               ROUND(p.frac, 6) AS frac,
               COALESCE(kept_docs, 0) AS kept_docs,
               COALESCE(kept_tokens, 0) AS kept_tokens
        FROM plan p LEFT JOIN kept USING (source)
        ORDER BY p.source
    """,
)
def pipeline_token_budget_mix_q(spark, sf_dir):
    from ..functions import text as TXT
    from ..operators import sampling

    docs = tables.load(spark, sf_dir, "documents")
    weights = {"src0": 1.0, "src1": 1.0, "src2": 2.0}
    plan = sampling.token_budget_mix_plan(docs, 2000, weights)
    tok = TXT.token_count_expr("text").cast("long")
    kept = (
        sampling.token_budget_mix(docs, 2000, weights)
        .groupBy("source")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum(tok).alias("kept_tokens"),
        )
    )
    return (
        plan.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("token_budget", 6).alias("token_budget"),
            F.round("frac", 6).alias("frac"),
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        )
        .orderBy("source")
    )


@query(
    "text_bpe_pair_counts",
    "BPE merge training's counting core (operators/bpe.py): first-"
    "iteration adjacent character-pair frequencies over the word table, "
    "top 10 — the aggregation each merge round repeats; the full "
    "iterative trainer is differential-tested against a Python reference",
    oracle=r"""
        WITH wf AS (
            SELECT word, COUNT(*) AS freq FROM (
                SELECT unnest(
                    regexp_split_to_array(lower(trim(text)), '\s+')) AS word
                FROM documents WHERE length(trim(text)) > 0)
            GROUP BY 1
        ),
        pc AS (
            SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
                   substr(word, CAST(i AS INTEGER) + 1, 1) AS b,
                   CAST(SUM(freq) AS BIGINT) AS cnt
            FROM wf, LATERAL unnest(range(1, greatest(length(word), 1))) t(i)
            GROUP BY 1, 2
        )
        SELECT a, b, cnt FROM pc ORDER BY cnt DESC, a, b LIMIT 10
    """,
)
def text_bpe_pair_counts_q(spark, sf_dir):
    from ..operators import bpe

    docs = tables.load(spark, sf_dir, "documents")
    wf = bpe.with_symbols(bpe.word_freq(docs))
    return (
        bpe.pair_counts(wf)
        .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# text_byte_pretoken_stats (r8): the byte-level-BPE counting core — GPT-2
# regex pretokenization stats per document. The SQL-checkable pattern is
# the RE2-safe ASCII variant of the GPT-2 pretokenizer (no \p classes, no
# trailing-space lookahead — Java regex and RE2 agree token-for-token on
# it); the EXACT GPT-2 pattern drives operators/bpe.py's byte trainer and
# is differentially tested against a pure-Python reference
# (tests/test_bpe.py), mirroring how the word-level trainer is certified
# by text_bpe_pair_counts + differentials. Folded into text_lm_combo.
# ---------------------------------------------------------------------------
_BYTE_PRETOKEN_RE2 = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"
)


@query(
    "text_byte_pretoken_stats",
    "byte-level tokenizer pretoken stats per doc: GPT-2-convention regex "
    "pretokenization (RE2-safe ASCII variant) of the lowercased text — "
    "pretoken count, mean bytes/pretoken, whitespace-pretoken rate; the "
    "counting core the byte-BPE trainer aggregates, value-matched to "
    "ROUND(6)",
    oracle=f"""
        WITH tk AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text),
                       '{_BYTE_PRETOKEN_RE2.replace("'", "''")}', 0)) AS tok
            FROM documents
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_pretokens,
               ROUND(CAST(SUM(strlen(tok)) AS DOUBLE) / COUNT(*), 6) + 0
                   AS bytes_per_pretoken,
               ROUND(CAST(SUM(CASE WHEN regexp_matches(tok, '^\\s+$')
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) + 0 AS ws_rate
        FROM tk GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_byte_pretoken_stats_q(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(_BYTE_PRETOKEN_RE2), 0
    )
    t = docs.select("doc_id", F.explode(toks).alias("tok"))
    return (
        t.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pretokens"),
            (
                F.round(
                    F.sum(F.octet_length("tok")).cast("double")
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)
            ).alias("bytes_per_pretoken"),
            (
                F.round(
                    F.sum(
                        F.when(F.col("tok").rlike(r"^\s+$"), 1).otherwise(0)
                    ).cast("double")
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)
            ).alias("ws_rate"),
        )
        .orderBy("doc_id")
    )


@query(
    "ivf_recall_sweep",
    "mean recall@10 per nprobe in (1,2,4,8) over the 5-query sample "
    "(metrics.recall_sweep) — the recall/latency curve that completes the "
    "reference's declared-but-absent recall_test.cpp; probe ranking, "
    "pruned scan, and recall recomputed exactly in SQL per nprobe",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        , nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INTEGER) AS np),
        pr AS (
            SELECT vec_id AS query_id, list_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, list_id) AS rn
            FROM dist WHERE vec_id < 5
        ),
        qprobe AS (
            SELECT n.np, p.query_id, p.list_id
            FROM pr p CROSS JOIN nps n WHERE p.rn <= n.np
        ),
        cand AS (
            SELECT qp.np, qp.query_id, a.vec_id
            FROM qprobe qp JOIN assign a ON a.list_id = qp.list_id
        ),
        cdist AS (
            SELECT c.np, c.query_id, c.vec_id,
                   SUM((av.v - qv.v) * (av.v - qv.v)) AS d2
            FROM cand c
            JOIN un av ON av.vec_id = c.vec_id
            JOIN un qv ON qv.vec_id = c.query_id AND qv.pos = av.pos
            GROUP BY c.np, c.query_id, c.vec_id
        ),
        approxk AS (
            SELECT np, query_id, vec_id FROM (
                SELECT np, query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY np, query_id
                                          ORDER BY d2, vec_id) AS rn
                FROM cdist) t
            WHERE rn <= 10
        ),
        edist AS (
            SELECT qv.vec_id AS query_id, av.vec_id,
                   SUM((av.v - qv.v) * (av.v - qv.v)) AS d2
            FROM un av
            JOIN (SELECT * FROM un WHERE vec_id < 5) qv ON qv.pos = av.pos
            GROUP BY qv.vec_id, av.vec_id
        ),
        exactk AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d2, vec_id) AS rn
                FROM edist) t
            WHERE rn <= 10
        ),
        perq AS (
            SELECT n.np, e.query_id,
                   SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE) AS recall
            FROM exactk e CROSS JOIN nps n
            LEFT JOIN approxk a
              ON a.np = n.np AND a.query_id = e.query_id
                 AND a.vec_id = e.vec_id
            GROUP BY n.np, e.query_id
        )
        SELECT np AS nprobe, ROUND(AVG(recall), 6) AS mean_recall
        FROM perq GROUP BY np ORDER BY nprobe
    """,
)
def ivf_recall_sweep_q(spark, sf_dir):
    from ..metrics import recall_sweep

    idx, corpus, qdf = _build_emb_index(spark, sf_dir, "q_ivf_recall", D.L2)
    return recall_sweep(idx, corpus, qdf, k=10, nprobes=(1, 2, 4, 8)).select(
        "nprobe", F.round("mean_recall", 6).alias("mean_recall")
    )


@query(
    "ivf_recall_operating_point",
    "recall_target as POLICY (r11 verdict #2 — completes the reference's "
    "declared-but-absent recall evaluator, bench/CMakeLists.txt:29-44, "
    "server/query_service.h:201-202): IVFIndex.tune_recall sweeps nprobe "
    "in (1,2,4,8) at target 0.6 — since r13 via the ONE-PASS prefix-rank "
    "derivation (metrics.recall_sweep_onepass: every candidate's recall "
    "from a single exact ground-truth pass, no per-candidate searches) — "
    "stamps the smallest candidate meeting it (+ measured recall) into "
    "the epoch manifest, and the row re-reads the STAMPED values from "
    "disk; the oracle recomputes the whole sweep AND the choice rule in "
    "SQL, so a wrong stamp, a wrong one-pass derivation, or a wrong "
    "default applied by search(nprobe=None) hash-mismatches",
    oracle=_ASSIGN_ORACLE_CTES
    + """
        , nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INTEGER) AS np),
        pr AS (
            SELECT vec_id AS query_id, list_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, list_id) AS rn
            FROM dist WHERE vec_id < 5
        ),
        qprobe AS (
            SELECT n.np, p.query_id, p.list_id
            FROM pr p CROSS JOIN nps n WHERE p.rn <= n.np
        ),
        cand AS (
            SELECT qp.np, qp.query_id, a.vec_id
            FROM qprobe qp JOIN assign a ON a.list_id = qp.list_id
        ),
        cdist AS (
            SELECT c.np, c.query_id, c.vec_id,
                   SUM((av.v - qv.v) * (av.v - qv.v)) AS d2
            FROM cand c
            JOIN un av ON av.vec_id = c.vec_id
            JOIN un qv ON qv.vec_id = c.query_id AND qv.pos = av.pos
            GROUP BY c.np, c.query_id, c.vec_id
        ),
        approxk AS (
            SELECT np, query_id, vec_id FROM (
                SELECT np, query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY np, query_id
                                          ORDER BY d2, vec_id) AS rn
                FROM cdist) t
            WHERE rn <= 10
        ),
        edist AS (
            SELECT qv.vec_id AS query_id, av.vec_id,
                   SUM((av.v - qv.v) * (av.v - qv.v)) AS d2
            FROM un av
            JOIN (SELECT * FROM un WHERE vec_id < 5) qv ON qv.pos = av.pos
            GROUP BY qv.vec_id, av.vec_id
        ),
        exactk AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d2, vec_id) AS rn
                FROM edist) t
            WHERE rn <= 10
        ),
        perq AS (
            SELECT n.np, e.query_id,
                   SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE) AS recall
            FROM exactk e CROSS JOIN nps n
            LEFT JOIN approxk a
              ON a.np = n.np AND a.query_id = e.query_id
                 AND a.vec_id = e.vec_id
            GROUP BY n.np, e.query_id
        ),
        means AS (
            SELECT np, AVG(recall) AS mean_recall FROM perq GROUP BY np
        ),
        chosen AS (
            SELECT COALESCE(MIN(CASE WHEN mean_recall >= 0.6 THEN np END),
                            MAX(np)) AS np
            FROM means
        )
        SELECT metric, value FROM (
            SELECT 'suggested_nprobe' AS metric,
                   CAST(c.np AS DOUBLE) AS value
            FROM chosen c
            UNION ALL
            SELECT 'measured_recall', ROUND(m.mean_recall, 6)
            FROM means m JOIN chosen c ON m.np = c.np
            UNION ALL
            SELECT 'target_met',
                   CASE WHEN m.mean_recall >= 0.6 THEN 1.0 ELSE 0.0 END
            FROM means m JOIN chosen c ON m.np = c.np
        ) ORDER BY metric
    """,
)
def ivf_recall_operating_point_q(spark, sf_dir):
    idx, corpus, qdf = _build_emb_index(spark, sf_dir, "q_ivf_recall", D.L2)
    stamp = idx.tune_recall(
        corpus, target_recall=0.6, queries=qdf, k=10, nprobes=(1, 2, 4, 8)
    )
    # re-read from DISK, not the returned dict: the row certifies the
    # stamp round-trips through the manifest that search(nprobe=None)
    # will actually consult
    ex = dict(idx.manager.read_manifest(idx.epoch).extra)
    # ...then UNSTAMP: this index is the process-wide shared build
    # (_INDEX_CACHE) — leaving the stamp behind would flip every later
    # defaulted-nprobe search in the process to this row's tuned point,
    # an ordering dependency between catalog queries
    idx.manifest = idx.manager.update_manifest_extra(
        idx.epoch, {}, remove=tuple(stamp)
    )
    # stamp keys are namespaced by serving surface since r13
    # (ivf.resolve_nprobe) — this row tunes the flat handle
    rows = [
        ("measured_recall", round(float(ex["measured_recall_flat"]), 6)),
        ("suggested_nprobe", float(ex["suggested_nprobe_flat"])),
        ("target_met", 1.0 if ex["recall_target_met_flat"] else 0.0),
    ]
    return spark.createDataFrame(
        rows, "metric string, value double"
    ).orderBy("metric")


@query(
    "pipeline_curriculum_bins",
    "curriculum binning (textops.curriculum_bins, exact NTILE path): rank "
    "docs by quality into 4 equal-count tiers, per-tier stats — the table "
    "a staged-training schedule consumes; scale path is approx-percentile "
    "thresholds (same schema, no global sort)",
    oracle=rf"""
        WITH base AS (
            SELECT doc_id, {TXT_QUALITY_SQL} AS quality,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\s+'))
                   END AS tc
            FROM documents
        ),
        binned AS (
            SELECT *, NTILE(4) OVER (ORDER BY quality DESC, doc_id) AS bin
            FROM base
        )
        SELECT CAST(bin AS INTEGER) AS bin, COUNT(*) AS n_docs,
               ROUND(MIN(quality), 6) AS min_quality,
               ROUND(MAX(quality), 6) AS max_quality,
               ROUND(AVG(tc), 6) AS avg_tokens
        FROM binned GROUP BY bin ORDER BY bin
    """,
)
def pipeline_curriculum_bins_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    return (
        textops.curriculum_bins(docs, n_bins=4, exact=True)
        .select(
            "bin",
            "n_docs",
            F.round("min_quality", 6).alias("min_quality"),
            F.round("max_quality", 6).alias("max_quality"),
            F.round("avg_tokens", 6).alias("avg_tokens"),
        )
        .orderBy("bin")
    )


@query(
    "embedding_shift_report",
    "per-dimension distribution shift between two embedding snapshots "
    "(ann.embedding_shift; here even vs odd vec_ids): means, sample "
    "variances, standardized mean difference — the new-crawl-looks-"
    "different alarm",
    oracle=f"""
        WITH {UN_EMB},
        ma AS (
            SELECT pos, COUNT(*) AS n_a, AVG(v) AS mean_a,
                   VAR_SAMP(v) AS var_a
            FROM un WHERE vec_id % 2 = 0 GROUP BY 1
        ),
        mb AS (
            SELECT pos, COUNT(*) AS n_b, AVG(v) AS mean_b,
                   VAR_SAMP(v) AS var_b
            FROM un WHERE vec_id % 2 = 1 GROUP BY 1
        )
        SELECT CAST(ma.pos AS INTEGER) AS pos, n_a, n_b,
               ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
               ROUND(var_a, 6) AS var_a, ROUND(var_b, 6) AS var_b,
               ROUND(ABS(mean_a - mean_b)
                     / SQRT((var_a + var_b) / 2.0), 6) AS smd
        FROM ma JOIN mb USING (pos) ORDER BY pos
    """,
)
def embedding_shift_report_q(spark, sf_dir):
    from ..operators import ann

    emb = tables.load(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return (
        ann.embedding_shift(a, b)
        .select(
            F.col("pos").cast("int").alias("pos"),
            "n_a",
            "n_b",
            F.round("mean_a", 6).alias("mean_a"),
            F.round("mean_b", 6).alias("mean_b"),
            F.round("var_a", 6).alias("var_a"),
            F.round("var_b", 6).alias("var_b"),
            F.round("smd", 6).alias("smd"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# text_chunking / text_chunk_dedup: overlapping token-window chunking with
# provenance (textops.chunk_documents) and chunk-level exact dedup — the
# pre-embedding unit-of-work stage of a RAG/training pipeline.
# ---------------------------------------------------------------------------
_CHUNK_CTES = r"""
        toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n
            FROM documents WHERE length(trim(text)) > 0
        ),
        starts AS (
            SELECT doc_id, t, n, unnest(range(0, CAST(n AS BIGINT), 24)) AS s
            FROM toks
        ),
        keep AS (
            SELECT doc_id, t, n, s,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s)
                        - 1 AS INTEGER) AS chunk_id
            FROM starts WHERE s = 0 OR s + 8 < n
        ),
        chunks AS (
            SELECT doc_id, chunk_id, CAST(s AS INTEGER) AS start_token,
                   t[s + 1 : least(s + 32, n)] AS ct
            FROM keep
        )
"""


@query(
    "text_chunking",
    "overlapping token-window chunking (max_tokens=32, overlap=8) with "
    "doc/offset provenance — textops.chunk_documents; windowing contract "
    "pinned by hashing each chunk's text",
    oracle="WITH "
    + _CHUNK_CTES
    + """
        SELECT doc_id, chunk_id, start_token,
               CAST(len(ct) AS INTEGER) AS n_tokens,
               md5(array_to_string(ct, ' ')) AS chunk_hash
        FROM chunks WHERE doc_id < 40
        ORDER BY doc_id, chunk_id
    """,
)
def text_chunking_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    ch = textops.chunk_documents(docs, max_tokens=32, overlap=8)
    return (
        ch.filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            "chunk_id",
            "start_token",
            "n_tokens",
            F.md5(F.col("chunk_text").cast("binary")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# text_sentence_chunks (r7): sentence-aligned chunking — terminal-
# punctuation sentence split (LITERAL boundary replaces, no lookbehind:
# identical programs in Java regex and RE2) + prefix-token-sum chunk
# assignment (Spark: in-array F.aggregate running total, no window/no
# shuffle; oracle: SUM OVER ROWS UNBOUNDED PRECEDING AND 1 PRECEDING).
# Full chunk TEXT value-matched per (doc, chunk).
# ---------------------------------------------------------------------------
@query(
    "text_sentence_chunks",
    "sentence-aligned chunking (textops.sentence_chunks, max_tokens=64): "
    "sentences never split mid-way, chunk = floor(prefix_tokens / 64); "
    "per-chunk sentence/token counts and the full rebuilt chunk text "
    "value-matched against the DuckDB window-recompute",
    oracle=r"""
        WITH norm AS (
            SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
            FROM documents
        ),
        marked AS (
            SELECT doc_id,
                   replace(replace(replace(t, '. ', '.' || chr(1)),
                           '! ', '!' || chr(1)), '? ', '?' || chr(1)) AS t
            FROM norm
        ),
        sarr AS (SELECT doc_id, string_split(t, chr(1)) AS sa FROM marked),
        s0 AS (
            SELECT doc_id, unnest(sa) AS sent,
                   generate_subscripts(sa, 1) AS i
            FROM sarr
        ),
        s AS (
            SELECT doc_id, sent,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS idx,
                   CAST(len(regexp_split_to_array(trim(sent), '\s+'))
                        AS BIGINT) AS tc
            FROM s0 WHERE length(trim(sent)) > 0
        ),
        pre AS (
            SELECT doc_id, sent, idx, tc,
                   COALESCE(SUM(tc) OVER (
                       PARTITION BY doc_id ORDER BY idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prefix
            FROM s
        ),
        ch AS (
            SELECT doc_id,
                   CAST(floor(prefix / 64.0) AS INTEGER) AS chunk_id,
                   sent, idx, tc
            FROM pre
        )
        SELECT doc_id, chunk_id,
               CAST(COUNT(*) AS INTEGER) AS n_sentences,
               CAST(SUM(tc) AS BIGINT) AS n_tokens,
               string_agg(sent, ' ' ORDER BY idx) AS chunk_text
        FROM ch GROUP BY doc_id, chunk_id
        ORDER BY doc_id, chunk_id
    """,
)
def text_sentence_chunks_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    return textops.sentence_chunks(docs, max_tokens=64).orderBy(
        "doc_id", "chunk_id"
    )


@query(
    "text_chunk_dedup",
    "chunk-granularity exact dedup over the full corpus "
    "(textops.chunk_dedup_stats) — catches boilerplate shared across "
    "distinct documents that doc-level dedup misses",
    oracle="WITH "
    + _CHUNK_CTES
    + """,
        hashed AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(array_to_string(ct, ' '))),
                                      '\\s+', ' ', 'g')) AS h,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(regexp_replace(
                           lower(trim(array_to_string(ct, ' '))),
                           '\\s+', ' ', 'g'))
                       ORDER BY doc_id) AS rn
            FROM chunks
        )
        SELECT COUNT(*) AS total_chunks,
               COUNT(DISTINCT h) AS distinct_chunks,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS dup_chunks,
               COUNT(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS docs_affected
        FROM hashed
    """,
)
def text_chunk_dedup_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    ch = textops.chunk_documents(docs, max_tokens=32, overlap=8)
    return textops.chunk_dedup_stats(ch)


# ---------------------------------------------------------------------------
# bq_hamming_topk / bq_rerank: the 1-bit binary-quantization tier
# (operators/bq.py) — sign bits vs trained per-dim means, symmetric Hamming
# scan, optional exact rerank. Both stages value-matched in SQL.
# ---------------------------------------------------------------------------
_BQ_BITS_CTES = f"""
        WITH {UN_EMB},
        m AS (SELECT pos, AVG(v) AS mu FROM un GROUP BY pos),
        bits AS (
            SELECT un.vec_id, un.pos,
                   CASE WHEN un.v > m.mu THEN 1 ELSE 0 END AS b
            FROM un JOIN m USING (pos)
        ),
        qb AS (
            SELECT vec_id AS query_id, pos, b AS qbit
            FROM bits WHERE vec_id < 5
        ),
        h AS (
            SELECT q.query_id, a.vec_id,
                   CAST(SUM(CASE WHEN a.b <> q.qbit THEN 1 ELSE 0 END)
                        AS DOUBLE) AS dist_raw
            FROM bits a JOIN qb q ON a.pos = q.pos
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM h
        )
"""


def _build_bq_index(spark, sf_dir):
    from ..operators import bq

    idx, _, qdf = _build_emb_index(spark, sf_dir, "q_ivf_full", D.L2)
    key = (sf_dir, "bq1")
    bq_idx = _INDEX_CACHE.get(key)
    if bq_idx is None:
        bq_idx = bq.IVFBQIndex.build_from_ivf(idx)
        _INDEX_CACHE[key] = bq_idx
    return bq_idx, qdf


@query(
    "bq_hamming_topk",
    "binary-quantization search at full probe: top-10 by Hamming distance "
    "between packed sign-bit codes (bit = value > per-dim corpus mean) — "
    "train/encode/XOR-popcount pipeline value-matched in SQL",
    oracle=_BQ_BITS_CTES
    + """
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def bq_hamming_topk_q(spark, sf_dir):
    bq_idx, qdf = _build_bq_index(spark, sf_dir)
    res = bq_idx.search(qdf, k=10, nprobe=bq_idx.nlist)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


@query(
    "bq_rerank",
    "binary-quantization two-stage retrieval: Hamming top-50 shortlist, "
    "then exact L2 re-scoring to top-10 — shortlist membership AND final "
    "exact ranking both replicated in SQL",
    oracle=_BQ_BITS_CTES
    + """
        , short AS (SELECT query_id, vec_id FROM r WHERE rank <= 50),
        ed AS (
            SELECT s.query_id, s.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM short s
            JOIN un a ON a.vec_id = s.vec_id
            JOIN (SELECT vec_id AS query_id, pos, v AS qv
                  FROM un WHERE vec_id < 5) q
              ON q.query_id = s.query_id AND q.pos = a.pos
            GROUP BY s.query_id, s.vec_id
        ),
        er AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM ed
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM er WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def bq_rerank_q(spark, sf_dir):
    bq_idx, qdf = _build_bq_index(spark, sf_dir)
    res = bq_idx.search(
        qdf, k=10, nprobe=bq_idx.nlist, rerank_exact=True, rerank_k=50
    )
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# ann_grouped_topk / ann_hard_negatives: faceted search and contrastive
# hard-negative mining (knn.grouped_knn / knn.mine_hard_negatives).
# ---------------------------------------------------------------------------
@query(
    "ann_grouped_topk",
    "faceted exact search: top-2 nearest per (query, label-group) under "
    "squared L2 — per-batch per-group partial top-k, final (query, group) "
    "window merge",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv
              FROM un WHERE vec_id < 3),
        d AS (
            SELECT q.query_id, e.label AS grp, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a
            JOIN q ON a.pos = q.pos
            JOIN embeddings e ON e.vec_id = a.vec_id
            GROUP BY q.query_id, e.label, a.vec_id
        ),
        r AS (
            SELECT query_id, grp, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id, grp
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, grp, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 2 ORDER BY query_id, grp, rank
    """,
)
def ann_grouped_topk_q(spark, sf_dir):
    from ..operators import knn as knn_ops

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vector"),
        "label",
    )
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = knn_ops.grouped_knn(corpus, qdf, k=2, group_col="label", metric=D.L2)
    return res.select(
        "query_id",
        F.col("group").alias("grp"),
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "grp", "rank")


@query(
    "ann_hard_negatives",
    "contrastive hard-negative mining: per anchor, the 5 nearest vectors "
    "with a DIFFERENT label (same-label columns masked to +inf inside the "
    "distance-block scan) — near-misses for training-pair generation",
    oracle=f"""
        WITH {UN_EMB},
        q AS (
            SELECT u.vec_id AS query_id, u.pos, u.v AS qv, e.label AS qlabel
            FROM un u JOIN embeddings e ON e.vec_id = u.vec_id
            WHERE u.vec_id < 5
        ),
        d AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS dist_raw
            FROM un a
            JOIN q ON a.pos = q.pos
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            WHERE ea.label <> q.qlabel
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, vec_id) AS INTEGER) AS rank
            FROM d
        )
        SELECT query_id, rank, vec_id, ROUND(dist_raw, 6) AS dist
        FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def ann_hard_negatives_q(spark, sf_dir):
    from ..operators import knn as knn_ops

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vector"),
        "label",
    )
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        "label",
    )
    res = knn_ops.mine_hard_negatives(corpus, anchors, k=5, metric=D.L2)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
def _cluster_dup_pairs_cached(spark, sf_dir):
    """The cluster-blocked near-dup pair graph at the catalog params,
    persisted once per process: dedup_cluster_blocked and dedup_semantic
    run the identical generation pass (same centroids/tau/metric/assign),
    so the second row reuses the first's edges instead of re-blocking the
    corpus (VERDICT r6 catalog-cost-hygiene item)."""
    from ..operators import ann, kmeans

    key = (sf_dir, "cluster_dup_pairs")
    pairs = _INDEX_CACHE.get(key)
    if pairs is None:
        emb = tables.load(spark, sf_dir, "embeddings")
        C = kmeans.label_centroids(emb)
        # assign_metric pinned to L2: the SQL oracle's assignment CTE
        # ranks buckets by squared-L2 (ORDER BY d2, list_id)
        pairs = ann.cluster_near_dup_pairs(
            emb, C, tau=COSINE_DUP_TAU, metric=D.COSINE, assign_m=2,
            assign_metric=D.L2,
        ).persist()
        _INDEX_CACHE[key] = pairs
    return pairs


# ---------------------------------------------------------------------------
# dedup_cluster_blocked: the IVF coarse quantizer as the near-dup blocking
# function (ann.cluster_near_dup_pairs) — candidates share one of their 2
# nearest label-mean centroids, verified exactly. Whole pipeline (multi-
# assignment, bucket join, cosine verify) value-matched in SQL.
# ---------------------------------------------------------------------------
@query(
    "dedup_cluster_blocked",
    "cluster-bucketed embedding near-dup: multi-assignment (2 nearest "
    "label-mean centroids) as the blocking key, exact cosine verification "
    "below tau — reuses the index's own routing pass as the dedup blocker",
    oracle=f"""
        WITH {UN_EMB},
        cent AS (
            SELECT e.label AS list_id, u.pos, AVG(u.v) AS c
            FROM embeddings e
            JOIN un u ON u.vec_id = e.vec_id
            GROUP BY e.label, u.pos
        ),
        dist AS (
            SELECT u.vec_id, cent.list_id,
                   SUM((u.v - cent.c) * (u.v - cent.c)) AS d2
            FROM un u JOIN cent ON u.pos = cent.pos
            GROUP BY u.vec_id, cent.list_id
        ),
        assign2 AS (
            SELECT vec_id, list_id FROM (
                SELECT vec_id, list_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY d2, list_id) AS rn
                FROM dist) t
            WHERE rn <= 2
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
            FROM assign2 a
            JOIN assign2 b
              ON a.list_id = b.list_id AND a.vec_id < b.vec_id
        ),
        norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM un GROUP BY vec_id),
        verified AS (
            SELECT c.vec_id_a, c.vec_id_b,
                   1 - SUM(a.v * b.v) / (na.nrm * nb.nrm + 1e-8) AS d2
            FROM cand c
            JOIN un a ON a.vec_id = c.vec_id_a
            JOIN un b ON b.vec_id = c.vec_id_b AND b.pos = a.pos
            JOIN norms na ON na.vec_id = c.vec_id_a
            JOIN norms nb ON nb.vec_id = c.vec_id_b
            GROUP BY c.vec_id_a, c.vec_id_b, na.nrm, nb.nrm
        )
        SELECT vec_id_a, vec_id_b, ROUND(d2, 6) AS cos_dist
        FROM verified WHERE d2 < {COSINE_DUP_TAU}
        ORDER BY vec_id_a, vec_id_b
    """,
)
def dedup_cluster_blocked_q(spark, sf_dir):
    return (
        _cluster_dup_pairs_cached(spark, sf_dir)
        .select("vec_id_a", "vec_id_b", F.round("d2", 6).alias("cos_dist"))
        .orderBy("vec_id_a", "vec_id_b")
    )


# ---------------------------------------------------------------------------
# index_sq_delta_codes: O(delta) SQ maintenance over a delta chain — params
# trained on the BASE half only, the incremental-add epoch encoded
# scope="delta" with inherited params, the folded chain's code BYTES
# value-matched in SQL (SQ is deterministic, so unlike PQ's count-only
# delta row the actual quantized values are checkable).
# ---------------------------------------------------------------------------
@query(
    "index_sq_delta_codes",
    "incremental SQ8 maintenance: base epoch trains [vmin,vmax] and encodes "
    "scope='chain'; the delta epoch (odd vec_ids, incremental add) encodes "
    "only its own vectors with the INHERITED params; per-vector code-byte "
    "sums over the folded chain match the SQL-recomputed quantization",
    oracle=f"""
        WITH {UN_EMB},
        params AS (
            SELECT pos, MIN(v) AS vmin, MAX(v) AS vmax
            FROM un WHERE vec_id % 2 = 0 GROUP BY pos
        ),
        codes AS (
            SELECT u.vec_id,
                   CASE WHEN p.vmax = p.vmin THEN 0
                        ELSE CAST(FLOOR(LEAST(GREATEST(
                                 (u.v - p.vmin) / (p.vmax - p.vmin), 0.0),
                                 1.0) * 255 + 0.5) AS BIGINT)
                   END AS c
            FROM un u JOIN params p USING (pos)
        )
        SELECT vec_id, CAST(SUM(c) AS BIGINT) AS code_sum
        FROM codes WHERE vec_id < 25
        GROUP BY vec_id ORDER BY vec_id
    """,
)
def index_sq_delta_codes_q(spark, sf_dir):
    from ..operators import sq as SQ

    key = (sf_dir, "sq_delta")
    sq_idx = _INDEX_CACHE.get(key)
    if sq_idx is None:
        base, delta = _build_half_chain(spark, sf_dir)
        # sq codes append alongside the pq row's sidecar kind — no
        # collision, order-free (params train on the base half as before)
        SQ.IVFSQIndex.build_from_ivf(base)
        sq_idx = SQ.IVFSQIndex.encode_delta(delta)
        _INDEX_CACHE[key] = sq_idx

    d = int(sq_idx.dimension)  # plain int: the closure must not capture
    # the index handle (it holds the SparkSession — unpicklable on workers)

    def byte_sums(batches):
        import numpy as np

        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = AK.binary_matrix(rb, "codes", d)
            yield AK.batch(
                vec_id=AK.column(rb, "id", np.int64),
                code_sum=C.sum(axis=1, dtype=np.int64),
            )

    return (
        sq_idx.codes.filter(F.col("id") < 25)
        .select("id", "codes")
        .mapInArrow(byte_sums, schema="vec_id long, code_sum long")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# pq_opq_invariants: OPQ-lite rotated PQ (pq.train_rotation — PCA eigenbasis
# + eigenvalue allocation, Ge et al. CVPR'13). The rotation itself has no
# SQL analog (eigendecomposition), so the oracle is the invariants pattern
# (same as pca_project_invariants): hard-checkable booleans that must all
# be TRUE — orthonormality, exact Gram preservation (rotation preserves
# L2/IP/cosine), and ADC recall not worse than plain PQ at equal budget.
# ---------------------------------------------------------------------------
@query(
    "pq_opq_invariants",
    "OPQ-lite: PCA-rotated, variance-balanced PQ over the embeddings — "
    "rotation orthonormal, Gram matrix preserved exactly, rotated-ADC "
    "recall >= plain-PQ recall at the same (m, nbits, nprobe) budget",
    oracle="""
        SELECT 'allocation_balances_variance' AS chk, TRUE AS ok
        UNION ALL SELECT 'gram_preserved', TRUE
        UNION ALL SELECT 'rotation_orthonormal', TRUE
        ORDER BY chk
    """,
)
def pq_opq_invariants_q(spark, sf_dir):
    # The checks are the rotation's THEOREM-backed properties, so they are
    # deterministic at any scale: orthonormality, exact Gram preservation,
    # and the eigenvalue-allocation guarantee (the per-subspace variance
    # of the rotated corpus is no more spread than under the plain
    # variance-descending PCA ordering of the SAME eigenbasis — PCA order
    # is the most imbalanced arrangement of the eigenvalue multiset). The
    # recall-improves-on-correlated-data claim lives in pytest
    # (tests/test_pq.py), where the corpus is constructed to be
    # correlated; the 500-row driver embeddings are near-isotropic and a
    # 16-codeword quantizer memorizes them, so recall deltas there are
    # noise, not signal.
    import numpy as np

    from ..operators import pca
    from ..operators import pq as PQ

    m = 16
    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    R = PQ.train_rotation(emb, m)
    d = R.shape[0]
    ortho = bool(np.abs(R @ R.T - np.eye(d)).max() < 1e-8)

    V = np.array(
        [r["vector"] for r in emb.limit(64).collect()], dtype=np.float64
    )
    P = V @ R.T
    gram = bool(np.abs(V @ V.T - P @ P.T).max() < 1e-6)

    mean, C, _n = pca.covariance(emb, "vector")
    w, v = np.linalg.eigh(C)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    dsub = d // m

    def spread(W):
        var = np.diag(W @ C @ W.T).reshape(m, dsub).sum(axis=1)
        return float(var.max() / max(var.min(), 1e-300))

    balanced = bool(spread(R) <= spread(v.T) * (1 + 1e-9))
    rows = [
        ("allocation_balances_variance", balanced),
        ("gram_preserved", gram),
        ("rotation_orthonormal", ortho),
    ]
    return spark.createDataFrame(rows, "chk string, ok boolean").orderBy("chk")


# ---------------------------------------------------------------------------
# dedup_containment: asymmetric near-containment (dedup.containment_pairs)
# — |shingles(inner) ∩ shingles(outer)| / |shingles(inner)| per DIRECTED
# pair; the quote/boilerplate-wrapping signal symmetric Jaccard misses.
# Exact value-match in SQL (same shingle CTE family as the Jaccard oracle).
# ---------------------------------------------------------------------------
@query(
    "dedup_containment",
    "asymmetric 3-gram containment pairs (threshold 0.5): short documents "
    "subsumed by longer ones score containment ~1.0 where Jaccard tends "
    "to 0 — both directions evaluated from one shared-shingle count",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
                   || ' ' || w[CAST(i AS INTEGER)+2] AS shingle
            FROM toks, LATERAL unnest(range(1, greatest(array_length(w) - 1, 1))) t(i)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        sized AS (
            SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c,
                   MIN(na.n) AS na, MIN(nb.n) AS nb
            FROM sh a
            JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            JOIN sizes na ON na.doc_id = a.doc_id
            JOIN sizes nb ON nb.doc_id = b.doc_id
            GROUP BY 1, 2
        ),
        directed AS (
            SELECT da AS inner_id, db AS outer_id, c * 1.0 / na AS ct FROM sized
            UNION ALL
            SELECT db, da, c * 1.0 / nb FROM sized
        )
        SELECT inner_id, outer_id, ROUND(ct, 6) AS containment
        FROM directed WHERE ct >= 0.5
        ORDER BY inner_id, outer_id
    """,
)
def dedup_containment_q(spark, sf_dir):
    from ..operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    return (
        dedup.containment_pairs(docs, tau=0.5, n=3)
        .select(
            "inner_id",
            "outer_id",
            F.round("containment", 6).alias("containment"),
        )
        .orderBy("inner_id", "outer_id")
    )


# ---------------------------------------------------------------------------
# dedup_fuzzy_edit: edit-distance-verified fuzzy pairs
# (dedup.fuzzy_edit_pairs) — MinHash-LSH candidates at jaccard_floor=0.3
# confirmed by exact Levenshtein (edit_sim >= 0.8). Exact value-match: the
# oracle recomputes the SAME candidate tier (exact Jaccard >= 0.3; the LSH
# equivalence argument is dedup_minhash_lsh's) and DuckDB's levenshtein —
# both engines count unicode codepoints.
# ---------------------------------------------------------------------------
@query(
    "dedup_fuzzy_edit",
    "fuzzy duplicate pairs: MinHash-LSH candidates (j>=0.3) verified by "
    "exact Levenshtein edit similarity >= 0.8 — the character-level "
    "confirmation tier over the shingle-set tier, JVM levenshtein built-in",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
                   || ' ' || w[CAST(i AS INTEGER)+2] AS shingle
            FROM toks, LATERAL unnest(range(1, greatest(array_length(w) - 1, 1))) t(i)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        jp AS (
            SELECT doc_id_a, doc_id_b
            FROM inter
            JOIN sizes na ON doc_id_a = na.doc_id
            JOIN sizes nb ON doc_id_b = nb.doc_id
            WHERE c * 1.0 / (na.n + nb.n - c) >= 0.3
        ),
        verified AS (
            SELECT p.doc_id_a, p.doc_id_b,
                   CAST(levenshtein(da.text, db.text) AS INTEGER)
                       AS edit_distance,
                   CASE WHEN greatest(length(da.text), length(db.text)) = 0
                        THEN 1.0
                        ELSE 1.0 - levenshtein(da.text, db.text) * 1.0
                             / greatest(length(da.text), length(db.text))
                   END AS sim
            FROM jp p
            JOIN documents da ON p.doc_id_a = da.doc_id
            JOIN documents db ON p.doc_id_b = db.doc_id
        )
        SELECT doc_id_a, doc_id_b, edit_distance, ROUND(sim, 6) AS edit_sim
        FROM verified WHERE sim >= 0.8
        ORDER BY doc_id_a, doc_id_b
    """,
)
def dedup_fuzzy_edit_q(spark, sf_dir):
    from ..operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    return (
        dedup.fuzzy_edit_pairs(docs, min_similarity=0.8, jaccard_floor=0.3)
        .select(
            "doc_id_a",
            "doc_id_b",
            "edit_distance",
            F.round("edit_sim", 6).alias("edit_sim"),
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


# ---------------------------------------------------------------------------
# text_bigram_backoff: stupid-backoff bigram LM (textops.bigram_logprob)
# trained on the even-doc_id half, scoring the held-out odd half — the
# backoff branch genuinely fires on unseen bigrams. Fully value-matched:
# counts, backoff arithmetic, and OOV accounting all recomputed in SQL.
# ---------------------------------------------------------------------------
@query(
    "text_bigram_backoff",
    "stupid-backoff bigram LM fluency score (Brants et al. 2007): counts "
    "from the even-doc half, held-out scoring of the odd half with "
    "alpha=0.4 backoff to unigram and an OOV floor — the CCNet-style "
    "quality gate one tier above the unigram LM",
    oracle=r"""
        WITH ref AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
        ),
        tgt AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE doc_id % 2 = 1 AND length(trim(text)) > 0
        ),
        uni AS (
            SELECT w, COUNT(*) AS c
            FROM (SELECT unnest(tk) AS w FROM ref) GROUP BY w
        ),
        tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_corpus FROM uni),
        refbg AS (
            SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
            FROM ref WHERE len(tk) >= 2
        ),
        big AS (SELECT w1, w2, COUNT(*) AS c12 FROM refbg GROUP BY w1, w2),
        tgtbg AS (
            SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
                   unnest(tk[2:len(tk)]) AS w2
            FROM tgt WHERE len(tk) >= 2
        ),
        scored AS (
            SELECT t.doc_id,
                   CASE WHEN b.c12 IS NOT NULL
                        THEN LN(b.c12 * 1.0 / u1.c)
                        ELSE LN(0.4 * COALESCE(u2.c * 1.0, 0.5) / tot.n_corpus)
                   END AS logp,
                   CASE WHEN b.c12 IS NULL THEN 1.0 ELSE 0.0 END AS oov
            FROM tgtbg t
            LEFT JOIN big b ON b.w1 = t.w1 AND b.w2 = t.w2
            LEFT JOIN uni u1 ON u1.w = t.w1
            LEFT JOIN uni u2 ON u2.w = t.w2
            CROSS JOIN tot
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(AVG(logp), 6) AS avg_logprob,
               ROUND(AVG(oov), 6) AS oov_rate
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_backoff_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    tgt = docs.filter(F.col("doc_id") % 2 == 1)
    return (
        textops.bigram_logprob(tgt, corpus=ref)
        .select(
            "doc_id",
            "n_bigrams",
            F.round("avg_logprob", 6).alias("avg_logprob"),
            F.round("oov_rate", 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# text_vocab_heavy_hitters: bounded-memory Misra-Gries vocabulary
# (textops.approx_vocabulary_topk) — estimates are partitioning-dependent
# below the guarantee threshold, so the oracle is the invariants pattern:
# with capacity >= vocabulary the summary is exact (must equal the exact
# top-k); with a small capacity every estimate must sit inside the classic
# MG band [true - n/(capacity+1), true].
# ---------------------------------------------------------------------------
@query(
    "text_vocab_heavy_hitters",
    "bounded-memory heavy-hitter vocabulary (batched Misra-Gries per "
    "partition, SUM-merged): exact at covering capacity, classic "
    "error-band guarantee at small capacity — the O(capacity)-memory "
    "scale path for vocabulary top-k",
    oracle="""
        SELECT 'bounds_hold_small_capacity' AS chk, TRUE AS ok
        UNION ALL SELECT 'exact_when_capacity_covers', TRUE
        UNION ALL SELECT 'ordered_desc_with_tiebreak', TRUE
        ORDER BY chk
    """,
)
def text_vocab_heavy_hitters_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    exact = {
        r["token"]: r["c"]
        for r in docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("token")
        )
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    n = sum(exact.values())
    want = sorted(exact, key=lambda t: (-exact[t], t))[:20]

    big = textops.approx_vocabulary_topk(docs, k=20, capacity=1_000_000).collect()
    exact_ok = [r["token"] for r in big] == want and all(
        r["est_count"] == exact[r["token"]] for r in big
    )

    cap = 256
    small = textops.approx_vocabulary_topk(docs, k=20, capacity=cap).collect()
    bounds_ok = all(
        r["est_count"] <= exact.get(r["token"], 0)
        and r["est_count"] >= exact.get(r["token"], 0) - n / (cap + 1)
        for r in small
    )
    ests = [(r["est_count"], r["token"]) for r in small]
    order_ok = ests == sorted(ests, key=lambda p: (-p[0], p[1]))

    rows = [
        ("bounds_hold_small_capacity", bool(bounds_ok)),
        ("exact_when_capacity_covers", bool(exact_ok)),
        ("ordered_desc_with_tiebreak", bool(order_ok)),
    ]
    return spark.createDataFrame(rows, "chk string, ok boolean").orderBy("chk")


# ---------------------------------------------------------------------------
# text_quality_model_invariants: trained quality classifier
# (operators/classifier.py — distributed-IRLS logistic regression over
# JVM-expression features). Training has no SQL analog (iterative Newton
# solve), so the oracle is the invariants pattern: the distributed fit must
# equal the dense driver-side reference on the same features, the pure-
# Catalyst scoring expression must equal sigmoid(Xw), and the model must
# beat the majority-class baseline on its weak-label training signal.
# ---------------------------------------------------------------------------
@query(
    "text_quality_model_invariants",
    "learned quality gate: IRLS logistic regression trained distributed on "
    "documents (label: the heuristic quality gate, which the features can "
    "express — the model must RECOVER it), scored by a pure Catalyst "
    "expression — fit matches the dense reference, scoring matches "
    "sigmoid(Xw), accuracy beats the majority baseline",
    oracle="""
        SELECT 'beats_majority_baseline' AS chk, TRUE AS ok
        UNION ALL SELECT 'fit_matches_reference', TRUE
        UNION ALL SELECT 'jvm_scoring_matches_sigmoid', TRUE
        ORDER BY chk
    """,
)
def text_quality_model_invariants_q(spark, sf_dir):
    import numpy as np

    from ..functions import text as TXT
    from ..operators import classifier as CLS

    # the weak label is the HEURISTIC gate — a function of two of the
    # model's own features, so a correct learner must separate it far
    # above the majority baseline at any scale (measured 0.998-1.0 vs
    # 0.55-0.61 baseline on the driver's synthetic documents; a
    # lang-based label is NOT separable by these features there)
    docs = tables.load(spark, sf_dir, "documents").withColumn(
        "y", (TXT.quality_score_expr("text") >= 0.5).cast("int")
    )
    w = CLS.train_quality_model(docs, "y")
    pdf = (
        CLS.score_documents(docs, w)
        .select("y", "quality_prob", *CLS.feature_exprs("text"))
        .toPandas()
    )
    X = np.hstack(
        [np.ones((len(pdf), 1)), pdf[[n for n, _ in CLS.FEATURES]].to_numpy()]
    )
    y = pdf["y"].to_numpy(dtype=np.float64)
    want_w = CLS.irls_reference(X, y)
    fit_ok = bool(np.allclose(w, want_w, atol=1e-8))
    score_ok = bool(
        np.allclose(
            pdf["quality_prob"].to_numpy(),
            1.0 / (1.0 + np.exp(-(X @ w))),
            atol=1e-9,
        )
    )
    acc = float(np.mean((pdf["quality_prob"].to_numpy() >= 0.5) == (y == 1)))
    baseline = float(max(y.mean(), 1.0 - y.mean()))
    rows = [
        ("beats_majority_baseline", bool(acc > baseline)),
        ("fit_matches_reference", fit_ok),
        ("jvm_scoring_matches_sigmoid", score_ok),
    ]
    return spark.createDataFrame(rows, "chk string, ok boolean").orderBy("chk")


# ---------------------------------------------------------------------------
# hybrid_bm25_search (r6): BM25 first-stage ranker (hybrid.bm25_topk) —
# tf saturation (k1) + doc-length normalization (b) over the same
# inverted index keyword_topk builds; the full scoring arithmetic
# (tf, df, dl, avgdl, Lucene idf) recomputed in SQL.
# ---------------------------------------------------------------------------
@query(
    "hybrid_bm25_search",
    "BM25 more-like-this top-10 for query docs 0-2 (k1=1.2, b=0.75, "
    "Lucene idf): term-frequency saturation and length normalization "
    "value-matched end-to-end against the SQL recomputation",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id AS id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS token
            FROM documents WHERE length(trim(text)) > 0
        ),
        tf AS (SELECT id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        dlen AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1),
        avgdl AS (SELECT AVG(dl) AS avgdl FROM dlen),
        n AS (SELECT COUNT(*) AS n FROM documents),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        qt AS (SELECT DISTINCT id AS query_id, token FROM toks WHERE id < 3),
        sc AS (
            SELECT qt.query_id, tf.id,
                   SUM(LN((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                       * tf.tf * (1.2 + 1.0)
                       / (tf.tf + 1.2 * (1.0 - 0.75
                          + 0.75 * dlen.dl / avgdl.avgdl))) AS s
            FROM tf JOIN qt USING (token) JOIN df USING (token)
            JOIN dlen ON dlen.id = tf.id
            CROSS JOIN avgdl CROSS JOIN n
            GROUP BY qt.query_id, tf.id
        ),
        r AS (
            SELECT query_id, id, s,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY ROUND(s, 6) DESC, id) AS INTEGER) AS rank
            FROM sc
        )
        SELECT query_id, rank, id AS doc_id, ROUND(s, 6) AS score
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def hybrid_bm25_search_q(spark, sf_dir):
    from ..operators import hybrid

    docs = tables.load(spark, sf_dir, "documents")
    qtexts = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    return (
        hybrid.bm25_topk(docs, qtexts, k=10)
        .select(
            "query_id",
            "rank",
            F.col("id").alias("doc_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# maxsim_multivector (r6): late-interaction (ColBERT MaxSim) multi-vector
# retrieval — items are bags of vectors (here: consecutive groups of 4
# embeddings), score(q, d) = sum over q's vectors of the max cosine
# similarity against d's vectors. The full max-then-sum chain is
# value-matched against the SQL recomputation.
# ---------------------------------------------------------------------------
@query(
    "maxsim_multivector",
    "MaxSim late-interaction top-10: embeddings grouped 4-per-item "
    "(item = vec_id DIV 4), query items 0-4 vs the rest; "
    "score = sum over query vectors of max cosine sim over item vectors",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id // 4 AS query_id, vec_id AS qvec_id, pos, v
              FROM un WHERE vec_id < 20),
        d AS (SELECT vec_id // 4 AS id, vec_id AS dvec_id, pos, v
              FROM un WHERE vec_id >= 20),
        sim AS (
            SELECT q.query_id, q.qvec_id, d.id, d.dvec_id,
                   SUM(q.v * d.v)
                   / (SQRT(SUM(q.v * q.v)) * SQRT(SUM(d.v * d.v)) + 1e-8)
                       AS s
            FROM q JOIN d ON q.pos = d.pos
            GROUP BY q.query_id, q.qvec_id, d.id, d.dvec_id
        ),
        best AS (SELECT query_id, qvec_id, id, MAX(s) AS best
                 FROM sim GROUP BY query_id, qvec_id, id),
        sc AS (SELECT query_id, id, SUM(best) AS s
               FROM best GROUP BY query_id, id),
        r AS (SELECT query_id, id, s,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY ROUND(s, 6) DESC, id) AS INTEGER) AS rank
              FROM sc)
        SELECT query_id, rank, id AS item_id, ROUND(s, 6) AS score
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def maxsim_multivector_q(spark, sf_dir):
    from ..operators import hybrid

    emb = tables.load(spark, sf_dir, "embeddings")
    grp = F.expr("CAST(vec_id DIV 4 AS BIGINT)")
    qv = emb.filter(F.col("vec_id") < 20).select(
        grp.alias("query_id"),
        F.col("vec_id").alias("qvec_id"),
        F.col("embedding").alias("vec"),
    )
    dv = emb.filter(F.col("vec_id") >= 20).select(
        grp.alias("id"), F.col("embedding").alias("vec")
    )
    return (
        hybrid.maxsim_topk(dv, qv, k=10, metric="cosine")
        .select(
            "query_id",
            "rank",
            F.col("id").alias("item_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# maxsim_blocked (r6): the PLAID-style scale path for MaxSim — chunk
# vectors on BOTH sides route to the deterministic label centroids (the
# q5 coarse quantizer), candidate items share >= 1 centroid with the
# query, and the exact MaxSim formula runs only over candidates. Every
# stage (assignment, blocking, scoring) is deterministic, so the whole
# sub-quadratic pipeline is an exact value-match, not a recall row.
# ---------------------------------------------------------------------------
@query(
    "maxsim_blocked",
    "cluster-blocked MaxSim top-10 (items = groups of 4 embeddings, "
    "queries 0-4): chunks assigned to per-label mean centroids, candidate "
    "items share a centroid with the query, exact max-then-sum cosine "
    "scoring over candidates only",
    oracle=_ASSIGN_ORACLE_CTES
    + """,
        qa AS (SELECT DISTINCT a.vec_id // 4 AS query_id, a.list_id
               FROM assign a WHERE a.vec_id < 20),
        da AS (SELECT DISTINCT a.vec_id // 4 AS id, a.list_id
               FROM assign a WHERE a.vec_id >= 20),
        cand AS (SELECT DISTINCT qa.query_id, da.id
                 FROM qa JOIN da USING (list_id)),
        q AS (SELECT vec_id // 4 AS query_id, vec_id AS qvec_id, pos, v
              FROM un WHERE vec_id < 20),
        d AS (SELECT vec_id // 4 AS id, vec_id AS dvec_id, pos, v
              FROM un WHERE vec_id >= 20),
        sim AS (
            SELECT q.query_id, q.qvec_id, d.id, d.dvec_id,
                   SUM(q.v * d.v)
                   / (SQRT(SUM(q.v * q.v)) * SQRT(SUM(d.v * d.v)) + 1e-8)
                       AS s
            FROM q
            JOIN d ON q.pos = d.pos
            JOIN cand ON cand.query_id = q.query_id AND cand.id = d.id
            GROUP BY q.query_id, q.qvec_id, d.id, d.dvec_id
        ),
        best AS (SELECT query_id, qvec_id, id, MAX(s) AS best
                 FROM sim GROUP BY query_id, qvec_id, id),
        sc AS (SELECT query_id, id, SUM(best) AS s
               FROM best GROUP BY query_id, id),
        r AS (SELECT query_id, id, s,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY ROUND(s, 6) DESC, id) AS INTEGER) AS rank
              FROM sc)
        SELECT query_id, rank, id AS item_id, ROUND(s, 6) AS score
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def maxsim_blocked_q(spark, sf_dir):
    from ..operators import hybrid, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    C = kmeans.label_centroids(emb)
    grp = F.expr("CAST(vec_id DIV 4 AS BIGINT)")
    qv = emb.filter(F.col("vec_id") < 20).select(
        grp.alias("query_id"),
        F.col("vec_id").alias("qvec_id"),
        F.col("embedding").alias("vec"),
    )
    dv = emb.filter(F.col("vec_id") >= 20).select(
        grp.alias("id"), F.col("embedding").alias("vec")
    )
    return (
        hybrid.maxsim_blocked_topk(dv, qv, C, k=10, metric="cosine")
        .select(
            "query_id",
            "rank",
            F.col("id").alias("item_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# mrl_cascade_topk (r6): Matryoshka (MRL) two-stage cascade — coarse
# top-30 on the leading 16 dims, exact full-width re-score of the
# shortlist. Both stages deterministic, so the whole cascade is an exact
# value-match (unlike IVF pruning, no trained quantizer involved).
# ---------------------------------------------------------------------------
@query(
    "mrl_cascade_topk",
    "MRL truncated-prefix cascade: top-30 shortlist on embedding dims "
    "1-16 (L2), exact 64-dim re-score, final top-10 for queries 0-4 — "
    "the full two-stage chain value-matched",
    oracle=f"""
        WITH {UN_EMB},
        q AS (SELECT vec_id AS query_id, pos, v AS qv FROM un WHERE vec_id < 5),
        s1 AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS d1
            FROM un a JOIN q ON a.pos = q.pos
            WHERE a.pos <= 16
            GROUP BY q.query_id, a.vec_id
        ),
        short AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d1, vec_id) AS rn
                FROM s1) t
            WHERE rn <= 30
        ),
        s2 AS (
            SELECT q.query_id, a.vec_id,
                   SUM((a.v - q.qv) * (a.v - q.qv)) AS d2
            FROM un a
            JOIN q ON a.pos = q.pos
            JOIN short ON short.query_id = q.query_id
                      AND short.vec_id = a.vec_id
            GROUP BY q.query_id, a.vec_id
        ),
        r AS (
            SELECT query_id, vec_id, d2,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY d2, vec_id) AS INTEGER) AS rank
            FROM s2
        )
        SELECT query_id, rank, vec_id, ROUND(d2, 6) AS dist
        FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def mrl_cascade_topk_q(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = knn.matryoshka_knn(
        corpus, qdf, k=10, prefix_dim=16, shortlist_k=30, metric=D.L2
    )
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("vec_id"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# text_html_extract / text_pii_stats / text_pii_scrub (r6): crawled-HTML
# text extraction and PII detection/redaction. The synthetic corpus
# carries neither HTML nor PII, so both engines CONSTRUCT identical
# fixture strings from the documents table (HTML wrapping / injected PII
# spans keyed on doc_id) and must then compute identical extractions —
# an exact value-match of the full regexp chain, not an invariants row.
# ---------------------------------------------------------------------------
def _html_fixture_sql() -> str:
    return (
        "'<html><head><title>t</title><style>p (color: red)</style>"
        "</head><body><!-- chrome --><h1>' || lang || '</h1><p>' || text"
        " || ' &amp; friends &lt;3</p><script>var x = 1;</script>"
        "</body></html>'"
    )


def _html_fixture_col():
    return F.concat(
        F.lit(
            "<html><head><title>t</title><style>p (color: red)</style>"
            "</head><body><!-- chrome --><h1>"
        ),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            " &amp; friends &lt;3</p><script>var x = 1;</script>"
            "</body></html>"
        ),
    )


def _html_extract_oracle() -> str:
    from ..functions.text import html_to_text_oracle_sql

    return (
        "SELECT doc_id, "
        + html_to_text_oracle_sql(_html_fixture_sql())
        + " AS extracted FROM documents ORDER BY doc_id"
    )


@query(
    "text_html_extract",
    "crawled-HTML visible-text extraction (functions.text.html_to_text_"
    "expr / sources.documents.read_html): script/style/comment bodies "
    "dropped, tags stripped, common entities decoded, whitespace "
    "normalized — the whole chain pure Catalyst regexp/replace, value-"
    "matched against the identical DuckDB chain on constructed fixture "
    "HTML",
    oracle=_html_extract_oracle(),
)
def text_html_extract_q(spark, sf_dir):
    from ..functions import text as TXT

    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.html_to_text_expr(_html_fixture_col()).alias("extracted"),
    ).orderBy("doc_id")


def _pii_fixture_sql() -> str:
    return (
        "text || ' Contact u' || CAST(doc_id % 97 AS VARCHAR) || '@ex'"
        " || CAST(doc_id % 7 AS VARCHAR) || '.com'"
        " || CASE WHEN doc_id % 3 = 0 THEN ' ip 10.'"
        "    || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
        "    || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' ssn 123-45-6789' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' call +12 (345) 678-9012'"
        "    ELSE '' END"
    )


def _pii_fixture_col():
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" Contact u"),
        (did % 97).cast("string"),
        F.lit("@ex"),
        (did % 7).cast("string"),
        F.lit(".com"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" ip 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" call +12 (345) 678-9012")).otherwise(
            F.lit("")
        ),
    )


def _pii_stats_oracle() -> str:
    from ..functions.text import PII_CLASSES, pii_count_oracle_sql

    branches = "\n        UNION ALL ".join(
        "SELECT '" + cls + "' AS pii_class, "
        "CAST(SUM(CASE WHEN " + pii_count_oracle_sql("text", cls)
        + " > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs, "
        "CAST(SUM(" + pii_count_oracle_sql("text", cls)
        + ") AS BIGINT) AS n_hits FROM docs2"
        for cls in PII_CLASSES
    )
    return (
        "WITH docs2 AS (SELECT doc_id, " + _pii_fixture_sql()
        + " AS text FROM documents)\n        " + branches
        + "\n        ORDER BY pii_class"
    )


@query(
    "text_pii_stats",
    "PII audit report (operators/textops.pii_stats): per-class document "
    "and hit counts over a corpus with injected email/ipv4/ssn/phone "
    "spans — one projection + one map-side-combined aggregate, regex "
    "classes from the Java/RE2-common subset so both engines count "
    "identically",
    oracle=_pii_stats_oracle(),
)
def text_pii_stats_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", _pii_fixture_col().alias("text")
    )
    return textops.pii_stats(docs).orderBy("pii_class")


def _pii_scrub_oracle() -> str:
    from ..functions.text import PII_CLASSES, pii_count_oracle_sql
    from ..functions.text import pii_redact_oracle_sql

    total = " + ".join(
        pii_count_oracle_sql("text", cls) for cls in PII_CLASSES
    )
    return (
        "WITH docs2 AS (SELECT doc_id, " + _pii_fixture_sql()
        + " AS text FROM documents)\n"
        "        SELECT doc_id, CAST(" + total + " AS BIGINT) AS n_pii, "
        "md5(" + pii_redact_oracle_sql("text") + ") AS redacted_fp "
        "FROM docs2 ORDER BY doc_id"
    )


@query(
    "text_pii_scrub",
    "PII redaction (operators/textops.pii_redact): every class replaced "
    "by its token in one Catalyst regexp chain; per-doc replacement "
    "count + md5 fingerprint of the redacted text value-matched against "
    "the identical DuckDB chain",
    oracle=_pii_scrub_oracle(),
)
def text_pii_scrub_q(spark, sf_dir):
    from ..operators import textops

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", _pii_fixture_col().alias("text")
    )
    return (
        textops.pii_redact(docs)
        .select("doc_id", "n_pii", F.md5("text").alias("redacted_fp"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# web_url_dedup / web_url_dedup_stats (r6): URL canonicalization + URL-
# level dedup (functions/urls.py, dedup.url_duplicate_stats /
# dedup_by_url) — the crawl-index dedup stage C4/RefinedWeb run before
# any content pass. The corpus has no URL column, so both engines
# CONSTRUCT the same crawl manifest from doc_id (case noise, default
# ports, fragments, tracking params, unsorted query strings, trailing
# slashes — every normalization rule fires) and must agree on the full
# canonical form: an exact value-match of the twin-dialect chain.
# ---------------------------------------------------------------------------
_URL_FIXTURE = (
    "'HTTP://WWW.Example' || CAST(doc_id % 5 AS STRING) || '.Com' || "
    "CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END || "
    "CASE WHEN doc_id % 7 = 0 THEN '' "
    "ELSE '/Articles/item' || CAST(doc_id % 20 AS STRING) END || "
    "CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN doc_id % 4 = 0 THEN "
    "'?utm_source=feed&b=' || CAST(doc_id % 2 AS STRING) || '&a=1' "
    "WHEN doc_id % 4 = 1 THEN '?a=1&b=' || CAST(doc_id % 2 AS STRING) "
    "ELSE '' END || "
    "CASE WHEN doc_id % 6 = 0 THEN '#sec' || CAST(doc_id AS STRING) "
    "ELSE '' END"
)


def _url_dedup_oracle() -> str:
    from ..functions.urls import canonical_url_sql

    return (
        f"WITH urls AS (SELECT doc_id, {_URL_FIXTURE} AS url FROM documents),\n"
        f"        c AS (SELECT url, {canonical_url_sql('url', 'duckdb')} AS cu"
        " FROM urls)\n"
        "        SELECT cu AS canonical_url, COUNT(*) AS n_urls,"
        " COUNT(DISTINCT url) AS n_raw_forms\n"
        "        FROM c GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY canonical_url"
    )


@query(
    "web_url_dedup",
    "URL-level dedup groups over a constructed crawl manifest: RFC-3986-"
    "style canonicalization (scheme/host case, default ports, fragments, "
    "tracking params, query-param sort, trailing slashes) as ONE Catalyst "
    "scalar expression, then the hash-groupBy dedup shape — full "
    "canonical forms value-matched against the DuckDB twin dialect",
    oracle=_url_dedup_oracle(),
)
def web_url_dedup_q(spark, sf_dir):
    from ..operators import dedup

    urls = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_FIXTURE).alias("url")
    )
    return dedup.url_duplicate_stats(urls).orderBy("canonical_url")


def _url_dedup_stats_oracle() -> str:
    from ..functions.urls import canonical_url_sql

    return (
        f"WITH urls AS (SELECT doc_id, {_URL_FIXTURE} AS url FROM documents),\n"
        f"        c AS (SELECT {canonical_url_sql('url', 'duckdb')} AS cu"
        " FROM urls),\n"
        "        g AS (SELECT cu, COUNT(*) AS n FROM c GROUP BY cu)\n"
        "        SELECT CAST(SUM(n) AS BIGINT) AS n_total,"
        " CAST(COUNT(*) AS BIGINT) AS n_distinct,"
        " CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup,"
        " CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)"
        " AS n_docs_affected FROM g"
    )


@query(
    "web_url_dedup_stats",
    "URL dedup aggregate accounting over the constructed crawl manifest "
    "(dedup.url_duplicate_stats + totals): total URLs, distinct "
    "canonical forms, collapsed duplicates, and URLs inside >1 groups",
    oracle=_url_dedup_stats_oracle(),
)
def web_url_dedup_stats_q(spark, sf_dir):
    from ..functions import urls as U
    from ..operators import dedup

    urls = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_FIXTURE).alias("url")
    )
    tot = urls.select(U.canonical_url_expr("url").alias("cu")).agg(
        F.count("*").alias("n_total"),
        F.countDistinct("cu").alias("n_distinct"),
    )
    aff = dedup.url_duplicate_stats(urls).agg(
        F.coalesce(F.sum("n_urls"), F.lit(0)).cast("long").alias("n_docs_affected")
    )
    return tot.crossJoin(aff).select(
        "n_total",
        "n_distinct",
        (F.col("n_total") - F.col("n_distinct")).alias("n_dup"),
        "n_docs_affected",
    )


# ---------------------------------------------------------------------------
# web_domain_stats (r6): registrable-domain extraction + blocklist filter
# (functions/urls.py url_domain_expr, operators/web.py) — the crawl-side
# domain accounting that feeds domain mixing and the C4/RefinedWeb "bad
# domain" scrub. Fixture hosts exercise every branch: www + last-2,
# cc-SLD last-3, deep subdomain, case noise, IPv4 passthrough, bare
# host; one domain is blocklisted. Exact value-match of the twin chain.
# ---------------------------------------------------------------------------
_DOMAIN_FIXTURE = (
    "'http://' || CASE CAST(doc_id % 6 AS INTEGER) "
    "WHEN 0 THEN 'www.example' || CAST(doc_id % 3 AS STRING) || '.com' "
    "WHEN 1 THEN 'News.Example' || CAST(doc_id % 3 AS STRING) || '.Co.Uk' "
    "WHEN 2 THEN 'blog.sub.example' || CAST(doc_id % 3 AS STRING) || '.com' "
    "WHEN 3 THEN 'example' || CAST(doc_id % 3 AS STRING) || '.org' "
    "WHEN 4 THEN '192.168.0.' || CAST(doc_id % 3 AS STRING) "
    "ELSE 'intranet' END || '/p' || CAST(doc_id % 10 AS STRING) || "
    "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END"
)
_BLOCKED_DOMAINS = ("example0.com",)


def _domain_stats_oracle() -> str:
    from ..functions import urls as U

    return (
        f"WITH urls AS (SELECT doc_id, {_DOMAIN_FIXTURE} AS url"
        " FROM documents),\n"
        f"        k AS (SELECT {U.url_domain_sql('url', 'duckdb')} AS domain,"
        f" {U.url_host_sql('url', 'duckdb')} AS host,"
        f" {U.canonical_url_sql('url', 'duckdb')} AS cu FROM urls)\n"
        "        SELECT domain, COUNT(*) AS n_urls,"
        " COUNT(DISTINCT host) AS n_hosts,"
        " COUNT(DISTINCT cu) AS n_canonical\n"
        f"        FROM k WHERE domain NOT IN"
        f" ({', '.join(repr(d) for d in _BLOCKED_DOMAINS)})\n"
        "        GROUP BY domain ORDER BY domain"
    )


def _domain_gate_oracle() -> str:
    from ..functions import urls as U

    blocked = ", ".join(repr(d) for d in _BLOCKED_DOMAINS)
    dom = U.url_domain_sql("url", "duckdb")
    return (
        f"WITH urls AS (SELECT doc_id, {_DOMAIN_FIXTURE} AS url"
        " FROM documents)\n"
        f"        SELECT doc_id, {dom} AS detail,"
        f" {dom} NOT IN ({blocked}) AS keep\n"
        "        FROM urls ORDER BY doc_id"
    )


@query(
    "web_domain_gate_docs",
    "the domain blocklist gate in per-document form: (doc_id, "
    "registrable domain, keep) — the full domain string of every doc "
    "value-matched, certifying the extraction chain in-window through "
    "corpus_filter_combo",
    oracle=_domain_gate_oracle(),
)
def web_domain_gate_docs_q(spark, sf_dir):
    from ..functions import urls as U

    urls = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_DOMAIN_FIXTURE).alias("url")
    )
    dom = U.url_domain_expr("url")
    return urls.select(
        "doc_id",
        dom.alias("detail"),
        (~dom.isin(list(_BLOCKED_DOMAINS))).alias("keep"),
    ).orderBy("doc_id")


@query(
    "web_domain_stats",
    "per-registrable-domain crawl accounting after blocklist filtering: "
    "last-2 / cc-SLD last-3 / IPv4 / bare-host extraction branches all "
    "exercised, one domain blocklisted — counts value-matched against "
    "the DuckDB twin chain",
    oracle=_domain_stats_oracle(),
)
def web_domain_stats_q(spark, sf_dir):
    from ..operators import web

    urls = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_DOMAIN_FIXTURE).alias("url")
    )
    kept = web.filter_domain_blocklist(urls, _BLOCKED_DOMAINS)
    return web.domain_stats(kept).orderBy("domain")


# ---------------------------------------------------------------------------
# text_ngram_repetition (r6): the nine Gopher n-gram repetition rules
# (textops.gopher_ngram_rules — top-{2,3,4}-gram mass, duplicate-
# {5..10}-gram mass, occurrence-fraction variant, integer thresholds).
# Fixture injects a repeated 2-gram phrase (doc_id%6==1) and a repeated
# long phrase (doc_id%7==2) so top- and dup-rules both fire; the oracle
# rebuilds all nine shingle relations in DuckDB and value-matches every
# rule boolean per document.
# ---------------------------------------------------------------------------
_NGRAM_FIXTURE = (
    "text || CASE WHEN doc_id % 6 = 1 THEN ' ' || repeat('buy now ', 12) "
    "ELSE '' END || CASE WHEN doc_id % 7 = 2 THEN ' ' || "
    "repeat('the same long seven word phrase again and again ', 3) "
    "ELSE '' END"
)


def _ngram_repetition_oracle() -> str:
    from ..operators.textops import GOPHER_NGRAM_RULES

    ctes = [
        "pages AS (SELECT doc_id, " + _NGRAM_FIXTURE
        + " AS page FROM documents)",
        "toks AS (SELECT doc_id,"
        " regexp_split_to_array(lower(trim(page)), '\\s+') AS w"
        " FROM pages WHERE length(trim(page)) > 0)",
    ]
    sel = ["SELECT p.doc_id"]
    for name, (n, t, kind) in GOPHER_NGRAM_RULES.items():
        concat = " || ' ' || ".join(
            f"w[CAST(i AS INTEGER)+{j}]" if j else "w[CAST(i AS INTEGER)]"
            for j in range(n)
        )
        ctes.append(
            f"g{n} AS (SELECT doc_id, {concat} AS s FROM toks,"
            f" LATERAL unnest(range(1, greatest(array_length(w) - {n - 2},"
            " 1))) t(i))"
        )
        ctes.append(
            f"p{n} AS (SELECT doc_id, s, COUNT(*) AS c FROM g{n}"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"c{n} AS (SELECT doc_id, SUM(c) AS total, COUNT(*) AS dist,"
            f" MAX(c) AS top FROM p{n} GROUP BY 1)"
        )
        mass = f"c{n}.top" if kind == "top" else f"(c{n}.total - c{n}.dist)"
        sel.append(
            f"COALESCE(100 * {mass} <= {t} * c{n}.total, TRUE) AS {name}"
        )
    joins = " ".join(
        f"LEFT JOIN c{n} ON p.doc_id = c{n}.doc_id"
        for n in sorted({n for n, _t, _k in GOPHER_NGRAM_RULES.values()})
    )
    keep = " AND ".join(
        f"COALESCE(100 * "
        + (f"c{n}.top" if kind == "top" else f"(c{n}.total - c{n}.dist)")
        + f" <= {t} * c{n}.total, TRUE)"
        for _name, (n, t, kind) in GOPHER_NGRAM_RULES.items()
    )
    sel.append(f"({keep}) AS ngram_keep")
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + "\n        "
        + ",\n        ".join(sel)
        + f"\n        FROM (SELECT doc_id FROM pages) p {joins}"
        + "\n        ORDER BY p.doc_id"
    )


@query(
    "text_ngram_repetition",
    "the nine Gopher n-gram repetition rules per doc (top-2/3/4-gram "
    "mass, duplicate-5..10-gram mass; occurrence-fraction variant with "
    "the paper's integer thresholds) over a fixture injecting repeated "
    "phrases — every rule boolean value-matched against nine DuckDB "
    "shingle relations",
    oracle=_ngram_repetition_oracle(),
)
def text_ngram_repetition_q(spark, sf_dir):
    from ..operators import textops

    pages = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_NGRAM_FIXTURE).alias("page")
    )
    return (
        textops.gopher_ngram_rules(pages, text_col="page")
        .select(
            "doc_id", *textops.GOPHER_NGRAM_RULES, "ngram_keep"
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# text_boilerplate_lines (r6): corpus-level boilerplate line removal
# (textops.remove_boilerplate_lines — the RefinedWeb/CCNet line-dedup
# scrub). Fixture pages share a cookie banner (incl. a case/whitespace
# variant that must normalize to the same key), a newsletter line in
# half the docs, and one truly unique line per doc; the oracle rebuilds
# every document line-by-line in DuckDB (unnest + generate_subscripts +
# string_agg ORDER BY pos) and the FULL scrubbed text value-matches.
# ---------------------------------------------------------------------------
_BOILER_FIXTURE = (
    "'Cookie Notice: We Use Cookies.' || chr(10) || text || chr(10) || "
    "'Unique line ' || CAST(doc_id AS STRING) || ' stays here.' || "
    "chr(10) || CASE WHEN doc_id % 2 = 0 "
    "THEN 'Subscribe to our newsletter today!' "
    "ELSE 'Odd doc closing line number ' || CAST(doc_id % 5 AS STRING) "
    "|| '.' END || "
    "CASE WHEN doc_id % 3 = 0 THEN chr(10) || "
    "'  cookie notice: we USE cookies.  ' ELSE '' END"
)


def _boilerplate_oracle() -> str:
    key = (
        "regexp_replace(lower(regexp_replace(line, '^\\s+|\\s+$', '', 'g')),"
        " '\\s+', ' ', 'g')"
    )
    return f"""
        WITH pages AS (SELECT doc_id, {_BOILER_FIXTURE} AS page
                       FROM documents),
        l AS (SELECT doc_id,
                     unnest(string_split(page, chr(10))) AS line,
                     generate_subscripts(string_split(page, chr(10)), 1)
                         AS pos
              FROM pages),
        keyed AS (SELECT doc_id, pos, line, {key} AS k FROM l),
        boiler AS (SELECT k FROM keyed WHERE k <> ''
                   GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 3)
        SELECT doc_id,
               COALESCE(string_agg(line, chr(10) ORDER BY pos), '')
                   AS clean_text
        FROM pages LEFT JOIN (
            SELECT doc_id AS did, pos, line FROM keyed
            WHERE k NOT IN (SELECT k FROM boiler)
        ) kept ON pages.doc_id = kept.did
        GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "text_boilerplate_lines",
    "corpus-level boilerplate line removal (RefinedWeb/CCNet line "
    "dedup): lines whose normalized form appears in >= 3 distinct docs "
    "are scrubbed from every doc, order preserved — the full scrubbed "
    "text of every document value-matched against the DuckDB rebuild",
    oracle=_boilerplate_oracle(),
)
def text_boilerplate_lines_q(spark, sf_dir):
    from ..operators import textops

    pages = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_BOILER_FIXTURE).alias("page")
    )
    return (
        textops.remove_boilerplate_lines(pages, text_col="page", min_docs=3)
        .select("doc_id", F.col("page").alias("clean_text"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# pipeline_web_ingest (r6): the crawl-side ingest funnel as ONE LAZY
# PLAN (operators/web.ingest_stats): blocklist -> URL dedup ->
# HTML->lines + C4 cleaning -> PII redaction -> Gopher gate, with
# per-stage doc/token accounting. Fixture (url, html) pairs constructed
# from doc_id so every stage does real work: a blocklisted domain
# (doc_id%13), canonical-URL collisions (utm + site/article mods),
# brace pages C4 drops (%17), short pages Gopher drops (%10==1), and
# injected emails PII redacts (%11). The oracle recomputes the entire
# six-stage chain as one CTE pipeline from the twin SQL builders.
# ---------------------------------------------------------------------------
_WEB_URL_FIXTURE = (
    "'http://' || CASE WHEN doc_id % 13 = 0 THEN 'spam.bad.com' "
    "ELSE 'www.site' || CAST(doc_id % 4 AS STRING) || '.com' END || "
    "'/art/' || CAST(doc_id % 500 AS STRING) || "
    "CASE WHEN doc_id % 2 = 0 THEN '?utm_campaign=x' ELSE '' END"
)
_WEB_HTML_FIXTURE = (
    "'<html><head><title>T</title><style>x{a:b}</style></head><body>' || "
    "'<h1>Story ' || CAST(doc_id % 50 AS STRING) || "
    "' about the data now.</h1>' || "
    "CASE WHEN doc_id % 10 = 1 THEN "
    "'<p>Just a few words here now.</p>"
    "<p>Another tiny line sits here too.</p>' "
    "ELSE '<p>' || text || "
    "' And that is all we have to say about it.</p>"
    "<p>The quick brown fox jumps over the lazy dog to be sure of it.</p>"
    "<p>We have more words with the usual stopwords of and to be here "
    "now.</p>' END || "
    "CASE WHEN doc_id % 11 = 0 THEN "
    "'<p>Contact me at user@example.com for details about all of it.</p>' "
    "ELSE '' END || "
    "CASE WHEN doc_id % 17 = 0 THEN '<p>function() ' || chr(123) || "
    "' return 1; ' || chr(125) || '</p>' ELSE '' END || "
    "'<div>Menu</div><script>var x=9;</script></body></html>'"
)
_WEB_BLOCKED = ("bad.com",)


def _web_ingest_oracle() -> str:
    from ..functions import text as TXT
    from ..functions import urls as U

    def tc(x: str) -> str:
        return (
            f"CAST(CASE WHEN length(trim({x})) = 0 THEN 0 "
            f"ELSE length(regexp_split_to_array(trim({x}), '\\s+')) END"
            " AS BIGINT)"
        )

    pii = TXT.pii_redact_oracle_sql("text")
    stages = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS stage, '{name}' AS name, "
        f"COUNT(*) AS n_docs, "
        f"COALESCE(CAST(SUM({tc(col)}) AS BIGINT), 0) AS n_tokens FROM {rel}"
        for i, (name, rel, col) in enumerate(
            [
                ("raw", "m", "html"),
                ("blocklist", "b", "html"),
                ("url_dedup", "d", "html"),
                ("c4_extract", "c", "text"),
                ("pii_redact", "p", "text"),
                ("gopher", "g", "text"),
            ]
        )
    )
    return f"""
        WITH m AS (SELECT doc_id, {_WEB_URL_FIXTURE} AS url,
                          {_WEB_HTML_FIXTURE} AS html FROM documents),
        b AS (SELECT * FROM m
              WHERE {U.url_domain_sql('url', 'duckdb')} NOT IN ('bad.com')),
        d AS (SELECT * FROM b QUALIFY row_number() OVER (
                  PARTITION BY {U.canonical_url_sql('url', 'duckdb')}
                  ORDER BY doc_id) = 1),
        e AS (SELECT doc_id, {TXT.html_to_lines_oracle_sql('html')} AS t0
              FROM d),
        c AS (SELECT doc_id, {TXT.c4_clean_text_oracle_sql('t0')} AS text
              FROM e WHERE {TXT.c4_keep_oracle_sql('t0')}),
        p AS (SELECT doc_id, {pii} AS text FROM c),
        g AS (SELECT * FROM p WHERE {TXT.gopher_keep_oracle_sql('text')})
        SELECT * FROM (
        {stages}
        ) ORDER BY stage
    """


@query(
    "pipeline_web_ingest",
    "the crawl ingest funnel as one lazy plan (web.ingest_stats): "
    "domain blocklist -> URL dedup -> HTML->lines + C4 line cleaning -> "
    "PII redaction -> Gopher gate, per-stage doc/token attrition — the "
    "whole six-stage chain value-matched against one DuckDB CTE "
    "pipeline built from the same twin templates",
    oracle=_web_ingest_oracle(),
)
def pipeline_web_ingest_q(spark, sf_dir):
    from ..operators import web

    manifest = tables.load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_WEB_URL_FIXTURE).alias("url"),
        F.expr(_WEB_HTML_FIXTURE).alias("html"),
    )
    return web.ingest_stats(manifest, blocked=_WEB_BLOCKED).orderBy("stage")


# ---------------------------------------------------------------------------
# pipeline_warc_ingest (r7): the SAME six-stage funnel, but starting from
# the real on-disk crawl format — the fixture manifest is round-tripped
# through an engine-written WARC dump (sources/warc.warc_sink: one gzip-
# member-per-record file per partition, the CommonCrawl layout) and read
# back with read_warc before the gates run. The oracle is byte-for-byte
# the web-ingest oracle: the WARC write->parse->manifest landing is
# lossless (ids ride WARC-Record-ID, html rides the HTTP response body),
# so ANY parse defect — dropped records, truncated payloads, header
# mixups, id drift — breaks the exact stage-count/token value match.
# ---------------------------------------------------------------------------
@query(
    "pipeline_warc_ingest",
    "crawl ingest from the wire format: fixture manifest -> distributed "
    "WARC dump (gzip member per record) -> read_warc -> parquet landing "
    "-> the six-stage ingest funnel; stage accounting value-matches the "
    "direct web-ingest oracle because the WARC round trip is lossless",
    oracle=_web_ingest_oracle(),
)
def pipeline_warc_ingest_q(spark, sf_dir):
    from ..operators import web
    from ..sources import warc as WARC

    key = (sf_dir, "warc_landing")
    landing = _INDEX_CACHE.get(key)
    if landing is None:
        root = _scratch_dir("cavde_warc_")
        manifest = tables.load(spark, sf_dir, "documents").select(
            "doc_id",
            F.expr(_WEB_URL_FIXTURE).alias("url"),
            F.expr(_WEB_HTML_FIXTURE).alias("html"),
        )
        # write the dump (one file per partition; collect is bounded to
        # one accounting row per partition), parse it back, land parquet
        WARC.warc_sink(manifest, f"{root}/dump").collect()
        parsed = WARC.warc_manifest(spark, f"{root}/dump/*.warc.gz")
        parsed.select("doc_id", "url", "html").write.parquet(
            f"{root}/landing"
        )
        landing = f"{root}/landing"
        _INDEX_CACHE[key] = landing
    return web.ingest_stats(
        spark.read.parquet(landing), blocked=_WEB_BLOCKED
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# pipeline_training_shards (r7): the terminal stage of the pretraining
# pipeline — deterministic hash-sharded corpus export
# (operators/shards.write_training_shards: md5(id:salt) mod N membership,
# shuffle-key-ordered rows, one parquet dir per shard) exercised FOR REAL
# (write to tmp, read back), with the per-shard manifest value-matched
# against a first-principles SQL recompute of the same md5 arithmetic.
# A readback row count/token drift — dropped rows, double writes, a
# nondeterministic partitioner — breaks the exact match.
# ---------------------------------------------------------------------------
@query(
    "pipeline_training_shards",
    "training-shard export round trip: hash-assigned membership "
    "(md5(id:salt) mod 8), deterministic within-shard order, written as "
    "partitioned parquet and read back; per-shard {n_docs, n_tokens} "
    "manifest value-matched against the SQL recompute",
    oracle=r"""
        WITH h AS (
            SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':r7shards'), 1, 8))::BIGINT % 8 AS INTEGER)
                       AS shard_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\s+'))
                        END AS BIGINT) AS tc
            FROM documents
        )
        SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tc) AS BIGINT) AS n_tokens
        FROM h GROUP BY shard_id ORDER BY shard_id
    """,
)
def pipeline_training_shards_q(spark, sf_dir):
    from ..operators import shards as SH

    key = (sf_dir, "training_shards")
    out = _INDEX_CACHE.get(key)
    if out is None:
        out = _scratch_dir("cavde_shards_") + "/export"
        docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        SH.write_training_shards(docs, out, n_shards=8, salt="r7shards")
        _INDEX_CACHE[key] = out
    back = SH.read_training_shards(spark, out)
    return SH.shard_manifest(back).orderBy("shard_id")


# ---------------------------------------------------------------------------
# text_c4_line_clean / text_gopher_rules / text_quality_gate_docs (r6):
# the two PUBLISHED corpus-gate rule sets (C4 line-level cleaning,
# Raffel et al. 2020 §2.2; Gopher document rules, Rae et al. 2021 table
# A1) plus the per-document form of the heuristic quality gate. The
# corpus has no multi-line pages, so both engines construct the same
# page fixture from doc_id (good lines, a short line, a javascript
# line, a menu line, a code line with braces, a lorem-ipsum line —
# every C4 rule fires), mirroring the HTML/PII/URL fixture pattern.
# Exact value-match: the C4 row compares the full CLEANED TEXT string.
# ---------------------------------------------------------------------------
_C4_FIXTURE = (
    "text || chr(10) || "
    "'This is a well formed sentence with many words today.' || chr(10) || "
    "'Too short.' || chr(10) || "
    "CASE WHEN doc_id % 7 = 0 "
    "THEN 'Please enable javascript to view the comments on this page.' "
    "ELSE 'Reasonable prose continues here with several more words added!' "
    "END || "
    "CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'Menu Home About Contact' "
    "ELSE '' END || "
    "CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'if (x) ' || chr(123) || "
    "' return 1; ' || chr(125) ELSE '' END || "
    "CASE WHEN doc_id % 17 = 0 THEN chr(10) || "
    "'Lorem Ipsum dolor sit amet, consectetur adipiscing elit sed.' "
    "ELSE '' END"
)


def _c4_oracle() -> str:
    from ..functions import text as TXT

    return (
        f"WITH pages AS (SELECT doc_id, {_C4_FIXTURE} AS page FROM documents)\n"
        f"        SELECT doc_id, {TXT.c4_clean_text_oracle_sql('page')} AS clean_text,\n"
        f"        CAST(length({TXT.c4_kept_lines_oracle_sql('page')}) AS INTEGER)"
        " AS n_lines_kept,\n"
        f"        {TXT.c4_keep_oracle_sql('page')} AS c4_keep\n"
        "        FROM pages ORDER BY doc_id"
    )


@query(
    "text_c4_line_clean",
    "C4 line-level cleaning (terminal-punctuation / min-5-words / "
    "javascript line rules; lorem-ipsum / brace / min-3-lines page rules) "
    "over constructed multi-line pages — the full cleaned text string "
    "value-matched against the DuckDB twin chain",
    oracle=_c4_oracle(),
)
def text_c4_line_clean_q(spark, sf_dir):
    from ..operators import textops

    pages = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_C4_FIXTURE).alias("page")
    )
    return (
        textops.c4_clean(pages, text_col="page")
        .select("doc_id", "clean_text", "n_lines_kept", "c4_keep")
        .orderBy("doc_id")
    )


_GOPHER_FIXTURE = (
    "CASE WHEN doc_id % 5 = 0 THEN '- ' ELSE '' END || text || "
    "CASE WHEN doc_id % 4 = 0 THEN ' ...' ELSE '' END || "
    "CASE WHEN doc_id % 9 = 0 THEN ' ## ##' ELSE '' END || "
    "CASE WHEN doc_id % 6 = 0 THEN chr(10) || '- bullet item one' || "
    "chr(10) || '- bullet item two' ELSE '' END || "
    "CASE WHEN doc_id % 8 = 2 THEN chr(10) || 'Repeat after me now.' || "
    "chr(10) || 'Repeat after me now.' || chr(10) || "
    "'Repeat after me now.' ELSE '' END"
)


def _gopher_oracle() -> str:
    from ..functions import text as TXT

    rule_cols = ",\n        ".join(
        f"{TXT.gopher_rule_oracle_sql('page', r)} AS {r}"
        for r in TXT.GOPHER_RULES
    )
    failed = ", ".join(
        f"CASE WHEN NOT {TXT.gopher_rule_oracle_sql('page', r)} "
        f"THEN '{r}' END"
        for r in TXT.GOPHER_RULES
    )
    return (
        f"WITH pages AS (SELECT doc_id, {_GOPHER_FIXTURE} AS page"
        " FROM documents)\n"
        f"        SELECT doc_id, {rule_cols},\n"
        f"        {TXT.gopher_keep_oracle_sql('page')} AS gopher_keep,\n"
        f"        concat_ws(',', {failed}) AS failed_rules\n"
        "        FROM pages ORDER BY doc_id"
    )


@query(
    "text_gopher_rules",
    "the seven Gopher document-quality rules (word count, mean word "
    "length, symbol ratio, bullet/ellipsis line fractions, alpha-word "
    "share, required stopwords) per doc over a fixture firing each rule "
    "— every rule boolean + failed-rule list value-matched",
    oracle=_gopher_oracle(),
)
def text_gopher_rules_q(spark, sf_dir):
    from ..functions import text as TXT
    from ..operators import textops

    pages = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_GOPHER_FIXTURE).alias("page")
    )
    return (
        textops.gopher_rules(pages, text_col="page")
        .select(
            "doc_id",
            *TXT.GOPHER_RULES,
            "gopher_keep",
            "failed_rules",
        )
        .orderBy("doc_id")
    )


@query(
    "text_quality_gate_docs",
    "the heuristic quality gate in per-document form (doc_id, "
    "micro-quality integer, keep) — the per-doc twin of "
    "text_quality_filter's per-lang aggregate",
    oracle=f"""
        SELECT doc_id,
               CAST(CAST(FLOOR({TXT_QUALITY_SQL} * 1000000) AS BIGINT)
                    AS VARCHAR) AS detail,
               {TXT_QUALITY_SQL} >= 0.5 AS keep
        FROM documents ORDER BY doc_id
    """,
)
def text_quality_gate_docs_q(spark, sf_dir):
    from ..functions import text as TXT

    docs = tables.load(spark, sf_dir, "documents")
    q = TXT.quality_score_expr("text")
    return docs.select(
        "doc_id",
        F.floor(q * 1000000).cast("long").cast("string").alias("detail"),
        (q >= 0.5).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# pq_residual_invariants (r6): FAISS-standard residual IVF-PQ
# (pq.build_from_ivf(residual=True) — codes quantize v - coarse_centroid,
# ADC tables built per (query, probed list) executor-side). Codebooks are
# seeded k-means, so the oracle is the invariants pattern: the defining
# ADC identity, O(delta) inheritance of the residual space, and the
# persisted-flag round-trip must all hold; the recall-dominance claim
# lives in pytest on a constructed clustered corpus (the driver's
# near-isotropic embeddings make recall deltas noise, same reasoning as
# pq_opq_invariants).
# ---------------------------------------------------------------------------
@query(
    "pq_residual_invariants",
    "residual IVF-PQ: ADC distance equals exact distance to "
    "(centroid + decoded residual) — the encoding's defining identity — "
    "delta epochs encode in the inherited residual space (chain fold == "
    "full re-encode), and the manifest flag survives load()",
    oracle="""
        SELECT 'adc_matches_reconstruction' AS chk, TRUE AS ok
        UNION ALL SELECT 'delta_inherits_residual_space', TRUE
        UNION ALL SELECT 'flag_survives_roundtrip', TRUE
        ORDER BY chk
    """,
)
def pq_residual_invariants_q(spark, sf_dir):
    import numpy as np

    from ..operators import ivf, kmeans
    from ..operators import pq as PQ

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    key = (sf_dir, "pq_residual")
    cached = _INDEX_CACHE.get(key)
    if cached is None:
        init = kmeans.label_centroids(emb)
        base_dir = _scratch_dir("cavde_idx_pqres_")
        base = ivf.IVFIndex.build(
            corpus.filter(F.col("id") % 2 == 0), base_dir, "q_pq_res",
            nlist=init.shape[0], metric=D.L2, init=init, train=False,
        )
        res = PQ.IVFPQIndex.build_from_ivf(
            base, m=16, nbits=8, seed=42, residual=True
        )
        delta = base.add(corpus.filter(F.col("id") % 2 == 1))
        chained = PQ.IVFPQIndex.encode_delta(delta)
        # the one-shot twin: a SEPARATE index over the full corpus with
        # the same centroids + inherited codebooks (same residual space),
        # so the chain-vs-full comparison never clobbers the chain's own
        # delta codes dir
        full_ivf = ivf.IVFIndex.build(
            corpus, base_dir, "q_pq_res_full",
            nlist=init.shape[0], metric=D.L2, init=init, train=False,
        )
        fullpq = PQ.IVFPQIndex.encode_epoch(
            full_ivf, chained.codebooks, scope="chain", residual=True
        )
        cached = (base_dir, res, chained, fullpq)
        _INDEX_CACHE[key] = cached
    base_dir, res, chained, fullpq = cached

    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # 1. the defining identity, on the served CHAIN (base + delta codes).
    # The codes collect and the k=50 search are independent jobs over the
    # same immutable chain — overlap them (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=2) as _pool:
        f_codes = _pool.submit(chained.codes.collect)
        f_got = _pool.submit(
            lambda: chained.search(qdf, k=50, nprobe=chained.nlist).collect()
        )
        codes = {
            r["id"]: (r["list_id"], np.frombuffer(bytes(r["codes"]), np.uint8))
            for r in f_codes.result()
        }
        got = f_got.result()
    qv = {
        r["query_id"]: np.asarray(r["qvec"], np.float64)
        for r in qdf.collect()
    }
    ident_ok = True
    for r in got[:200]:
        lid, c = codes[r["id"]]
        recon = (
            chained.centroids[lid]
            + PQ.reconstruct(c[None, :], chained.codebooks)[0]
        )
        want = float(((qv[r["query_id"]] - recon) ** 2).sum())
        ident_ok = ident_ok and abs(r["distance"] - want) < 1e-6
    ident_ok = ident_ok and bool(got)

    # 2. O(delta) inheritance: chain fold ranks exactly like the one-shot
    # twin encoded with the same codebooks in the same residual space.
    # The two searches read independent indexes — overlap them so the
    # second's jobs back-fill the first's stage tails (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_a = pool.submit(
            lambda: chained.search(qdf, k=10, nprobe=chained.nlist).collect()
        )
        f_b = pool.submit(
            lambda: fullpq.search(qdf, k=10, nprobe=fullpq.nlist).collect()
        )
        a = {(r["query_id"], r["rank"], r["id"]) for r in f_a.result()}
        b = {(r["query_id"], r["rank"], r["id"]) for r in f_b.result()}
    delta_ok = bool(chained.residual) and a == b

    # 3. flag round-trip through the manifest
    loaded = PQ.IVFPQIndex.load(spark, base_dir, "q_pq_res")
    flag_ok = bool(loaded.residual) and bool(
        loaded.manifest.pq.get("residual")
        if loaded.manifest.pq
        else chained.manifest.pq.get("residual")
    )

    rows = [
        ("adc_matches_reconstruction", bool(ident_ok)),
        ("delta_inherits_residual_space", bool(delta_ok)),
        ("flag_survives_roundtrip", bool(flag_ok)),
    ]
    return spark.createDataFrame(rows, "chk string, ok boolean").orderBy("chk")


# ---------------------------------------------------------------------------
# dedup_semantic (r6): SemDeDup-shaped semantic dedup (ann.semantic_dedup)
# — cluster-blocked near-dup pairs resolved transitively, one canonical
# survivor per embedding-space group. Oracle: the dedup_cluster_blocked
# pair CTE + recursive-CTE connected components + a left join labeling
# every embedding (singletons keep themselves).
# ---------------------------------------------------------------------------
@query(
    "dedup_semantic",
    "semantic deduplication over the embeddings: cluster-blocked cosine "
    "near-dup groups (tau, multi-assign blocking), transitive resolution, "
    "keep = canonical minimum-id member per group — one row per vec_id "
    "with its group label and survivor flag",
    oracle=f"""
        WITH RECURSIVE
        {UN_EMB},
        cent AS (
            SELECT e.label AS list_id, u.pos, AVG(u.v) AS c
            FROM embeddings e
            JOIN un u ON u.vec_id = e.vec_id
            GROUP BY e.label, u.pos
        ),
        dist AS (
            SELECT u.vec_id, cent.list_id,
                   SUM((u.v - cent.c) * (u.v - cent.c)) AS d2
            FROM un u JOIN cent ON u.pos = cent.pos
            GROUP BY u.vec_id, cent.list_id
        ),
        assign2 AS (
            SELECT vec_id, list_id FROM (
                SELECT vec_id, list_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY d2, list_id) AS rn
                FROM dist) t
            WHERE rn <= 2
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
            FROM assign2 a
            JOIN assign2 b
              ON a.list_id = b.list_id AND a.vec_id < b.vec_id
        ),
        norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM un GROUP BY vec_id),
        verified AS (
            SELECT c.vec_id_a, c.vec_id_b
            FROM cand c
            JOIN un a ON a.vec_id = c.vec_id_a
            JOIN un b ON b.vec_id = c.vec_id_b AND b.pos = a.pos
            JOIN norms na ON na.vec_id = c.vec_id_a
            JOIN norms nb ON nb.vec_id = c.vec_id_b
            GROUP BY c.vec_id_a, c.vec_id_b, na.nrm, nb.nrm
            HAVING 1 - SUM(a.v * b.v) / (na.nrm * nb.nrm + 1e-8)
                   < {COSINE_DUP_TAU}
        ),
        edges AS (
            SELECT vec_id_a AS s, vec_id_b AS d FROM verified
            UNION ALL
            SELECT vec_id_b, vec_id_a FROM verified
        ),
        reach AS (
            SELECT s AS vec_id, d AS r FROM edges
            UNION
            SELECT re.vec_id, e.d FROM reach re JOIN edges e ON re.r = e.s
        ),
        comp AS (
            SELECT vec_id, LEAST(vec_id, MIN(r)) AS component
            FROM reach GROUP BY vec_id
        )
        SELECT e.vec_id,
               COALESCE(comp.component, e.vec_id) AS component,
               e.vec_id = COALESCE(comp.component, e.vec_id) AS keep
        FROM embeddings e LEFT JOIN comp ON comp.vec_id = e.vec_id
        ORDER BY e.vec_id
    """,
)
def dedup_semantic_q(spark, sf_dir):
    from ..operators import ann, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    C = kmeans.label_centroids(emb)
    return ann.semantic_dedup(
        emb, C, tau=COSINE_DUP_TAU, metric=D.COSINE, assign_m=2,
        assign_metric=D.L2,
        pairs=_cluster_dup_pairs_cached(spark, sf_dir),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# text_quality_eval_metrics (r6): classifier.binary_classification_report
# — exact Mann-Whitney AUC (average-rank tie handling) + threshold
# metrics, value-matched end-to-end: the heuristic quality score is the
# scorer (SQL-expressible), lang='en' the label, so every intermediate
# (tf grouping, rank sums, confusion counts) is recomputed in SQL.
# ---------------------------------------------------------------------------
@query(
    "text_quality_eval_metrics",
    "binary-classification report of the heuristic quality score against "
    "the lang='en' label: exact tie-aware Mann-Whitney AUC over the "
    "distinct-score aggregate + accuracy/precision/recall/f1 at 0.5 — "
    "the evaluation verb a gate owner runs before trusting any scorer",
    oracle=f"""
        WITH scored AS (
            SELECT ROUND({TXT_QUALITY_SQL}, 6) AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        g AS (SELECT s, COUNT(*) AS n, SUM(y) AS np FROM scored GROUP BY s),
        c AS (SELECT s, n, np,
                     COALESCE(SUM(n) OVER (ORDER BY s ROWS BETWEEN
                         UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_less
              FROM g),
        r AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
                     CAST(SUM(n - np) AS BIGINT) AS n_neg,
                     SUM(np * (n_less + (n + 1) / 2.0)) AS rank_sum,
                     SUM(CASE WHEN s >= 0.5 THEN np ELSE 0 END) AS tp,
                     SUM(CASE WHEN s >= 0.5 THEN n - np ELSE 0 END) AS fp
              FROM c)
        SELECT n_pos, n_neg,
               ROUND(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                   (rank_sum - n_pos * (n_pos + 1) / 2.0)
                   / (n_pos * n_neg) END, 6) AS auc,
               ROUND((tp + (n_neg - fp)) * 1.0 / (n_pos + n_neg), 6)
                   AS accuracy,
               ROUND(CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) END,
                     6) AS "precision",
               ROUND(CASE WHEN n_pos > 0 THEN tp * 1.0 / n_pos END, 6)
                   AS recall,
               ROUND(CASE WHEN tp + fp > 0 AND n_pos > 0 AND tp > 0 THEN
                   2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / n_pos)
                   / (tp * 1.0 / (tp + fp) + tp * 1.0 / n_pos) END, 6)
                   AS f1
        FROM r
    """,
)
def text_quality_eval_metrics_q(spark, sf_dir):
    from ..functions import text as TXT
    from ..operators import classifier as CLS

    docs = tables.load(spark, sf_dir, "documents").select(
        TXT.quality_score_expr("text").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    rep = CLS.binary_classification_report(
        docs, "y", "score", threshold=0.5, score_round=6
    )
    return rep.select(
        "n_pos",
        "n_neg",
        F.round("auc", 6).alias("auc"),
        F.round("accuracy", 6).alias("accuracy"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


# ---------------------------------------------------------------------------
# mmr_rerank_invariants: maximal-marginal-relevance diversity re-ranking
# (knn.mmr_rerank, Carbonell & Goldstein 1998). The greedy selection has no
# SQL analog (each pick depends on the previous picks' candidate-candidate
# distances), so the oracle is the invariants pattern: lam=1 must reproduce
# the plain ranking exactly, every pick must come from the shortlist, and
# the distributed greedy must equal a driver-side reference implementing
# the same formula on the same collected vectors.
# ---------------------------------------------------------------------------
@query(
    "mmr_rerank_invariants",
    "MMR diversity re-rank: lam=1.0 degenerates to the input ranking, the "
    "selected set is a subset of the shortlist, and the distributed "
    "applyInPandas greedy equals a dense driver-side reference of the "
    "same score formula (lam*rel - (1-lam)*min-dist-to-selected)",
    oracle="""
        SELECT 'lam1_equals_input_ranking' AS chk, TRUE AS ok
        UNION ALL SELECT 'matches_greedy_reference', TRUE
        UNION ALL SELECT 'selected_subset_of_shortlist', TRUE
        ORDER BY chk
    """,
)
def mmr_rerank_invariants_q(spark, sf_dir):
    import numpy as np

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # cache the shortlist across its three consumers (it is collected
    # below anyway, and both mmr_rerank actions would otherwise re-run
    # the exact_knn lineage — guide §5), then overlap the two
    # INDEPENDENT rerank collects (guide §2.6)
    shortlist = knn.exact_knn(corpus, queries_df, k=20, metric=D.L2).select(
        "query_id", "id", "distance"
    ).cache()
    short_rows = shortlist.collect()
    short_by_q: dict[int, list] = {}
    for r in short_rows:
        short_by_q.setdefault(r["query_id"], []).append(r)

    from concurrent.futures import ThreadPoolExecutor

    lam = 0.5
    with ThreadPoolExecutor(max_workers=2) as pool:
        # lam=1.0: pure relevance — must equal the input top-8 per query
        f1 = pool.submit(
            lambda: knn.mmr_rerank(
                corpus, shortlist, k=8, lam=1.0, metric=D.L2
            ).collect()
        )
        # lam=0.5: every pick from the shortlist, and the distributed
        # greedy equals the dense reference on the same vectors
        f5 = pool.submit(
            lambda: knn.mmr_rerank(
                corpus, shortlist, k=8, lam=lam, metric=D.L2
            ).collect()
        )
        rows1, rows5 = f1.result(), f5.result()
    lam1_ok = True
    by_q1: dict[int, list] = {}
    for r in rows1:
        by_q1.setdefault(r["query_id"], []).append(r)
    for qid, rows in short_by_q.items():
        want = [
            r["id"]
            for r in sorted(rows, key=lambda r: (r["distance"], r["id"]))[:8]
        ]
        got = [
            r["id"]
            for r in sorted(by_q1.get(qid, []), key=lambda r: r["rank"])
        ]
        lam1_ok = lam1_ok and got == want

    by_q5: dict[int, list] = {}
    for r in rows5:
        by_q5.setdefault(r["query_id"], []).append(r)
    short_ids = {(r["query_id"], r["id"]) for r in short_rows}
    subset_ok = all(
        (qid, r["id"]) in short_ids
        for qid, rows in by_q5.items()
        for r in rows
    )
    vecs = {
        r["id"]: np.asarray(r["vector"], dtype=np.float64)
        for r in corpus.join(
            shortlist.select("id").distinct(), "id", "left_semi"
        ).collect()
    }
    shortlist.unpersist()
    ref_ok = True
    for qid, rows in short_by_q.items():
        rows = sorted(rows, key=lambda r: (r["distance"], r["id"]))
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        rel = np.array([r["distance"] for r in rows], dtype=np.float64)
        V = np.stack([vecs[i] for i in ids])
        pair = D.pairwise(D.L2, V, V)
        selected: list[int] = []
        remaining = np.ones(len(ids), dtype=bool)
        for _ in range(min(8, len(ids))):
            div = (
                pair[:, selected].min(axis=1)
                if selected
                else np.zeros(len(ids))
            )
            score = lam * rel - (1.0 - lam) * div
            cand = np.nonzero(remaining)[0]
            best = cand[np.lexsort((ids[cand], score[cand]))[0]]
            selected.append(int(best))
            remaining[best] = False
        want = [int(ids[i]) for i in selected]
        got = [
            r["id"]
            for r in sorted(by_q5.get(qid, []), key=lambda r: r["rank"])
        ]
        ref_ok = ref_ok and got == want

    rows = [
        ("lam1_equals_input_ranking", bool(lam1_ok)),
        ("matches_greedy_reference", bool(ref_ok)),
        ("selected_subset_of_shortlist", bool(subset_ok)),
    ]
    return spark.createDataFrame(rows, "chk string, ok boolean").orderBy("chk")


# ---------------------------------------------------------------------------
# pipeline_docs_to_ann: the north-star composition in ONE catalog row —
# raw documents -> token-window chunking -> in-engine hashed embeddings
# (densified to the index's array<float> shape) -> IVF epoch build (seeded
# k-means train) -> top-k search. Every stage already has its own oracled
# spec; this row certifies the COMPOSITION the engine exists for, as one
# DuckDB CTE chain. Search runs at nprobe=nlist (exact by completeness),
# so the oracle is independent of the trained centroids: chunking
# (text_chunking's CTEs), the md5 hashing trick (text_hashing_knn's CTEs,
# with the engine's float32-storage cast mirrored via CAST(.. AS REAL)),
# then brute-force L2 top-k via the norm-expansion identity over the
# sparse form.
# ---------------------------------------------------------------------------
_E2E_VEC_CTES = (
    _CHUNK_CTES
    + r""",
        raw AS (
            SELECT doc_id * 1000 + chunk_id AS id,
                   array_to_string(ct, ' ') AS rtxt
            FROM chunks
        ),
        -- chunk-level exact dedup before indexing (min-id survivor):
        -- templated docs yield byte-identical chunks whose identical
        -- vectors would make rank-boundary ties float-layout-dependent;
        -- deduping is both the pipeline best practice and what makes the
        -- cross-engine compare deterministic
        uniqc AS (
            SELECT MIN(id) AS id, lower(trim(rtxt)) AS txt
            FROM raw GROUP BY 2
        ),
        tokq AS (
            SELECT id, unnest(regexp_split_to_array(
                       lower(trim(rtxt)), '\s+')) AS token
            FROM raw WHERE id < 3000 AND length(trim(rtxt)) > 0
        ),
        tokc AS (
            SELECT id, unnest(regexp_split_to_array(txt, '\s+')) AS token
            FROM uniqc WHERE length(txt) > 0
        ),
        tfq AS (
            SELECT id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS dim,
                   COUNT(*) AS tf
            FROM tokq GROUP BY 1, 2
        ),
        tfc AS (
            SELECT id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS dim,
                   COUNT(*) AS tf
            FROM tokc GROUP BY 1, 2
        ),
        nrmq AS (SELECT id, SQRT(SUM(tf * tf)) AS norm FROM tfq GROUP BY 1),
        nrmc AS (SELECT id, SQRT(SUM(tf * tf)) AS norm FROM tfc GROUP BY 1),
        vecq AS (
            SELECT t.id, t.dim,
                   CAST(CAST(CAST(t.tf AS DOUBLE) / n.norm AS REAL)
                        AS DOUBLE) AS w
            FROM tfq t JOIN nrmq n USING (id)
        ),
        vecc AS (
            SELECT t.id, t.dim,
                   CAST(CAST(CAST(t.tf AS DOUBLE) / n.norm AS REAL)
                        AS DOUBLE) AS w
            FROM tfc t JOIN nrmc n USING (id)
        )
"""
)


@query(
    "pipeline_docs_to_ann",
    "flagship end-to-end: documents -> chunk (32/8 windows) -> chunk-"
    "level exact dedup (min-id survivor) -> hashed embeddings (dense "
    "64-d, textops.dense_hashed_vectors) -> IVF epoch build (nlist=8, "
    "seeded train) -> L2 top-5 at full probe for the chunks of docs "
    "0-2; exact by completeness, so the single CTE-chain oracle "
    "recomputes chunking + dedup + hashing + brute-force top-k and is "
    "independent of the trained centroids",
    oracle="WITH "
    + _E2E_VEC_CTES
    + """,
        sqq AS (SELECT id, SUM(w * w) AS s2 FROM vecq GROUP BY 1),
        sqc AS (SELECT id, SUM(w * w) AS s2 FROM vecc GROUP BY 1),
        dot AS (
            SELECT qv.id AS query_id, v.id, SUM(qv.w * v.w) AS d
            FROM vecq qv JOIN vecc v USING (dim)
            GROUP BY 1, 2
        ),
        dists AS (
            SELECT qs.id AS query_id, cs.id AS id,
                   GREATEST(qs.s2 + cs.s2 - 2 * COALESCE(d.d, 0), 0)
                       AS dist_raw
            FROM sqq qs
            CROSS JOIN sqc cs
            LEFT JOIN dot d ON d.query_id = qs.id AND d.id = cs.id
        ),
        r AS (
            SELECT query_id, id, dist_raw,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist_raw, id) AS INTEGER) AS rank
            FROM dists
        )
        SELECT query_id, rank, id AS chunk_key,
               ROUND(dist_raw, 6) + 0 AS dist
        FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def pipeline_docs_to_ann_q(spark, sf_dir):
    from ..operators import ivf, textops

    def chunk_keyed(docs):
        ch = textops.chunk_documents(docs, max_tokens=32, overlap=8)
        return ch.select(
            (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("id"),
            F.col("chunk_text").alias("text"),
        )

    def chunk_vectors(keyed):
        return textops.dense_hashed_vectors(
            keyed, dim=64, text_col="text", id_col="id"
        )

    key = (sf_dir, "docs_to_ann")
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        # chunk-level exact dedup before indexing (min-id survivor):
        # pipeline best practice, and it removes the identical-vector
        # rank-boundary ties that would make the compare float-layout-
        # dependent (see the oracle's uniqc CTE)
        uniq = (
            chunk_keyed(tables.load(spark, sf_dir, "documents"))
            .groupBy(F.lower(F.trim(F.col("text"))).alias("text"))
            .agg(F.min("id").alias("id"))
        )
        # persist across the build only: IVFIndex.build evaluates its
        # source twice (train-sample collect, then the epoch write), and
        # here that source is the whole chunk->dedup->embed pipeline
        # (~2s/pass); the relation is ~12K x 64-d — bounded. Unpersisted
        # immediately: after the build the epoch parquet is the data.
        # (At 100 TB you would NOT cache the corpus — two streaming
        # passes are the right trade there; this is the small-derived-
        # relation case guide §5 reserves persist for.)
        vecs = chunk_vectors(uniq).persist()
        try:
            idx = ivf.IVFIndex.build(
                vecs,
                _scratch_dir("cavde_e2e_"),
                "docs_to_ann",
                nlist=8,
                metric=D.L2,
                seed=7,
            )
        finally:
            vecs.unpersist()
        _INDEX_CACHE[key] = idx
    qdf = chunk_vectors(
        chunk_keyed(
            tables.load(spark, sf_dir, "documents").filter(
                F.col("doc_id") < 3
            )
        )
    ).select(F.col("id").alias("query_id"), F.col("vector").alias("qvec"))
    res = idx.search(qdf, k=5, nprobe=idx.manifest.nlist)
    return res.select(
        "query_id",
        "rank",
        F.col("id").alias("chunk_key"),
        F.round("distance", 6).alias("dist"),
    ).orderBy("query_id", "rank")


# ===========================================================================
# Driver-window combo specs + the explicit 50-spec priority window
# ===========================================================================
# The external driver oracle-verifies only the FIRST ``DRIVER_VERIFY_WINDOW``
# entries of ``all_specs()`` — round 4 proved that plain registration order
# silently un-verifies shipped operators when new specs land (33 of 83 had
# no CORRECTNESS row, including five SURVEY §2-backing queries that were
# green in round 3). Two mechanisms keep every §2 operator and every
# extension family inside the window:
#
#   1. combo specs: a tagged UNION ALL of same-shape member queries, so ONE
#      driver row value-checks several operators at once. Members stay
#      registered individually (bench granularity, targeted reruns,
#      scripts/verify_contract.py still runs everything).
#   2. WINDOW: the pinned priority order that ``all_specs()`` emits first,
#      regression-guarded by tests/test_registry_window.py — an insertion
#      that disturbs the window turns a test red instead of silently
#      dropping driver coverage.


def _combo(name: str, description: str, members) -> None:
    """Register a tagged-union combo spec.

    ``members`` is a list of (tag, member_name, spark_project, oracle_cols):
    ``spark_project`` maps the member DataFrame to the combo's shared
    column shape (None = identity), ``oracle_cols`` is the matching SQL
    projection over the member oracle (None = '*'). Both sides prepend the
    literal ``part`` tag column, so the driver's order-insensitive
    value-hash covers each member's full result set.
    """
    mems = tuple(members)

    def fn(spark, sf_dir, _mems=mems):
        out = None
        for tag, mname, project, _ in _mems:
            df = REGISTRY[mname].spark(spark, sf_dir)
            if project is not None:
                df = project(df)
            df = df.select(F.lit(tag).alias("part"), "*")
            out = df if out is None else out.unionByName(df)
        return out

    oracle = "\nUNION ALL\n".join(
        f"SELECT CAST('{tag}' AS VARCHAR) AS part, {cols or '*'} "
        f"FROM ({REGISTRY[mname].oracle})"
        for tag, mname, _, cols in mems
    )
    REGISTRY[name] = QuerySpec(name, description, fn, oracle)


_combo(
    "ivf_search_combo",
    "one driver row for the whole IVF search surface (T2+T3+T7): full-probe "
    "search, filtered search (predicate inside the pruned scan), and "
    "exact-rerank — tagged union of the three member queries",
    [
        ("fullprobe", "ivf_search_fullprobe", None, None),
        ("filtered", "ivf_search_filtered", None, None),
        ("rerank", "ivf_rerank_fullprobe", None, None),
        # r7 fold: shard-merge lifecycle (service.merge_index) shares the
        # search-row shape — the merged-index full-probe member gives the
        # whole build+build+merge+search chain an in-window driver row
        ("merged", "index_merge_search", None, None),
    ],
)

_combo(
    "range_search_combo",
    "range search both ways: exact scan and IVF covering-radius-pruned, "
    "tagged union (the two member queries)",
    [
        ("exact", "range_search_l2", None, None),
        ("ivf", "ivf_range_search", None, None),
    ],
)

_combo(
    "quantized_search_combo",
    "the scalar/binary quantization search tier on one (query_id, rank, "
    "vec_id, dist) shape: SQ8 asymmetric top-k + exact rerank, and "
    "binary-quantization Hamming top-k + exact rerank — tagged union of "
    "the four member queries (r6: folds the former sq8_combo + bq_combo "
    "into one driver row, freeing a window slot)",
    [
        ("sq8_topk", "sq8_topk", None, None),
        ("sq8_rerank", "sq8_rerank", None, None),
        ("bq_hamming", "bq_hamming_topk", None, None),
        ("bq_rerank", "bq_rerank", None, None),
    ],
)

_combo(
    "ann_grouped_combo",
    "faceted retrieval verbs: grouped per-facet top-k and label-excluding "
    "hard-negative mining (hard_neg rows carry grp=0)",
    [
        ("grouped", "ann_grouped_topk", None, None),
        (
            "hard_neg",
            "ann_hard_negatives",
            lambda df: df.select(
                "query_id",
                F.lit(0).cast("int").alias("grp"),
                "rank",
                "vec_id",
                "dist",
            ),
            'query_id, CAST(0 AS INTEGER) AS grp, "rank", vec_id, dist',
        ),
    ],
)

_combo(
    "retrieval_combo",
    "ranked-retrieval shapes normalized to (query_id, rank, item_id, "
    "score): hybrid RRF fusion, BM25 first-stage ranking, MaxSim "
    "late-interaction multi-vector retrieval (exact + cluster-blocked "
    "scale path), Matryoshka prefix cascade, multimodal feature kNN, "
    "hashing-trick sparse-cosine kNN",
    [
        ("maxsim", "maxsim_multivector", None, None),
        # r7 folds: the two r6 composed retrieval verbs share the shape
        ("maxsim_blocked", "maxsim_blocked", None, None),
        (
            "mrl_cascade",
            "mrl_cascade_topk",
            lambda df: df.select(
                "query_id",
                "rank",
                F.col("vec_id").alias("item_id"),
                F.col("dist").cast("double").alias("score"),
            ),
            'query_id, "rank", vec_id AS item_id, '
            "CAST(dist AS DOUBLE) AS score",
        ),
        (
            "bm25",
            "hybrid_bm25_search",
            lambda df: df.select(
                "query_id",
                "rank",
                F.col("doc_id").alias("item_id"),
                F.col("score"),
            ),
            'query_id, "rank", doc_id AS item_id, score',
        ),
        (
            "hybrid_rrf",
            "hybrid_rrf_search",
            lambda df: df.select(
                "query_id",
                "rank",
                F.col("doc_id").alias("item_id"),
                F.col("rrf").alias("score"),
            ),
            'query_id, "rank", doc_id AS item_id, rrf AS score',
        ),
        (
            "multimodal_knn",
            "multimodal_feature_knn",
            lambda df: df.select(
                "query_id",
                "rank",
                F.col("asset_id").alias("item_id"),
                F.col("dist").alias("score"),
            ),
            'query_id, "rank", asset_id AS item_id, dist AS score',
        ),
        (
            "hashing_knn",
            "text_hashing_knn",
            lambda df: df.select(
                F.col("doc_id").alias("query_id"),
                F.col("rnk").alias("rank"),
                F.col("neighbor_id").alias("item_id"),
                F.col("cos").alias("score"),
            ),
            'doc_id AS query_id, rnk AS "rank", neighbor_id AS item_id, '
            "cos AS score",
        ),
    ],
)

_combo(
    "arrow_ipc_combo",
    "Arrow IPC write/read surface (F1+F2) on one row shape (stat, k, v): "
    "roundtrip aggregate stats unpivoted + the (offset,length) slice "
    "sq-norms keyed by vec_id",
    [
        (
            "roundtrip",
            "arrow_ipc_roundtrip",
            lambda df: df.selectExpr(
                "stack(3, 'n_vectors', cast(n_vectors as double), "
                "'sum_ids', cast(sum_ids as double), "
                "'avg_sq_norm', avg_sq_norm) as (stat, v)"
            ).select("stat", F.lit(0).cast("long").alias("k"), "v"),
            "s.stat, CAST(0 AS BIGINT) AS k, s.v",
        ),
        (
            "slice",
            "arrow_ipc_slice",
            lambda df: df.select(
                F.lit("sq_norm").alias("stat"),
                F.col("vec_id").alias("k"),
                F.col("sq_norm").alias("v"),
            ),
            "CAST('sq_norm' AS VARCHAR) AS stat, vec_id AS k, sq_norm AS v",
        ),
    ],
)
# the roundtrip member needs an unpivot the generic oracle wrapper can't
# express with '*' — rewrite its branch with an explicit lateral VALUES
REGISTRY["arrow_ipc_combo"] = QuerySpec(
    "arrow_ipc_combo",
    REGISTRY["arrow_ipc_combo"].description,
    REGISTRY["arrow_ipc_combo"].spark,
    f"""
    SELECT CAST('roundtrip' AS VARCHAR) AS part, s.stat,
           CAST(0 AS BIGINT) AS k, s.v
    FROM ({REGISTRY["arrow_ipc_roundtrip"].oracle}) r
    CROSS JOIN LATERAL (VALUES
        (CAST('n_vectors' AS VARCHAR), CAST(r.n_vectors AS DOUBLE)),
        (CAST('sum_ids' AS VARCHAR), CAST(r.sum_ids AS DOUBLE)),
        (CAST('avg_sq_norm' AS VARCHAR), r.avg_sq_norm)) AS s(stat, v)
    UNION ALL
    SELECT CAST('slice' AS VARCHAR) AS part,
           CAST('sq_norm' AS VARCHAR) AS stat, vec_id AS k, sq_norm AS v
    FROM ({REGISTRY["arrow_ipc_slice"].oracle})
    """,
)

_combo(
    "index_maintenance_combo",
    "index lifecycle on one (list_id, n_vectors) shape: O(delta) "
    "incremental add (B4), tombstone deletes, and per-list stats (V10)",
    [
        ("delta_add", "index_delta_add", None, None),
        ("tombstones", "index_delete_tombstones", None, None),
        ("list_stats", "index_list_stats", None, None),
    ],
)

_combo(
    "dedup_pairs_combo",
    "document near-dup pair generators on one (doc_id_a, doc_id_b, score) "
    "shape: exact n-gram Jaccard ground truth, MinHash-LSH, SimHash "
    "(Hamming distance cast to DOUBLE), asymmetric near-containment "
    "(directed (inner, outer) pairs — doc_id_a may exceed doc_id_b), and "
    "Levenshtein-verified fuzzy pairs (score = edit_sim)",
    [
        (
            "ngram",
            "dedup_ngram_jaccard",
            lambda df: df.select(
                "doc_id_a", "doc_id_b", F.col("jaccard").alias("score")
            ),
            "doc_id_a, doc_id_b, jaccard AS score",
        ),
        (
            "minhash",
            "dedup_minhash_lsh",
            lambda df: df.select(
                "doc_id_a", "doc_id_b", F.col("jaccard").alias("score")
            ),
            "doc_id_a, doc_id_b, jaccard AS score",
        ),
        (
            "simhash",
            "dedup_simhash",
            lambda df: df.select(
                "doc_id_a",
                "doc_id_b",
                F.col("hamming").cast("double").alias("score"),
            ),
            "doc_id_a, doc_id_b, CAST(hamming AS DOUBLE) AS score",
        ),
        (
            "containment",
            "dedup_containment",
            lambda df: df.select(
                F.col("inner_id").alias("doc_id_a"),
                F.col("outer_id").alias("doc_id_b"),
                F.col("containment").alias("score"),
            ),
            "inner_id AS doc_id_a, outer_id AS doc_id_b, "
            "containment AS score",
        ),
        (
            "fuzzy",
            "dedup_fuzzy_edit",
            lambda df: df.select(
                "doc_id_a", "doc_id_b", F.col("edit_sim").alias("score")
            ),
            "doc_id_a, doc_id_b, edit_sim AS score",
        ),
    ],
)

_combo(
    "events_user_combo",
    "per-user event-join verbs on one (user_id, n_a, n_b, avg_s) shape: "
    "sessionization, as-of purchase attribution, and interval join",
    [
        (
            "sessionization",
            "events_sessionization",
            lambda df: df.select(
                "user_id",
                F.col("n_sessions").alias("n_a"),
                F.col("n_events").alias("n_b"),
                F.col("avg_session_secs").alias("avg_s"),
            ),
            "user_id, n_sessions AS n_a, n_events AS n_b, "
            "avg_session_secs AS avg_s",
        ),
        (
            "asof",
            "events_asof_attribution",
            lambda df: df.select(
                "user_id",
                F.col("n_purchases").alias("n_a"),
                F.col("n_attributed").alias("n_b"),
                F.col("avg_gap_s").alias("avg_s"),
            ),
            "user_id, n_purchases AS n_a, n_attributed AS n_b, "
            "avg_gap_s AS avg_s",
        ),
        (
            "interval",
            "events_interval_join",
            lambda df: df.select(
                "user_id",
                F.col("n_errors_with_click").alias("n_a"),
                F.col("n_pairs").alias("n_b"),
                F.col("avg_lead_s").alias("avg_s"),
            ),
            "user_id, n_errors_with_click AS n_a, n_pairs AS n_b, "
            "avg_lead_s AS avg_s",
        ),
    ],
)

_combo(
    "dedup_stats_combo",
    "dedup aggregate accounting on one (n_total, n_distinct, n_dup, "
    "n_docs_affected) shape: document-level exact dedup (n_docs_affected "
    "pinned 0), chunk-level dedup, and URL-level dedup over the "
    "constructed crawl manifest (r6: canonicalization chain value-"
    "checked in-window through this row)",
    [
        (
            "exact_docs",
            "dedup_exact_stats",
            lambda df: df.select(
                F.col("n_docs").alias("n_total"),
                F.col("n_unique").alias("n_distinct"),
                "n_dup",
                F.lit(0).cast("long").alias("n_docs_affected"),
            ),
            "n_docs AS n_total, n_unique AS n_distinct, n_dup, "
            "CAST(0 AS BIGINT) AS n_docs_affected",
        ),
        (
            "chunks",
            "text_chunk_dedup",
            lambda df: df.select(
                F.col("total_chunks").alias("n_total"),
                F.col("distinct_chunks").alias("n_distinct"),
                F.col("dup_chunks").alias("n_dup"),
                F.col("docs_affected").alias("n_docs_affected"),
            ),
            "total_chunks AS n_total, distinct_chunks AS n_distinct, "
            "dup_chunks AS n_dup, docs_affected AS n_docs_affected",
        ),
        ("urls", "web_url_dedup_stats", None, None),
    ],
)


_combo(
    "index_delta_codes_combo",
    "O(delta) quantized-index maintenance on one (k, v) shape: PQ "
    "delta-chain per-list code counts (k=list_id, v=n_codes) and SQ "
    "delta-chain per-vector code-byte sums (k=vec_id, v=code_sum) — "
    "tagged union (r6: folds the two former standalone window rows)",
    [
        (
            "pq_list_counts",
            "index_pq_delta_codes",
            lambda df: df.select(
                F.col("list_id").cast("long").alias("k"),
                F.col("n_codes").alias("v"),
            ),
            "CAST(list_id AS BIGINT) AS k, n_codes AS v",
        ),
        (
            "sq_code_sums",
            "index_sq_delta_codes",
            lambda df: df.select(
                F.col("vec_id").cast("long").alias("k"),
                F.col("code_sum").alias("v"),
            ),
            "CAST(vec_id AS BIGINT) AS k, code_sum AS v",
        ),
    ],
)

_combo(
    "model_invariants_combo",
    "trained-model / algorithmic invariants on one (chk, ok) shape: "
    "OPQ-lite rotation (orthonormality, Gram preservation, variance "
    "balance), the IRLS quality classifier (fit==dense reference, "
    "JVM scoring==sigmoid(Xw), beats majority), Misra-Gries vocabulary "
    "(exact at covering capacity, classic error band), and MMR re-rank "
    "(lam=1 identity, shortlist subset, greedy==reference) — one driver "
    "row certifying all four r5/r6 model operators",
    [
        ("opq", "pq_opq_invariants", None, None),
        ("classifier", "text_quality_model_invariants", None, None),
        ("mg_vocab", "text_vocab_heavy_hitters", None, None),
        ("mmr", "mmr_rerank_invariants", None, None),
        ("residual_pq", "pq_residual_invariants", None, None),
    ],
)

_combo(
    "text_lm_combo",
    "per-document text-model statistics on one (doc_id, n, avg_logprob, "
    "oov_rate) shape: corpus-MLE unigram LM (oov_rate pinned 0 — every "
    "token is in its own training corpus), held-out stupid-backoff "
    "bigram LM with real OOV accounting, and (r8) the byte-level-BPE "
    "pretoken stats (n = pretoken count; the avg slot carries "
    "bytes/pretoken, the rate slot the whitespace-pretoken rate) — "
    "tagged union",
    [
        (
            "unigram",
            "text_unigram_logprob",
            lambda df: df.select(
                "doc_id",
                F.col("n_tokens").alias("n"),
                "avg_logprob",
                F.lit(0.0).alias("oov_rate"),
            ),
            "doc_id, n_tokens AS n, avg_logprob, "
            "CAST(0.0 AS DOUBLE) AS oov_rate",
        ),
        (
            "bigram",
            "text_bigram_backoff",
            lambda df: df.select(
                "doc_id",
                F.col("n_bigrams").alias("n"),
                "avg_logprob",
                "oov_rate",
            ),
            "doc_id, n_bigrams AS n, avg_logprob, oov_rate",
        ),
        (
            "bytetok",
            "text_byte_pretoken_stats",
            lambda df: df.select(
                "doc_id",
                F.col("n_pretokens").alias("n"),
                F.col("bytes_per_pretoken").alias("avg_logprob"),
                F.col("ws_rate").alias("oov_rate"),
            ),
            "doc_id, n_pretokens AS n, bytes_per_pretoken AS avg_logprob, "
            "ws_rate AS oov_rate",
        ),
    ],
)

from ..operators.textops import GOPHER_NGRAM_RULES as _GNR  # noqa: E402

_NGRAM_RULE_NAMES = tuple(_GNR)

_combo(
    "corpus_filter_combo",
    "the document-gate tier on one (doc_id, detail, keep) shape: C4 "
    "line-level cleaning (detail = the full cleaned text string), the "
    "nine Gopher quality rules (detail = comma-joined failed rules), "
    "the heuristic quality gate in per-document form (detail = "
    "floor(quality*1e6) — integer string, immune to float-format "
    "dialect drift), the nine Gopher n-gram repetition rules, the "
    "domain blocklist gate (detail = the full registrable domain), and "
    "corpus-level boilerplate removal (detail = the full scrubbed "
    "text), plus (r7) sentence-aligned chunking (detail = token count "
    ":full chunk text, key = doc*1000+chunk) — one driver row "
    "value-checking every published gate per document",
    [
        (
            "c4",
            "text_c4_line_clean",
            lambda df: df.select(
                "doc_id",
                F.col("clean_text").alias("detail"),
                F.col("c4_keep").alias("keep"),
            ),
            "doc_id, clean_text AS detail, c4_keep AS keep",
        ),
        (
            "gopher",
            "text_gopher_rules",
            lambda df: df.select(
                "doc_id",
                F.col("failed_rules").alias("detail"),
                F.col("gopher_keep").alias("keep"),
            ),
            "doc_id, failed_rules AS detail, gopher_keep AS keep",
        ),
        ("quality", "text_quality_gate_docs", None, None),
        # r6 second wave: the remaining per-doc gates join the same row
        (
            "ngram",
            "text_ngram_repetition",
            lambda df: df.select(
                "doc_id",
                F.concat_ws(
                    ",",
                    *[
                        F.when(~F.col(n), F.lit(n))
                        for n in _NGRAM_RULE_NAMES
                    ],
                ).alias("detail"),
                F.col("ngram_keep").alias("keep"),
            ),
            "doc_id, concat_ws(','"
            + "".join(
                f", CASE WHEN NOT {n} THEN '{n}' END"
                for n in _NGRAM_RULE_NAMES
            )
            + ") AS detail, ngram_keep AS keep",
        ),
        (
            "domain",
            "web_domain_gate_docs",
            None,
            None,
        ),
        (
            "boiler",
            "text_boilerplate_lines",
            lambda df: df.select(
                "doc_id",
                F.col("clean_text").alias("detail"),
                F.lit(True).alias("keep"),
            ),
            "doc_id, clean_text AS detail, TRUE AS keep",
        ),
        # r7: within-doc duplicate-line removal — natural (doc_id,
        # detail, keep) shape (detail = full cleaned text)
        ("paradedup", "text_paragraph_dedup", None, None),
        # r7: sentence-aligned chunking shares the per-doc-string shape
        # (key = doc*1000+chunk, detail = token count + full chunk text)
        (
            "sentchunk",
            "text_sentence_chunks",
            lambda df: df.select(
                (F.col("doc_id") * 1000 + F.col("chunk_id")).alias(
                    "doc_id"
                ),
                F.concat_ws(
                    ":", F.col("n_tokens").cast("string"),
                    F.col("chunk_text"),
                ).alias("detail"),
                F.lit(True).alias("keep"),
            ),
            "doc_id * 1000 + chunk_id AS doc_id, "
            "CAST(n_tokens AS VARCHAR) || ':' || chunk_text AS detail, "
            "TRUE AS keep",
        ),
    ],
)

_combo(
    "pipeline_funnel_combo",
    "the end-to-end funnels on one (stage, name, n_docs, n_tokens) "
    "shape: the 8-stage curation funnel (lang -> quality -> PII -> "
    "exact dedup -> near dedup -> decontam -> domain mix, eager with "
    "stage timing dropped), the 6-stage lazy crawl ingest funnel "
    "(blocklist -> URL dedup -> HTML->lines + C4 -> PII -> Gopher), "
    "and (r7) the same ingest funnel fed from an engine-written WARC "
    "dump through read_warc, plus the pipeline's terminal stage — the "
    "hash-sharded training export's per-shard manifest (stage=shard_id) "
    "— one driver row certifying the full composed pipelines from "
    "wire-format source to shard sink",
    [
        ("curation", "pipeline_curation_funnel", None, None),
        ("web_ingest", "pipeline_web_ingest", None, None),
        # r7 fold: the same funnel fed from an engine-written WARC dump
        # (read_warc round trip) — certifies the wire-format source
        ("warc_ingest", "pipeline_warc_ingest", None, None),
        # r7 fold: the shard-export manifest shares the funnel's
        # (stage, name, n_docs, n_tokens) accounting shape
        (
            "shards",
            "pipeline_training_shards",
            lambda df: df.select(
                F.col("shard_id").cast("int").alias("stage"),
                F.lit("shard").alias("name"),
                F.col("n_docs"),
                F.col("n_tokens"),
            ),
            "shard_id AS stage, CAST('shard' AS VARCHAR) AS name, "
            "n_docs, n_tokens",
        ),
    ],
)


_combo(
    "dedup_clusters_combo",
    "transitive duplicate resolution on one (k, v, keep) shape: "
    "connected components over the exact 3-gram-Jaccard pair graph "
    "(k=cluster_id, v=size, keep pinned TRUE) and SemDeDup-style "
    "semantic dedup over the embeddings (k=vec_id, v=component, "
    "keep=survivor flag) — r7 fold giving the semantic-dedup chain an "
    "in-window driver row",
    [
        (
            "clusters",
            "dedup_clusters",
            lambda df: df.select(
                F.col("cluster_id").cast("long").alias("k"),
                F.col("sz").cast("long").alias("v"),
                F.lit(True).alias("keep"),
            ),
            "CAST(cluster_id AS BIGINT) AS k, CAST(sz AS BIGINT) AS v, "
            "TRUE AS keep",
        ),
        (
            "semantic",
            "dedup_semantic",
            lambda df: df.select(
                F.col("vec_id").cast("long").alias("k"),
                F.col("component").cast("long").alias("v"),
                "keep",
            ),
            "CAST(vec_id AS BIGINT) AS k, CAST(component AS BIGINT) AS v, "
            "keep",
        ),
    ],
)

_combo(
    "metrics_report_combo",
    "metrics/evaluation reports unpivoted to one (metric, value DOUBLE) "
    "shape: the V7 per-event-type count+p50/p95/p99 rollup (metric = "
    "event_type '.' stat) and the exact tie-aware binary-classification "
    "report of the heuristic quality score (AUC, accuracy, precision, "
    "recall, f1) — r7 fold giving the eval-metrics verb an in-window "
    "driver row; the unpivot is lossless so both stay exact value-"
    "matches — plus (r7) the corpus-drift report (per-lang share_delta "
    "+ tv_distance between snapshot halves, natively (metric, value))",
    [
        (
            "percentiles",
            "events_percentiles",
            lambda df: df.selectExpr(
                "event_type",
                "stack(4, 'cnt', cast(cnt as double), 'p50', p50, "
                "'p95', p95, 'p99', p99) as (m, value)",
            ).select(
                F.concat_ws(".", "event_type", "m").alias("metric"), "value"
            ),
            None,  # oracle branch rewritten below (needs a lateral unpivot)
        ),
        (
            "quality_eval",
            "text_quality_eval_metrics",
            lambda df: df.selectExpr(
                "stack(7, 'n_pos', cast(n_pos as double), "
                "'n_neg', cast(n_neg as double), 'auc', auc, "
                "'accuracy', accuracy, 'precision', `precision`, "
                "'recall', recall, 'f1', f1) as (metric, value)"
            ),
            None,
        ),
        # r7 fold: corpus drift is natively (metric, value)
        ("drift", "corpus_drift_report", None, None),
        # r8 fold: ranked-retrieval quality is natively (metric, value)
        ("rankqual", "retrieval_quality_metrics", None, None),
        # r12 fold: the manifest-stamped recall operating point is
        # natively (metric, value) — gives tune_recall an in-window row
        ("recall_op", "ivf_recall_operating_point", None, None),
        # r7 fold: temperature-mix plan unpivoted per lang
        (
            "tempmix",
            "pipeline_temperature_mix",
            lambda df: df.selectExpr(
                "lang",
                "stack(2, 'docs', cast(n_docs as double), 'frac', frac)"
                " as (m, value)",
            ).select(
                F.concat_ws(".", F.lit("tempmix"), "lang", "m").alias(
                    "metric"
                ),
                "value",
            ),
            None,  # oracle branch in the lateral rewrite below
        ),
    ],
)
# both members need a row-generating unpivot the generic '*'-projection
# oracle wrapper can't express — rewrite with explicit lateral VALUES
# (same pattern as arrow_ipc_combo)
REGISTRY["metrics_report_combo"] = QuerySpec(
    "metrics_report_combo",
    REGISTRY["metrics_report_combo"].description,
    REGISTRY["metrics_report_combo"].spark,
    f"""
    SELECT CAST('percentiles' AS VARCHAR) AS part,
           p.event_type || '.' || s.m AS metric, s.value
    FROM ({REGISTRY["events_percentiles"].oracle}) p
    CROSS JOIN LATERAL (VALUES
        (CAST('cnt' AS VARCHAR), CAST(p.cnt AS DOUBLE)),
        (CAST('p50' AS VARCHAR), p.p50),
        (CAST('p95' AS VARCHAR), p.p95),
        (CAST('p99' AS VARCHAR), p.p99)) AS s(m, value)
    UNION ALL
    SELECT CAST('quality_eval' AS VARCHAR) AS part, s.m AS metric, s.value
    FROM ({REGISTRY["text_quality_eval_metrics"].oracle}) r
    CROSS JOIN LATERAL (VALUES
        (CAST('n_pos' AS VARCHAR), CAST(r.n_pos AS DOUBLE)),
        (CAST('n_neg' AS VARCHAR), CAST(r.n_neg AS DOUBLE)),
        (CAST('auc' AS VARCHAR), r.auc),
        (CAST('accuracy' AS VARCHAR), r.accuracy),
        (CAST('precision' AS VARCHAR), r."precision"),
        (CAST('recall' AS VARCHAR), r.recall),
        (CAST('f1' AS VARCHAR), r.f1)) AS s(m, value)
    UNION ALL
    SELECT CAST('drift' AS VARCHAR) AS part, metric, value
    FROM ({REGISTRY["corpus_drift_report"].oracle})
    UNION ALL
    SELECT CAST('rankqual' AS VARCHAR) AS part, metric, value
    FROM ({REGISTRY["retrieval_quality_metrics"].oracle})
    UNION ALL
    SELECT CAST('recall_op' AS VARCHAR) AS part, metric, value
    FROM ({REGISTRY["ivf_recall_operating_point"].oracle})
    UNION ALL
    SELECT CAST('tempmix' AS VARCHAR) AS part,
           'tempmix.' || t.lang || '.' || s.m AS metric, s.value
    FROM ({REGISTRY["pipeline_temperature_mix"].oracle}) t
    CROSS JOIN LATERAL (VALUES
        (CAST('docs' AS VARCHAR), CAST(t.n_docs AS DOUBLE)),
        (CAST('frac' AS VARCHAR), t.frac)) AS s(m, value)
    """,
)


# How many leading all_specs() entries the external driver oracle-verifies.
DRIVER_VERIFY_WINDOW = 50

# The pinned priority order — every SURVEY §2 operator and every extension
# family has a backing spec inside the first DRIVER_VERIFY_WINDOW entries.
# Guarded by tests/test_registry_window.py; keep its length EXACTLY 50 so
# additions are a conscious trade, not silent coverage loss.
WINDOW = [
    # core Q1-Q12
    "q1_scan_filter", "q2_knn_l2", "q3_knn_ip", "q4_knn_cosine",
    "q5_assign_counts", "q6_topk_per_group", "q7_distinct_count",
    "q8_lloyd_update", "q9_agg_pricing", "q10_join_metadata",
    "q11_embedding_near_dup", "q12_events_hourly",
    # §2 scalar / search / top-k + vector-index extensions
    "ann_cosine_topk", "ann_ip_normalized", "ivf_search_combo",
    "ivf_recall_nprobe2", "pq_recall_rerank", "range_search_combo",
    "quantized_search_combo", "pca_project_invariants",
    "ann_grouped_combo", "retrieval_combo",
    # §2 storage / index lifecycle / serving stats
    "arrow_ipc_combo", "index_maintenance_combo", "index_hot_lists",
    "index_snapshot_roundtrip", "index_delta_codes_combo",
    "index_quantization_health",
    # trained-model / algorithmic invariants (OPQ, classifier, MG vocab,
    # MMR — r6: the five r5-new families get driver rows)
    "model_invariants_combo",
    # dedup family (dedup_pairs_combo carries containment + fuzzy; r7
    # swap: dedup_clusters_combo = the CC row + semantic dedup on one
    # (k, v, keep) shape, replacing the standalone clusters row it
    # contains)
    "dedup_stats_combo", "dedup_pairs_combo", "dedup_lsh_recall",
    "dedup_clusters_combo", "dedup_cluster_blocked",
    "dedup_substring_spans",
    # text-analysis family (+ the unigram/bigram LM tier). r6 swap:
    # corpus_filter_combo (per-doc C4 + Gopher + quality gate) replaces
    # text_quality_filter — its per-lang aggregate is subsumed by the
    # combo's per-doc quality member and the funnel's quality stage.
    "text_token_stats", "corpus_filter_combo", "text_lang_id",
    "text_tfidf_terms", "text_bpe_pair_counts", "text_lm_combo",
    # pipeline family. r6 swap: pipeline_funnel_combo (curation funnel +
    # crawl ingest funnel on one shape) replaces the standalone
    # curation-funnel row it contains.
    "pipeline_funnel_combo", "pipeline_pack_sequences",
    "pipeline_decontamination", "pipeline_sample_stats",
    "pipeline_profile_table",
    # events / multimodal / embedding diagnostics. r7 swap:
    # metrics_report_combo (V7 percentile rollup + classification
    # report on one (metric, value) shape) replaces the standalone
    # events_percentiles row it contains.
    "metrics_report_combo", "events_user_combo",
    "multimodal_asset_stats", "embedding_label_separation",
]


def get(name: str) -> QuerySpec:
    return REGISTRY[name]


def all_specs() -> dict[str, QuerySpec]:
    """Registry in driver order: the pinned WINDOW first (the slice the
    external driver oracle-verifies), then everything else in registration
    order (bench granularity + verify_contract still run the lot)."""
    ordered = {n: REGISTRY[n] for n in WINDOW}
    for n, s in REGISTRY.items():
        if n not in ordered:
            ordered[n] = s
    return ordered
