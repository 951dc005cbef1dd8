"""IVF-Flat index build and search (T2/T3/T4 + B4, SURVEY.md §2.2-2.3).

The reference's hot path (engine/ivf_flat_index.cpp:205-256) per query:
probe the nprobe nearest centroids (select_nprobe_lists, :298-336), scan
each probed inverted list brute-force (:339-384), then merge+dedup+take-k
(:474-518). It loops over queries serially (:214); here the entire query
batch runs set-at-a-time in ONE Spark job:

1. **Probe (T2)** — centroids are O(nlist*d), held as driver numpy; a
   single float64 matrix op ranks lists per query (ties to smaller
   list_id). This IS the partition-pruning decision.
2. **Pruned scan (T3)** — ``filter(list_id ∈ probed)`` on the
   list_id-partitioned epoch parquet: Catalyst turns it into partition
   pruning, so only nprobe/nlist of the data is read — the same I/O-scaling
   argument as the reference, but executed by the parquet source. Inside
   the scan an Arrow ``mapInPandas`` computes a dense float64 distance
   block per (batch x probing-queries) and keeps a local top-k, the
   analog of the CUDA bruteforce kernel + per-list partial_sort.
3. **Merge (T4)** — global window: dedup by id, ascending (distance, id),
   take k. Only O(lists_scanned * nq * k) candidate rows shuffle.

k is clipped to list size naturally (fewer rows -> fewer candidates,
ivf_flat_index.cpp:232-233); nprobe defaults to 8
(server/query_service.cpp:97); nprobe >= nlist degenerates to exact search.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session
from ..functions import distance as D
from ..sources.epochs import EpochManager, Manifest, prune_lists
from . import kmeans as KM
from . import knn

DEFAULT_NPROBE = 8  # server/query_service.cpp:97

# bounded ground-truth sample for recall_target builds: enough queries to
# estimate mean recall, few enough that the exact pass stays one scan with
# a small broadcast side
RECALL_TUNE_QUERIES = 64
# self-tightening ceiling: when the 95% CI of the measured recall
# straddles the target on an auto-drawn sample AND the surface tunes via
# the cheap one-pass sweep, the tuner re-sweeps once at this sample size
# before warning (tune_recall_handle)
RECALL_TUNE_MAX_QUERIES = 256


def resolve_nprobe(manifest, nprobe: "int | None", surface: str = "flat") -> int:
    """An unspecified nprobe resolves to the epoch's manifest-stamped
    tuned operating point (``tune_recall`` / ``build(recall_target=)``)
    FOR THIS SURFACE, else the reference default of 8.

    Stamps are namespaced per search surface (``suggested_nprobe_flat``
    / ``_pq`` / ``_sq`` / ``_bq``, r12 ADVICE): recall is measured on
    exactly one scan surface, and a flat-tuned stamp honored by a BQ
    Hamming scan (or vice versa) would assert ``measured_recall`` on a
    surface where it was never measured. Each handle resolves only its
    own key. The un-suffixed ``suggested_nprobe`` is the pre-r13 shared
    stamp, honored as a FLAT-ONLY fallback (r13 verdict #3): every
    pre-namespacing tune measured through ``IVFIndex.tune_recall`` /
    ``build(recall_target=)``, whose serving surface was the flat scan —
    so a flat handle keeps its tuned point, while letting a quantized
    surface serve it would re-create exactly the cross-surface
    mis-assertion the namespacing fixed (a never-retuned pre-r13
    manifest would assert a flat-measured recall on a BQ Hamming scan
    forever). Quantized surfaces fall back to DEFAULT_NPROBE until
    tuned themselves."""
    if nprobe is not None:
        return nprobe
    extra = getattr(manifest, "extra", None) or {}
    v = extra.get(f"suggested_nprobe_{surface}")
    if v is None and surface == "flat":
        v = extra.get("suggested_nprobe")  # pre-r13 compat, flat-only
    if v is None:
        v = DEFAULT_NPROBE
    return int(v)


# Every manifest key family that constitutes the recall stamp — used by
# delta writes to fold the stamp down the chain (r12 ADVICE: add_vectors
# must not silently revert a recall_target index to DEFAULT_NPROBE) and
# by tests/catalog rows to unstamp shared fixtures. Prefix match covers
# both the per-surface keys (suggested_nprobe_flat, ...) and the pre-r13
# un-suffixed spellings.
RECALL_STAMP_PREFIXES = (
    "suggested_nprobe",
    "recall_target",      # also covers recall_target_met
    "measured_recall",
    "recall_k",
    "recall_n_queries",
    "recall_ci_",
    "recall_stamp_",      # stale/provenance markers added on inheritance
)

# Deployment-posture keys that ride delta chains verbatim (never stale:
# the regime is a property of the deployment, not of the data) — see
# ``IVFIndex.build(storage=)``.
STORAGE_STAMP_PREFIXES = ("storage_regime",)


def recall_stamp_keys(extra: "dict | None") -> "list[str]":
    """The recall-stamp keys present in a manifest ``extra`` block."""
    return [
        k
        for k in (extra or {})
        if any(k.startswith(p) for p in RECALL_STAMP_PREFIXES)
    ]


def inherited_manifest_extra(
    parent_extra: "dict | None",
    parent_epoch: int,
    mark_stale: bool = True,
) -> dict:
    """The manifest-extra block a DELTA epoch inherits from its parent:
    the recall stamp (every surface) plus the storage-regime stamp.

    A delta write changes the corpus, so an inherited recall stamp is no
    longer *measured* on the data it serves — each inherited surface is
    marked ``recall_stamp_stale_{surface}=True`` with the source epoch,
    keeping the operating-point CONTRACT (search(nprobe=None) still
    serves at the tuned nprobe — r12 ADVICE: reverting to
    DEFAULT_NPROBE=8 silently broke the documented promise) while making
    the staleness observable; re-tuning the surface clears the marker.
    ``mark_stale=False`` is for compaction, which rewrites layout but
    never semantics — the stamp stays as valid as it was (existing stale
    markers are inherited verbatim either way)."""
    parent_extra = parent_extra or {}
    out = {
        k: v
        for k, v in parent_extra.items()
        if any(
            k.startswith(p)
            for p in RECALL_STAMP_PREFIXES + STORAGE_STAMP_PREFIXES
        )
    }
    if mark_stale:
        for k in list(out):
            if k.startswith("suggested_nprobe"):
                suffix = k[len("suggested_nprobe"):]  # "" or "_flat"...
                out["recall_stamp_stale" + suffix] = True
                # point at the epoch that MEASURED the stamp: over a
                # multi-delta chain the parent may itself carry an
                # inherited marker (already copied into `out` above) —
                # only a parent with a FRESH measurement becomes the
                # source (r13 ADVICE: overwriting on every delta left
                # the marker naming an intermediate delta that never
                # measured anything)
                out.setdefault(
                    "recall_stamp_source_epoch" + suffix, int(parent_epoch)
                )
    return out


def tune_recall_handle(
    handle,
    corpus: "DataFrame",
    target_recall: float,
    queries: "DataFrame | None" = None,
    k: int = 10,
    nprobes: "tuple[int, ...] | None" = None,
) -> dict:
    """Generic recall-operating-point tuner over any index handle
    exposing ``search`` / ``manifest`` / ``manager`` / ``epoch`` — the
    flat ``IVFIndex`` and the quantized ``IVFPQIndex``/``IVFSQIndex``
    sidecars alike, so an index SERVED through a quantized surface is
    measured on that surface (a flat-surface recall stamp would assert
    a contract the ADC scan doesn't meet). Stamp keys are namespaced by
    ``handle.surface`` — see ``resolve_nprobe``.

    Sweep cost (r12 verdict #1): a surface whose scan ordering is exact
    (``handle.scan_is_exact`` — the flat IVF scan computes true
    distances) takes the ONE-PASS path: because the nprobe candidates
    are nested prefixes of a single probe ranking, recall@k for EVERY
    candidate derives from one exact ground-truth pass plus the probe
    rank of each true neighbor's list (``metrics.recall_sweep_onepass``)
    — no per-candidate searches at all, collapsing the tune from
    O(candidates) distributed searches (213s at 2M x 768-d, the cost of
    training itself) to ~the ground-truth pass it already paid.
    Quantized surfaces keep the per-candidate ascending early-stop
    sweep: their scan ordering (ADC / SQ / Hamming) differs from the
    exact ordering, so a neighbor outside the surface's top-k at deep
    probe can still enter it at shallow probe — prefix-rank counting
    would over-count there (a 2-D dominance problem, not a window).

    The stamp also records confidence (r12 verdict #3):
    ``recall_n_queries`` and a 95% normal-approximation CI of the mean
    recall over the query sample; when the CI straddles the target the
    stamp's met/unmet verdict is not resolved at this sample size.
    On the one-pass path with an auto-drawn sample, the tuner then
    TIGHTENS ITSELF: it re-sweeps once at 4x the sample
    (``RECALL_TUNE_MAX_QUERIES``) — cheap, because one-pass cost is
    ~one ground-truth pass — and stamps the larger measurement. A
    still-straddling CI (or a per-candidate surface, where re-sweeping
    multiplies real search cost, or a caller-pinned ``queries=``)
    warns instead."""
    from .. import metrics as M
    from ..util import sample_head

    def _pinned_sample(n_q: int):
        # materialize the sample ONCE: the exact ground-truth pass and
        # every per-candidate search re-execute the query plan, and an
        # unpinned sample_head may return a different row set on each
        # execution (its membership is order-dependent) — recall joined
        # across two different query sets reads as false misses and the
        # stamp would be garbage
        return (
            sample_head(corpus.select("id", "vector"), n_q)
            .select(
                F.col("id").alias("query_id"), F.col("vector").alias("qvec")
            )
            .localCheckpoint(eager=True)
        )

    auto_sample = queries is None
    if auto_sample:
        queries = _pinned_sample(RECALL_TUNE_QUERIES)
    nlist = handle.manifest.nlist
    if nprobes is None:
        cand, n = [], 1
        while n < nlist:
            cand.append(n)
            n *= 2
        cand.append(nlist)
        nprobes = tuple(cand)
    # one-pass only when the handle's DEFAULTED serving path is the
    # pure flat scan its prefix-rank argument models: a handle whose
    # auto-cascade could engage (cold regime + SQ sidecar) is tuned
    # per-candidate through handle.search, which routes each candidate
    # exactly as serving will (cascade below the cold fraction ceiling,
    # flat above) — the stamp then records the recall the index
    # actually serves
    onepass = bool(
        getattr(handle, "scan_is_exact", False)
        and not (
            hasattr(handle, "_serving_may_cascade")
            and handle._serving_may_cascade()
        )
    )

    def _sweep(qdf):
        chosen, rows = M.suggest_nprobe(
            handle, corpus, qdf,
            target_recall=target_recall, k=k, nprobes=nprobes,
            # ascending early stop (per-candidate path only): same
            # smallest-meeting choice, but the series' top candidate
            # (nprobe=nlist, a full scan) is only paid when nothing
            # smaller reaches the target
            early_stop=True,
            onepass=onepass,
        )
        return chosen, next(r for r in rows if int(r["nprobe"]) == chosen)

    def _ci(row):
        n_q = int(row["n_queries"]) if "n_queries" in row else None
        std = row["std_recall"] if "std_recall" in row else None
        if not n_q or std is None or n_q <= 1:
            return n_q, None, None
        half = 1.96 * float(std) / float(n_q) ** 0.5
        m = float(row["mean_recall"])
        return n_q, max(0.0, m - half), min(1.0, m + half)

    chosen, row = _sweep(queries)
    n_q, lo, hi = _ci(row)
    straddles = lo is not None and lo < target_recall <= hi
    if straddles and auto_sample and onepass and n_q >= RECALL_TUNE_QUERIES:
        # self-tightening retune: one more ground-truth pass at 4x the
        # sample. Skipped when the first sample came up strictly short
        # (n_q < requested: the corpus is exhausted, more rows don't
        # exist) and on per-candidate surfaces (cost scales with real
        # searches there, so the decision stays with the caller). A
        # corpus of EXACTLY the base sample size slips this guard and
        # re-derives the same result once — acceptable, since a
        # base-sample-sized corpus makes the extra ground-truth pass
        # trivially cheap. The superseded checkpoint's blocks are
        # reclaimed by GC + ContextCleaner when the old frame drops out
        # of scope (localCheckpoint exposes no public unpersist).
        queries = _pinned_sample(RECALL_TUNE_MAX_QUERIES)
        chosen, row = _sweep(queries)
        n_q, lo, hi = _ci(row)
        straddles = lo is not None and lo < target_recall <= hi
    measured = float(row["mean_recall"])
    s = getattr(handle, "surface", "flat")
    stamp = {
        f"suggested_nprobe_{s}": int(chosen),
        f"recall_target_{s}": float(target_recall),
        f"measured_recall_{s}": measured,
        f"recall_k_{s}": int(k),
        f"recall_target_met_{s}": bool(measured >= target_recall),
    }
    if n_q:
        stamp[f"recall_n_queries_{s}"] = n_q
        if lo is not None:
            stamp[f"recall_ci_low_{s}"] = lo
            stamp[f"recall_ci_high_{s}"] = hi
    if straddles:
        import warnings

        verdict = (
            "met on the sample mean but not at 95% confidence"
            if measured >= target_recall
            else "unmet on the sample mean but within 95% CI"
        )
        warnings.warn(
            f"tune_recall[{s}]: measured recall "
            f"{measured:.4f} has 95% CI [{lo:.4f}, {hi:.4f}] "
            f"straddling target {target_recall} over {n_q} "
            f"queries — {verdict}; pass a larger queries= "
            f"sample to resolve the stamp's verdict.",
            stacklevel=3,
        )
    # r13 ADVICE: removing the legacy un-suffixed stamp is invisible at
    # runtime, yet it can demote a surface's operating point — the legacy
    # stamp serves as the FLAT fallback (resolve_nprobe), so a tune on a
    # non-flat surface that clears it silently reverts an untuned flat
    # surface from its legacy tuned nprobe to DEFAULT_NPROBE. Say so.
    cur_extra = getattr(handle.manifest, "extra", None) or {}
    if (
        "suggested_nprobe" in cur_extra
        and s != "flat"
        and "suggested_nprobe_flat" not in cur_extra
    ):
        import warnings

        warnings.warn(
            f"tune_recall[{s}]: removing the pre-r13 shared stamp "
            f"(suggested_nprobe={cur_extra['suggested_nprobe']}) that "
            f"was serving the UNTUNED flat surface — flat now falls "
            f"back to nprobe={DEFAULT_NPROBE}; run tune_recall on the "
            f"flat handle to restore a measured operating point.",
            stacklevel=3,
        )
    handle.manifest = handle.manager.update_manifest_extra(
        handle.epoch,
        stamp,
        # a fresh measurement supersedes (a) any inherited-stale marker
        # for THIS surface (delta epochs fold the parent's stamp down
        # the chain with recall_stamp_stale_{surface}=True), and (b) the
        # whole un-suffixed pre-namespacing stamp family: the legacy
        # stamp was measured on an UNKNOWN surface — since r13 it only
        # ever SERVES the flat surface (resolve_nprobe), and once any
        # surface carries a real measurement, keeping the ambiguous one
        # around re-creates exactly the cross-surface mis-assertion the
        # namespacing exists to prevent (and its stale marker could
        # otherwise never be cleared). An untuned flat surface then
        # falls back to DEFAULT_NPROBE — warned above.
        remove=(
            f"recall_stamp_stale_{s}",
            f"recall_stamp_source_epoch_{s}",
            "suggested_nprobe",
            "recall_target",
            "measured_recall",
            "recall_k",
            "recall_target_met",
            "recall_stamp_stale",
            "recall_stamp_source_epoch",
        ),
    )
    return stamp


@dataclass
class SearchRequest:
    """One entry of a heterogeneous search batch (ivf_flat_index.h:34-42
    SearchParams + the query payload, proto/vdb.proto:16-23)."""

    query_id: int
    qvec: list
    k: int = 10
    # None = the handle resolves it (manifest-stamped operating point
    # when the epoch carries one, else DEFAULT_NPROBE) — so search_batch
    # honors a recall_target build exactly like single-query search
    nprobe: "int | None" = None
    metric: str | None = None
    rerank_exact: bool = False
    rerank_k: int | None = None
    # filtered search (no reference analog — proto/vdb.proto:16-23 has no
    # filter field): a SQL predicate over the index columns (id, list_id)
    # applied INSIDE the pruned scan, e.g. "id % 3 = 0" or "id IN (...)"
    where: str | None = None
    # V6 priority (server/load_balancer.cpp:275-280): 0=LOW..3=URGENT;
    # higher-priority groups are searched first, FIFO within a group.
    priority: int = 1

    def params_key(self) -> tuple:
        return (
            self.k,
            self.nprobe,
            self.metric or "",
            self.rerank_exact,
            self.rerank_k or 0,
            self.where or "",
        )


def select_nprobe_lists(C: np.ndarray, Q: np.ndarray, nprobe: int, metric: str) -> np.ndarray:
    """T2 coarse probe: per query, the nprobe nearest list ids, ties to the
    smaller list_id (ivf_flat_index.cpp:298-336). Returns (nq, nprobe)."""
    nlist = C.shape[0]
    nprobe = min(nprobe, nlist)
    dmat = D.pairwise(metric, C, Q)  # (nlist, nq)
    # stable argsort along the list axis == lexsort((arange, d)) per
    # query (equal distances keep index order -> smaller list_id first),
    # vectorized across the whole query batch in one call
    return np.argsort(dmat, axis=0, kind="stable")[:nprobe].T.copy()


# Fused-scan inflation cap: fuse a batch's probed lists into ONE GEMM
# only while the fused FLOPs (relevant_rows x |union of their queries|)
# stay within this factor of the exact per-(list, query) work.
#
# Default 1.0 = fuse only when fusion strictly deduplicates or matches
# the exact work — single-list batches, and multi-list batches whose
# lists share one query set (the full-probe shape, where one fat GEMM
# replaces a per-list loop at identical FLOPs). MEASURED decision, not a
# guess: the interleaved A/B (scripts/ab_fused_scan.py, 4.8M x 64-d,
# 1000 diverse queries, min of 3 alternating samples) read fused/per-list
# = 0.51x at nlist=1024 (2.5x FLOP inflation) and 0.67x at nlist=4096
# (7.9x inflation) — the pruned scan is NOT sliver-GEMM-bound at these
# list sizes (>=1K rows/list), so trading FLOPs for fewer BLAS calls
# loses; the r6-VERDICT hypothesis that a bucket-local fused schedule
# would fix high-nlist batch throughput is REFUTED on this hardware
# (PERF.md r7). A tiny-list follow-up (600K corpus, ~146 rows/list)
# measured fusion at 0.94x — neutral-at-best even there, so fuse_cap=
# is exposed but has no measured win at any realistic shape.
FUSE_INFLATION_CAP = 1.0

# Quantized-first-pass cascade (r8): SQ8-shortlist scan + pruned exact
# rerank — only ``rerank_k`` candidate rows per query re-enter Python
# with raw floats (JVM-side broadcast semi-join, knn.exact_rescore), so
# results are exact re-scored distances, and the scanned SIDE CAR bytes
# are 4x smaller than the float vectors. The r7 verdict hypothesized
# this as the default scale path (the scan floor is Arrow-IPC
# byte-bound); the r8 interleaved A/B REFUTED the default on this box:
# scripts/ab_cascade_sweep.py, 4.8M x 64-d, nlist=1024, 1000 queries,
# min of 3 alternating reps —
#     nprobe=16 (1.6% probed)  cascade/flat 0.90x
#     nprobe=64 (6.2%)         0.83x
#     nprobe=256 (25%)         0.55x
#     nprobe=1024 (full)       0.95x
# (and 0.66x/0.56x at nlist=1024/4096 nprobe=16 in ab_cascade.py).
# Local shared-memory Arrow IPC over page-cached parquet is too cheap
# for the 4x byte cut to beat the cascade's structural overhead (wider
# fetch_k through merge, the rerank join, one extra Python stage).
# Fidelity is NOT the issue: every observed arm difference was a
# duplicate-vector tie (0/10000 rows with a distance diff at every
# shape). So the cascade ships OPT-IN: ``cascade="sq"`` (or flipping
# CASCADE_AUTO_DEFAULT) for deployments where vector bytes are genuinely
# expensive to move — remote object-store scans reading the 4x-smaller
# codes parquet, network-shuffle-bound clusters — which a 1000-executor
# 100 TB deployment should A/B with the same script before enabling.
CASCADE_AUTO_DEFAULT = False
CASCADE_RERANK_MULT = 4
CASCADE_RERANK_MIN = 64

# Cold-storage probed-fraction ceiling for the auto cascade (r12 measured
# both regimes; r13 makes the rule self-acting via the manifest's
# storage_regime stamp — see IVFIndex.build(storage=)). With the page
# cache actually dropped (fadvise verified per rep,
# scripts/artifacts_cascade_cold_768d.json, 2M x 768-d): the SQ8 cascade
# wins 1.39x and PQ-ADC 1.62x at nprobe=32 = 0.78% probed — the scan is
# IO-bound and the 4x byte cut pays — but past ~3% probed it converges
# to flat-or-worse even cold (3.1%: cascade 1.04x/pq 0.96x; 12.5%:
# 0.77x/0.58x), because the rerank's fixed cost stops amortizing and
# the byte advantage drowns in re-read working set. Warm/CPU-bound
# (r8/r10/r11 interleaved A/Bs) refutes the cascade at EVERY fraction,
# which is why CASCADE_AUTO_DEFAULT stays False and the regime must be
# declared: cascade only when the manifest says storage_regime == "cold"
# AND the query's probed fraction sits below this ceiling.
COLD_CASCADE_MAX_FRACTION = 0.03


def _score_units(lids: np.ndarray, by_list: "dict[int, np.ndarray]", fuse_cap: float):
    """The score units of one batch of a pruned scan: ``(rows, qset,
    pairs, list_id)``, where ``rows`` masks the batch rows scored against
    the queries ``Q[qset]`` and ``pairs`` is None or masks, over that
    block, the (row, query) pairs whose list the query probed. ``list_id``
    is the unit's list, or None for a unit that fuses several.

    Query-locality fusion (cost-gated, default effectively work-neutral
    — see ``FUSE_INFLATION_CAP`` for the measured rationale): when a
    batch's probed lists share one query set (single-list batches; the
    full-probe shape), they form ONE unit against the query union, and
    the scan masks non-probed (list, query) pairs to +inf — identical
    candidates, fewer BLAS calls. With disjoint per-list query sets the
    union would inflate FLOPs, which the interleaved A/B showed is a net
    loss on >=1K-row lists, so the gate keeps one unit per list there."""
    ul, inv = np.unique(lids, return_inverse=True)
    qsets = [by_list.get(int(lid)) for lid in ul]
    pidx = [i for i, qs in enumerate(qsets) if qs is not None]
    if not pidx:
        return
    rows_per = np.bincount(inv, minlength=len(ul))
    flops_exact = float(sum(int(rows_per[i]) * len(qsets[i]) for i in pidx))
    q_union = (
        qsets[pidx[0]]
        if len(pidx) == 1
        else np.unique(np.concatenate([qsets[i] for i in pidx]))
    )
    probed_ul = np.zeros(len(ul), dtype=bool)
    probed_ul[pidx] = True
    rmask = probed_ul[inv]
    if float(int(rmask.sum())) * len(q_union) <= fuse_cap * flops_exact:
        if len(pidx) == 1:
            yield rmask, q_union, None, int(ul[pidx[0]])
            return
        pos = {int(q): j for j, q in enumerate(q_union)}
        P = np.zeros((len(ul), len(q_union)), dtype=bool)
        for i in pidx:
            P[i, [pos[int(q)] for q in qsets[i]]] = True
        yield rmask, q_union, P[inv[rmask]], None
        return
    for i in pidx:
        yield inv == i, qsets[i], None, int(ul[i])


def _list_scanner(
    qids: np.ndarray,
    Q: np.ndarray,
    probe_lists: np.ndarray,
    k: int,
    metric: str,
    fuse_cap: "float | None" = None,
    scorer=None,
):
    """mapInArrow over the pruned {id, list_id, vector | codes} scan: score
    each inverted list in the batch against exactly the queries that
    probed it — zero-copy matrix views, batched per-query top-k (no
    Python loops over rows or queries) — and emit ONE top-k per query per
    task, deduplicated by id (minimum distance) with ties broken by id
    (``knn.merge_topk_arrays``). The merge downstream then reads at most
    tasks x nq x k candidate rows, however many batches and lists a task
    scanned. The driver-resident list tier runs this same closure over
    its blocks (``ProbedScan.merge_resident``).

    ``scorer`` is a code handle's list score (``CodeIndex.list_scorer``):
    a pair ``(rows, score)``, where ``rows(rb)`` is a batch's row matrix
    and ``score(block, list_id, qidx, ws)`` the (n, len(qidx)) scores of
    one list's rows against ``Q[qidx]``, reported as they are (PQ's LUT
    sums, BQ's Hamming distances). A score runs list by list. Without a
    score the rows are float vectors — the flat ``vector`` column when
    ``scorer`` is None, or SQ's decoded codes — and a GEMM only ranks
    them: each kept candidate is reported with its direct-form distance
    (``D.rowwise``). A GEMM's rounding depends on the block's shape, so
    rows then do not depend on how the lists were cut into batches and
    tasks. The batch plan (``_score_units``) fuses float blocks up to
    ``fuse_cap``."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    # None -> the module cap, resolved at CALL time (driver side) so the
    # pickled closure carries the value and probes/tests can patch it
    if fuse_cap is None:
        fuse_cap = FUSE_INFLATION_CAP
    rows, score = scorer or ((lambda rb: AK.list_matrix(rb, "vector")), None)
    if score is not None:
        fuse_cap = 0.0  # PQ's residual tables are per list
    # invert: list_id -> query row indices
    by_list: dict[int, list[int]] = {}
    for qi, lists in enumerate(probe_lists):
        for lid in lists:
            by_list.setdefault(int(lid), []).append(qi)
    by_list = {lid: np.asarray(qs, dtype=np.int64) for lid, qs in by_list.items()}
    # held candidate rows are merged down to <= nq*k once they pass this
    compact_at = max(2 * len(qids) * k, 1 << 16)

    def batch_candidates(rb, ws):
        """(query_id, id, distance) arrays of one batch's per-unit top-k;
        k is clipped to the candidate count (ivf_flat_index.cpp:232-233),
        and +inf masked pairs drop out."""
        ids = AK.column(rb, "id", np.int64)
        B = rows(rb)
        lids = AK.column(rb, "list_id", np.int64)
        for sel, qset, pairs, lid in _score_units(lids, by_list, fuse_cap):
            Bs = B[sel]
            if score is None:
                dmat = D.pairwise(metric, Bs, Q[qset], ws=ws)
            else:
                dmat = score(Bs, lid, qset, ws)
            if pairs is not None:
                dmat[~pairs] = np.inf
            qcol, row = AK.topk_rows(dmat, k)
            keep = np.isfinite(dmat[row, qcol])
            qcol, row = qcol[keep], row[keep]
            qi = qset[qcol]
            yield qids[qi], ids[sel][row], (
                D.rowwise(metric, Bs[row], Q[qi])
                if score is None
                else dmat[row, qcol]
            )

    def merged(parts):
        q, _rank, i, d = knn.merge_topk_arrays(
            *(np.concatenate(col) for col in zip(*parts)), k
        )
        return q, i, d

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ws = D.task_workspace()  # process-pooled score blocks (PERF.md r9)
        parts: list = []
        held = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            for part in batch_candidates(rb, ws):
                parts.append(part)
                held += len(part[0])
            if held > compact_at:
                parts = [merged(parts)]
                held = len(parts[0][0])
        if parts:
            q, i, d = merged(parts)
            yield AK.batch(query_id=q, id=i, distance=d)

    return scan


def select_range_lists(
    C: np.ndarray, Q: np.ndarray, radius: float, list_radii: np.ndarray, metric: str
) -> np.ndarray:
    """Range-query list pruning: (nlist, nq) bool mask of lists that can
    contain a hit within ``radius`` of each query.

    For (squared-)L2 the bound is the triangle inequality with the per-list
    covering radius r_L = max over members of d(v, c_L): a member v of list
    L satisfies d(q, v) >= d(q, c_L) - r_L, so any list with
    sqrt(d2(q, c_L)) - r_L > sqrt(radius) provably holds no hit — pruning
    is EXACT, not approximate. A small additive slack absorbs float64
    rounding at the boundary (the safe direction: probe one list too many,
    never one too few). IP has no such bound (unbounded scores) and cosine's
    1-cos form doesn't satisfy the triangle inequality directly — both scan
    every list (still exact, no pruning)."""
    nlist, nq = C.shape[0], Q.shape[0]
    if metric != D.L2:
        return np.ones((nlist, nq), dtype=bool)
    dc = np.sqrt(D.pairwise(D.L2, C, Q))  # (nlist, nq) Euclidean
    slack = 1e-6 * (np.sqrt(radius) + float(list_radii.max(initial=0.0)) + 1.0)
    return dc - list_radii[:, None] <= np.sqrt(radius) + slack


def _range_list_scanner(
    qids: np.ndarray,
    Q: np.ndarray,
    by_list: "dict[int, np.ndarray]",
    radius: float,
    metric: str,
    fuse_cap: "float | None" = None,
):
    """mapInArrow over the pruned scan: per inverted list, emit every
    (query, id, distance) pair within radius, scoring only the queries whose
    pruning mask admitted the list. The batch plan is ``_list_scanner``'s
    (``_score_units``): non-admitted (list, query) pairs of a fused block
    are masked to +inf, so the radius filter drops them."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    if fuse_cap is None:
        fuse_cap = FUSE_INFLATION_CAP

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ws = D.task_workspace()  # process-pooled score blocks (PERF.md r9)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = AK.column(rb, "id", np.int64)
            V = AK.list_matrix(rb, "vector")
            lids = AK.column(rb, "list_id", np.int64)
            for sel, qset, pairs, _lid in _score_units(lids, by_list, fuse_cap):
                dmat = D.pairwise(metric, V[sel], Q[qset], ws=ws)
                if pairs is not None:
                    dmat[~pairs] = np.inf
                rows, cols = np.nonzero(dmat <= radius)
                if rows.size:
                    yield AK.batch(
                        query_id=qids[qset[cols]],
                        id=ids[sel][rows],
                        distance=dmat[rows, cols],
                    )

    return scan


@dataclass
class ProbedScan:
    """A search up to its T4 merge, on a flat or a quantized handle: the
    query batch, its probe and the scan's parameters. Either the pruned
    Spark scan finishes it (``merge``), or driver-resident list blocks do
    (``merge_resident``); both run the one ``_list_scanner`` kernel, with
    the handle's ``scorer``.

    The scan keeps a top-``fetch_k`` (``rerank_k`` on a rerank). Where its
    distances are the result (``rerank_source`` None), the merge takes k
    of them; a rerank on an exact scan needs nothing more. A code scan's
    rerank joins its shortlist back to the raw vectors of the same probed
    lists, under the same ``where``, and re-ranks their exact distances.

    On Spark, the scan emits one top-``fetch_k`` per query per scan task,
    so at most ``max_candidates`` rows — a list's rows can sit in several
    tasks (a delta chain's legs, split files), so the bound counts tasks,
    not probed lists. The Spark plan is built on first use only."""

    source: DataFrame  # the chain's live {id, list_id, vector | codes}
    scorer: "tuple | None"  # a code handle's list score (_list_scanner)
    rerank_source: "DataFrame | None"  # raw vectors a shortlist re-scores against
    lpb: "int | None"
    where: "str | Column | None"
    qids: np.ndarray
    Q: np.ndarray
    probe: np.ndarray  # (nq, nprobe) list ids
    k: int
    fetch_k: int
    metric: str
    scan_tasks: int

    @property
    def lists(self) -> "list[int]":
        return sorted({int(x) for x in self.probe.ravel()})

    @property
    def max_candidates(self) -> int:
        return len(self.qids) * self.scan_tasks * self.fetch_k

    def pruned(self, df: DataFrame) -> DataFrame:
        """``df`` read at the probed lists only, under ``where``, in one
        wave of Python tasks: a delta chain's base and delta legs (and a
        list's split files) share tasks instead of queueing a second wave
        behind the first."""
        pruned = prune_lists(df, self.lists, self.lpb)
        if self.where is not None:
            pruned = pruned.filter(self.where)
        return pruned.coalesce(self.scan_tasks)

    def scanner(self):
        return _list_scanner(
            self.qids, self.Q, self.probe, self.fetch_k, self.metric,
            scorer=self.scorer,
        )

    def merge(self, topk) -> DataFrame:
        # dedup-by-id merge (T4): ids are unique per list, but the reference
        # dedups on merge regardless (ivf_flat_index.cpp:493-504)
        cand = (
            self.pruned(self.source)
            .drop("list_bucket")
            .mapInArrow(self.scanner(), schema=knn.CANDIDATE_SCHEMA)
        )
        if self.rerank_source is None:
            return topk(cand, self.k)
        shortlist = topk(cand, self.fetch_k).select("query_id", "id")
        # every shortlisted candidate lives in a probed list, so joining
        # back against the full chain would read nlist/nprobe x more
        # partitions for exactly zero extra matches
        rescored = knn.exact_rescore(
            self.pruned(self.rerank_source), shortlist, self.qids, self.Q,
            self.metric,
        )
        return topk(rescored, self.k)

    def merge_local(self) -> DataFrame:
        """``merge`` with the T4 merge on the driver (``knn.local_topk``)
        while the candidates fit ``knn.LOCAL_MERGE_MAX_ROWS``, distributed
        (``knn.topk_per_query``) above it."""
        if self.max_candidates > knn.LOCAL_MERGE_MAX_ROWS:
            return self.merge(knn.topk_per_query)
        return self.merge(knn.local_topk)

    def merge_resident(self, spark: SparkSession, blocks: list) -> DataFrame:
        """``merge(knn.local_topk)`` over the probed lists' driver-resident
        ``{id, vector, list_id}`` blocks of an exact scan, with no Spark
        job: the blocks run through the scan kernel as one task's
        batches."""
        from ..functions import arrowkit as AK

        out = next(self.scanner()(iter(blocks)), None)
        cols = [("query_id", np.int64), ("id", np.int64), ("distance", np.float64)]
        q, i, d = (
            [np.empty(0, t) for _, t in cols]
            if out is None
            else [AK.column(out, c, t) for c, t in cols]
        )
        return knn.result_frame(spark, *knn.merge_topk_arrays(q, i, d, self.k))


class ProbedSearch:
    """The search frame of every IVF handle, flat (``IVFIndex``) or
    quantized (``codes.CodeIndex``): ``_probed_scan`` checks a request,
    collects its query batch and probes it; ``search`` and
    ``search_local`` finish the ``ProbedScan``, the latter over the
    driver-resident blocks ``_resident_blocks`` gives, if any (only the
    flat handle keeps a list tier). A handle provides
    ``spark``, ``manifest``, ``centroids``, ``surface``,
    ``scan_is_exact``, ``lists_per_bucket``, ``vectors`` and
    ``_scan_source(Q, metric)`` -> (the live scan relation, its scorer)."""

    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: "int | None" = None,
        metric: str | None = None,
        rerank_exact: bool = False,
        rerank_k: int | None = None,
        query_id_col: str = "query_id",
        qvec_col: str = "qvec",
        where: "str | Column | None" = None,
        cascade: str = "auto",
    ) -> DataFrame:
        """Batched IVF search -> {query_id, rank, id, distance}, as a lazy
        plan: the query batch and the probe run now, the pruned scan and
        the distributed T4 merge (``knn.topk_per_query``) run at the
        caller's action. ``search_local`` runs the same search at once,
        merging on the driver. ``metric`` applies to the probe and to
        exact distances (default: the index metric).

        ``rerank_exact``/``rerank_k`` (proto/vdb.proto:22 — declared for any
        index type): keep the top ``rerank_k`` candidates of the probed
        scan, re-score them exactly, re-rank to k. A flat scan already
        reports exact distances, so there it only widens the scan's
        per-task top-k; a code scan's shortlist joins back to the raw
        vectors of the probed lists (``ProbedScan.merge``).

        ``where`` — filtered search (beyond the reference, which has no
        filter field in its proto): a predicate over the index columns
        (``id``, ``list_id``), as a SQL string or Column, applied INSIDE
        the pruned scan (and a rerank's join-back) so Catalyst pushes it
        to the parquet reader. Top-k then ranks only qualifying vectors —
        the standard "ANN within a subset" shape (per-language corpora,
        allowlists, tenant slices). For metadata richer than the id, join
        the allowlist to ids first and pass ``id IN`` / a membership
        predicate.

        ``cascade`` — flat handles only (``IVFIndex._probed_scan``): the
        SQ8-shortlist + pruned exact rerank path (results are exact
        re-scored distances). ``"sq"`` forces it (raises without the
        sidecar); ``"off"`` always scans flat floats; ``"auto"`` (the
        only value a code handle takes) self-selects from the manifest's
        declared I/O regime (``build(storage="cold")``): cascade when the
        epoch is stamped cold AND this query's probed fraction is below
        ``COLD_CASCADE_MAX_FRACTION`` — the regime where the 4x byte cut
        measurably wins (1.39x cold at 0.78% probed,
        scripts/artifacts_cascade_cold_768d.json) — flat otherwise (warm
        page-cached storage refutes the cascade at every probe shape;
        r8/r10/r11 interleaved A/Bs). ``CASCADE_AUTO_DEFAULT`` remains
        the regime-less global override."""
        scan = self._probed_scan(
            queries, k, nprobe, metric, rerank_exact, rerank_k,
            query_id_col, qvec_col, where, cascade,
        )
        if isinstance(scan, DataFrame):
            return scan  # the SQ cascade answered
        return scan.merge(knn.topk_per_query)

    def search_local(self, queries: DataFrame, k: int, **kw) -> DataFrame:
        """``search`` (same arguments), executed now, with the T4 merge on
        the driver whenever the candidate relation is bounded by
        ``knn.LOCAL_MERGE_MAX_ROWS`` (``ProbedScan.merge_local``). The
        result is then a local DataFrame (``isLocal()``) whose ``collect``
        runs no job; above the bound the lazy ``search`` plan is
        returned, as it is for the SQ cascade. Where the handle holds the
        probed lists on the driver (``_resident_blocks``), the scan runs
        over them there (``ProbedScan.merge_resident``)."""
        scan = self._probed_scan(queries, k, **kw)
        if isinstance(scan, DataFrame):
            return scan
        blocks = self._resident_blocks(scan)
        if blocks is not None:
            return scan.merge_resident(self.spark, blocks)
        return scan.merge_local()

    def _resident_blocks(self, scan: ProbedScan) -> "list | None":
        """The probed lists' driver-resident blocks, or None to scan on
        Spark."""
        return None

    def _probed_scan(
        self,
        queries: DataFrame,
        k: int,
        nprobe: "int | None" = None,
        metric: str | None = None,
        rerank_exact: bool = False,
        rerank_k: int | None = None,
        query_id_col: str = "query_id",
        qvec_col: str = "qvec",
        where: "str | Column | None" = None,
        cascade: str = "auto",
    ) -> "ProbedScan | DataFrame":
        """Everything of a search up to its T4 merge: validation, the
        query batch and the probe — or, on a flat handle, the finished
        result when the SQ cascade takes the request."""
        if cascade != "auto":
            raise ValueError(
                f"cascade={cascade!r}: the SQ cascade applies to flat IVF "
                "handles only"
            )
        knn.validate_topk(k)
        nprobe = resolve_nprobe(self.manifest, nprobe, self.surface)
        metric = D.parse_metric(metric or self.manifest.metric)
        qids, Q = knn.collect_query_matrix(queries, query_id_col, qvec_col)
        if len(qids) == 0:
            raise ValueError("empty query batch")  # server/query_service.cpp:71-75
        if Q.shape[1] != self.manifest.dimension:
            raise ValueError(
                f"query dimension {Q.shape[1]} != index dimension "
                f"{self.manifest.dimension}"
            )  # server/query_service.cpp:115-119
        source, scorer = self._scan_source(Q, metric)
        return ProbedScan(
            source=source,
            scorer=scorer,
            rerank_source=(
                self.vectors if rerank_exact and not self.scan_is_exact else None
            ),
            lpb=self.lists_per_bucket,
            where=where,
            qids=qids,
            Q=Q,
            probe=select_nprobe_lists(self.centroids, Q, nprobe, metric),
            k=k,
            fetch_k=max(k, rerank_k or 0) if rerank_exact else k,
            metric=metric,
            scan_tasks=self.spark.sparkContext.defaultParallelism,
        )


@dataclass
class IVFIndex(ProbedSearch):
    """A loaded epoch: driver-side centroids + the partitioned corpus."""

    # recall-stamp namespace (resolve_nprobe) — the flat float scan
    surface = "flat"
    # the flat scan's candidate ordering IS the exact distance ordering,
    # which licenses the one-pass recall sweep (tune_recall_handle);
    # quantized sidecar handles override this to False
    scan_is_exact = True

    spark: SparkSession
    manager: EpochManager
    epoch: int
    manifest: Manifest
    centroids: np.ndarray  # (nlist, d) float64
    # {id, vector, list_id} parquet partitioned by list_id — resolved
    # lazily: the file listing + schema inference is deferred to first
    # access so index construction (the add/build critical path) never pays
    # an object-store listing it may not need yet
    _vectors: DataFrame | None = None
    # V9 access statistics (engine/ivf_flat_index.cpp:227-229): per probed
    # list, how many (query, probe) hits and the last search sequence that
    # touched it. The probe matrix is already driver-side numpy, so updating
    # these is a bincount — zero extra Spark jobs on the hot path. We count
    # probe INTENT per (query, list); the reference additionally skips
    # empty lists, which in our epoch layout are scan no-ops anyway (no
    # parquet partition exists for them).
    access_count: dict[int, int] = field(default_factory=dict)
    last_access_seq: dict[int, int] = field(default_factory=dict)
    search_seq: int = 0
    # warm cache registry: frozenset(list_ids) -> cached DataFrame, so
    # evict() can unpersist what warmup() pinned (ivf_flat_index.h:60-61)
    _warm: dict = field(default_factory=dict)
    # V9 capacity policy (the GpuCache the reference declares with LFU
    # eviction, engine/ivf_flat_index.h:191-222 — its own eviction body is
    # a TODO at ivf_flat_index.cpp:398-401): estimated bytes per warm set,
    # and an optional budget above which the COLDEST sets (lowest summed
    # access_count over their lists) are evicted automatically.
    _warm_bytes: dict = field(default_factory=dict)
    warm_budget_bytes: int | None = None
    # True when the LAST warmup() call's set was itself evicted by the
    # budget it triggered (LFU: a cold warm into a full cache) — the
    # caller-visible signal that the returned frame is NOT pinned
    last_warmup_evicted: bool = False
    # per-list covering radii (Euclidean max member<->centroid distance),
    # computed lazily by list_radii() for range-query pruning
    _list_radii: np.ndarray | None = None
    # lazily-resolved SQ8 sidecar handle for the default cascade (None =
    # checked, absent); the HANDLE's manifest is the source of truth, so a
    # sidecar encoded after this handle was created is picked up via
    # refresh_sidecars() / reload, never by a surprise mid-process flip
    _sq_cascade: "object" = None
    _sq_cascade_checked: bool = False
    # driver-resident list tier (the reference answers a probed search from
    # lists held in memory, engine/ivf_flat_index.cpp:205-256, behind an
    # LFU list cache, ivf_flat_index.h:55-67,191-222): list_id -> the
    # list's LIVE {id, vector, list_id} rows as one Arrow batch, read from
    # the folded chain, so tombstones are already applied. Epochs are
    # immutable and every activation loads a new handle, so a block never
    # goes stale. Bounded by ``tier_budget_bytes``; LFU eviction by
    # access_count; fills serialize on the lock (run_search_batch submits
    # from threads).
    _tier: dict = field(default_factory=dict, repr=False)
    _tier_bytes: int = 0
    _tier_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )

    @property
    def vectors(self) -> DataFrame:
        if self._vectors is None:
            self._vectors = self.manager.read_vectors(self.spark, self.epoch)
        return self._vectors

    @property
    def lists_per_bucket(self) -> "int | None":
        """Two-level-layout bucket width for this chain (None = flat) —
        every pruned scan must pass this to ``epochs.prune_lists`` so the
        bucket dirs partition-prune too."""
        if not hasattr(self, "_lpb_cache"):
            self._lpb_cache = self.manager.chain_lists_per_bucket(self.epoch)
        return self._lpb_cache

    # -- construction ------------------------------------------------------
    @classmethod
    def build(
        cls,
        df: DataFrame,
        base_dir: str,
        index_name: str,
        nlist: int,
        metric: str = D.L2,
        seed: int = KM.DEFAULT_SEED,
        max_iter: int = KM.DEFAULT_MAX_ITER,
        init: np.ndarray | None = None,
        train: bool = True,
        id_col: str = "id",
        vec_col: str = "vector",
        activate: bool = True,
        vector_layout: str | None = None,
        recall_target: float | None = None,
        recall_queries: DataFrame | None = None,
        recall_k: int = 10,
        recall_nprobes: "tuple[int, ...] | None" = None,
        storage: str | None = None,
    ) -> "IVFIndex":
        """BuildEpoch (proto/vdb.proto:63-67): train -> assign (B4) ->
        partitioned epoch write -> manifest -> activate.

        ``vector_layout="packed_f32"`` stores vectors as packed float32
        binary — the faster Arrow-transfer layout for the scan KERNEL
        (~1.9x, scripts/ab_binary_layout.py, PERF.md r9). It stays
        OPT-IN at every dimension: end-to-end search is neutral within
        box drift at 64-d (r9: 0.48-1.22x) AND at 768-d where the decode
        term is 12x larger (r10: 0.58-2.1x across runs, ~1.0x once
        drift-controlled — scripts/ab_packed_768d.py, PERF.md r10), so
        there is no measured regime where defaulting it on is justified.
        Search results are identical for float32 sources (scanners are
        layout-polymorphic; an array<double> source is downcast by the
        pack — see ``epochs.pack_vectors``); deltas, compaction, and
        sidecar encodes inherit the chain's layout.

        ``recall_target`` (r11 verdict #2 — the recall evaluator the
        reference declares but never fills, bench/CMakeLists.txt:29-44,
        server/query_service.h:201-202, made POLICY rather than advice):
        after the epoch is written, sweep nprobe candidates against exact
        ground truth on a bounded query sample (``recall_queries``, or
        ``sample_head`` of the corpus), pick the smallest candidate whose
        mean recall@``recall_k`` meets the target, and stamp
        ``suggested_nprobe`` + ``measured_recall`` into the epoch
        manifest. ``search(nprobe=None)`` then defaults to the stamped
        point — an index built with a recall contract serves it without
        per-caller tuning. Cost (r13): one exact k-NN pass over the
        corpus for the query sample — the one-pass sweep derives every
        candidate's recall from it with no per-candidate searches
        (``metrics.recall_sweep_onepass``); explicit opt-in because at
        100 TB that exact pass is a full scan.

        ``storage`` (r12 verdict #2, the deployment-posture twin of the
        recall stamp): declare the epoch's I/O regime — ``"cold"`` for
        object-store / page-cache-miss deployments, ``"warm"`` (or None)
        for locally cached storage. The decision is stamped as
        ``storage_regime`` in the manifest and rides the delta chain;
        ``search(cascade="auto")`` then self-selects the scan tier per
        the measured rule (``COLD_CASCADE_MAX_FRACTION``): quantized
        first pass + exact rerank when cold AND the query probes <3% of
        lists (1.39-1.62x measured cold wins,
        scripts/artifacts_cascade_cold_768d.json), flat floats otherwise
        (warm storage refutes the cascade at every fraction). The facade
        (``VectorEngine.create_index(storage="cold")``) also auto-builds
        the SQ8 sidecar the cascade scans."""
        metric = D.parse_metric(metric)
        if storage not in (None, "warm", "cold"):
            raise ValueError(
                f"storage must be 'warm', 'cold', or None, got {storage!r}"
            )
        src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
        if train:
            model = KM.train(
                src, nlist, metric=metric, max_iter=max_iter, seed=seed, init=init
            )
            C = model.centroids
        else:
            if init is None:
                raise ValueError("train=False requires init centroids")
            C = np.asarray(init, dtype=np.float64)
        assigned = KM.assign(src, C, metric=metric)
        mgr = EpochManager(base_dir, index_name)
        epoch, manifest = mgr.write_epoch(
            assigned, C, metric, activate=activate, vector_layout=vector_layout,
            extra={"storage_regime": storage} if storage else None,
        )
        # construct the handle directly: centroids and manifest are already
        # in memory (write_epoch just wrote them) — cls.load would pay a
        # driver job to re-collect the centroid parquet it round-trips
        # bit-identically (float64 both ways)
        idx = cls(
            spark=df.sparkSession,
            manager=mgr,
            epoch=epoch,
            manifest=manifest,
            centroids=np.asarray(C, dtype=np.float64),
        )
        if recall_target is not None:
            if storage == "cold":
                # a cold epoch's defaulted serving path is the SQ
                # cascade (below the fraction ceiling), so the contract
                # must be measured THROUGH it: build the sidecar the
                # cascade scans BEFORE tuning — tune_recall then routes
                # per-candidate via cascade="auto" exactly as serving
                # will (_serving_may_cascade). Tuning first and encoding
                # later would stamp flat-measured recall on a shortlist
                # scan that never ran — the cross-surface mis-assertion
                # the per-surface stamps exist to prevent.
                from .sq import IVFSQIndex

                IVFSQIndex.build_from_ivf(idx)
                idx.refresh_sidecars()
            idx.tune_recall(
                corpus=src,
                target_recall=recall_target,
                queries=recall_queries,
                k=recall_k,
                nprobes=recall_nprobes,
            )
        return idx

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        base_dir: str,
        index_name: str,
        epoch: int | None = None,
    ) -> "IVFIndex":
        """LoadIndex/ActivateEpoch read path (server/query_service.cpp:218-265):
        resolve the _ACTIVE pointer unless an epoch is pinned."""
        mgr = EpochManager(base_dir, index_name)
        epoch = mgr.resolve_epoch(epoch)
        return cls(
            spark=spark,
            manager=mgr,
            epoch=epoch,
            manifest=mgr.read_manifest(epoch),
            centroids=mgr.read_centroids(spark, epoch),
        )

    # -- sidecar cascade (r8 default scale path) ---------------------------
    def _cascade_handle(self):
        """The SQ8 sidecar handle for THIS epoch, or None. Resolution keys
        on the handle's in-memory manifest (deterministic for the handle's
        lifetime) with the shared load rule: a tombstone-only tip takes
        its params from the nearest SQ-encoded ancestor
        (``codes.CodeIndex.attach``). Construction reuses the
        already-collected centroids, so the only extra I/O is the tiny
        [vmin, vmax] params parquet."""
        if not self._sq_cascade_checked:
            self._sq_cascade_checked = True
            from .codes import codecs

            self._sq_cascade = codecs()["sq"].attach(self)
        return self._sq_cascade

    def _serving_may_cascade(self) -> bool:
        """True when a defaulted search on this handle could route
        through the SQ-shortlist cascade for SOME nprobe (the global
        override, or a cold-stamped regime with the sidecar present).
        The recall tuner consults this: a cascade-capable handle must be
        measured per-candidate THROUGH its serving path (handle.search
        with cascade='auto' routes each candidate exactly as serving
        will), because the one-pass sweep models pure flat ordering and
        a stamp it produced would assert recall on a shortlist scan it
        never measured."""
        if CASCADE_AUTO_DEFAULT:
            return self._cascade_handle() is not None
        extra = getattr(self.manifest, "extra", None) or {}
        return (
            extra.get("storage_regime") == "cold"
            and self._cascade_handle() is not None
        )

    def _auto_cascade(self, nprobe: int) -> bool:
        """cascade="auto" decision for one search: the global override,
        or the manifest-declared cold regime at a probed fraction where
        the cold measurements say the byte cut wins (see
        ``COLD_CASCADE_MAX_FRACTION``). Cheap driver-side arithmetic —
        no I/O; the sidecar's existence is checked by the caller."""
        if CASCADE_AUTO_DEFAULT:
            return True
        extra = getattr(self.manifest, "extra", None) or {}
        return (
            extra.get("storage_regime") == "cold"
            and nprobe / max(1, self.manifest.nlist)
            <= COLD_CASCADE_MAX_FRACTION
        )

    def refresh_sidecars(self) -> None:
        """Re-read the manifest from disk and reset cascade resolution —
        call after encoding a sidecar onto an already-loaded epoch
        (``VectorEngine.encode_sq`` does this for its loaded handles)."""
        self.manifest = self.manager.read_manifest(self.epoch)
        self._sq_cascade = None
        self._sq_cascade_checked = False

    # -- recall operating point (T8 as policy, r11 verdict #2) --------------
    def tune_recall(
        self,
        corpus: DataFrame,
        target_recall: float,
        queries: DataFrame | None = None,
        k: int = 10,
        nprobes: "tuple[int, ...] | None" = None,
    ) -> dict:
        """Measure this epoch's recall/nprobe curve and stamp the tuned
        operating point into the manifest.

        Sweeps ``nprobes`` (default: a doubling series 1,2,4,... capped
        by nlist, with nlist itself appended — the full probe is exact,
        so the target is always reachable at the top of the series) on a
        bounded query sample against exact ground truth
        (``metrics.suggest_nprobe``), picks the SMALLEST candidate whose
        mean recall@k meets ``target_recall``, and writes
        ``suggested_nprobe`` / ``measured_recall`` / ``recall_target`` /
        ``recall_target_met`` into ``manifest.extra`` atomically.
        ``search(nprobe=None)`` defaults to the stamped point from then
        on — including handles loaded later from the same epoch.

        The r11 measurement that motivates this: at the reference's own
        published 10M x 768-d shape, its prescribed nprobe=32 buys only
        0.514 recall@10; the >=0.9 point is nprobe=512 at 1.28x batch
        wall (scripts/artifacts_recall_op_768d.json). An index that
        KNOWS its operating point makes that trade explicit."""
        return tune_recall_handle(
            self, corpus, target_recall, queries=queries, k=k,
            nprobes=nprobes,
        )

    # -- search (T3) -------------------------------------------------------
    # ProbedSearch.search, held in this class's own namespace: perfbench's
    # tracer wraps ``IVFIndex.search`` from the class ``__dict__``
    search = ProbedSearch.search

    def resolved_nprobe(self, nprobe: "int | None") -> int:
        """An unspecified nprobe resolves to the manifest-stamped tuned
        operating point when the epoch was built with ``recall_target=``
        (or tuned later via ``tune_recall``), else the reference's
        default of 8 (server/query_service.cpp:97)."""
        return resolve_nprobe(self.manifest, nprobe, self.surface)

    def _probed_scan(
        self,
        queries: DataFrame,
        k: int,
        nprobe: "int | None" = None,
        metric: str | None = None,
        rerank_exact: bool = False,
        rerank_k: int | None = None,
        query_id_col: str = "query_id",
        qvec_col: str = "qvec",
        where: "str | Column | None" = None,
        cascade: str = "auto",
    ) -> "ProbedScan | DataFrame":
        """``ProbedSearch._probed_scan``, recording the probe's access
        statistics — or the finished result when the SQ cascade
        (``ProbedSearch.search``'s ``cascade``) takes the request."""
        if cascade not in ("auto", "off", "sq"):
            raise ValueError(
                f"cascade must be 'auto', 'off', or 'sq', got {cascade!r}"
            )
        scan = super()._probed_scan(
            queries, k, nprobe, metric, rerank_exact, rerank_k,
            query_id_col, qvec_col, where,
        )
        self._record_access(scan.probe)
        nprobe = self.resolved_nprobe(nprobe)
        if cascade == "sq" or (cascade == "auto" and self._auto_cascade(nprobe)):
            sq_handle = self._cascade_handle()
            if sq_handle is None and cascade == "sq":
                raise ValueError(
                    f"cascade='sq' but epoch {self.epoch} has no SQ "
                    "sidecar — run IVFSQIndex.build_from_ivf (or "
                    "VectorEngine.encode_sq) first"
                )
            if sq_handle is not None:
                rk = max(rerank_k or 0, CASCADE_RERANK_MULT * k,
                         CASCADE_RERANK_MIN)
                return sq_handle.search(
                    queries,
                    k,
                    nprobe=nprobe,
                    metric=scan.metric,
                    rerank_exact=True,
                    rerank_k=rk,
                    query_id_col=query_id_col,
                    qvec_col=qvec_col,
                    where=where,
                )
        return scan

    def _scan_source(self, Q: np.ndarray, metric: str):
        return self.vectors, None

    # -- driver-resident list tier -----------------------------------------
    def _resident_blocks(self, scan: ProbedScan) -> "list | None":
        """``search_local``'s driver-side step reads the list tier when it
        can: within the merge bound, an unfiltered request gets the probed
        lists missing from the tier in one ``toArrow`` job (none when all
        are resident) and runs ``_list_scanner`` plus the numpy merge over
        the blocks on the driver, as the reference scans lists held in
        memory (engine/ivf_flat_index.cpp:205-256). A warm request so runs
        one Spark job, the query batch's. When the probed lists do not fit
        ``tier_budget_bytes``, or the request has a ``where=``, the pruned
        Spark scan runs as on any handle."""
        if scan.where is None and scan.max_candidates <= knn.LOCAL_MERGE_MAX_ROWS:
            return self._resident_lists(scan.lists)
        return None

    def _row_bytes(self) -> int:
        """Estimated bytes of one {id, vector, list_id} row held warm: id(8)
        + float32 vector + list_id(4) + per-row overhead — an upper-ish
        bound, the safe direction for a budget."""
        return 8 + 4 * self.manifest.dimension + 4 + 16

    def tier_budget_bytes(self) -> int:
        """The list tier's capacity: a sixteenth of the host's physical RAM
        (``session.host_ram_bytes``), capped further by
        ``warm_budget_bytes`` when one is set."""
        host = session.host_ram_bytes() // 16
        if self.warm_budget_bytes is None:
            return host
        return min(host, self.warm_budget_bytes)

    def _resident_lists(self, lists: "list[int]") -> "list | None":
        """The non-empty blocks of ``lists`` from the tier, after filling
        the missing ones in one ``toArrow`` job over the folded chain —
        or None, with nothing read, when the lists would not fit the
        budget (estimated at the mean list size for the missing ones)."""
        budget = self.tier_budget_bytes()
        with self._tier_lock:
            missing = [lid for lid in lists if lid not in self._tier]
            held = sum(self._tier[lid].nbytes for lid in lists if lid in self._tier)
            est = (
                self.manifest.num_vectors * len(missing)
                // max(1, self.manifest.nlist) * self._row_bytes()
            )
            if held + est > budget:
                return None
            if missing:
                self._fill_tier(missing)
            blocks = [self._tier[lid] for lid in lists]
            self._trim_tier(budget, keep=set(lists))
        return [b for b in blocks if b.num_rows]

    def _fill_tier(self, lists: "list[int]") -> None:
        """Read ``lists`` from the folded chain in one ``toArrow`` job and
        hold each as its own batch (its own buffers, so evicting one list
        frees it). A list with no live row is held empty, so it is not
        read again."""
        import pyarrow as pa

        tbl = (
            prune_lists(self.vectors, lists, self.lists_per_bucket)
            .select("id", "vector", "list_id")
            .toArrow()
        )
        lids = tbl.column("list_id").to_numpy()
        order = np.argsort(lids, kind="stable")
        bounds = np.searchsorted(lids[order], [(l, l + 1) for l in lists])
        for lid, (lo, hi) in zip(lists, bounds):
            part = tbl.take(pa.array(order[lo:hi])).combine_chunks()
            rb = part.to_batches()
            rb = rb[0] if rb else pa.RecordBatch.from_pylist([], schema=tbl.schema)
            self._tier[lid] = rb
            self._tier_bytes += rb.nbytes

    def _trim_tier(self, budget: int, keep=frozenset()) -> None:
        """Evict the coldest blocks (lowest access_count, then the oldest
        fill) until the tier fits ``budget``; lists in ``keep`` go last."""
        while self._tier and self._tier_bytes > budget:
            coldest = min(
                self._tier,
                key=lambda lid: (lid in keep, self.access_count.get(lid, 0)),
            )
            self._tier_bytes -= self._tier.pop(coldest).nbytes

    def list_radii(self) -> np.ndarray:
        """Per-list covering radius: the max Euclidean distance from any
        member to its centroid, as an (nlist,) float64 array (0 for empty
        lists). One distributed pass — per-Arrow-batch partial maxima then a
        tiny groupBy max — cached on the handle; range_search uses it for
        exact list pruning. O(nlist) driver memory."""
        if self._list_radii is None:
            C = self.centroids

            def scan(batches):
                from ..functions import arrowkit as AK

                for rb in batches:
                    if rb.num_rows == 0:
                        continue
                    lids = AK.column(rb, "list_id", np.int64)
                    V = AK.list_matrix(rb, "vector")
                    d2 = D.rowwise(D.L2, V, C[lids])
                    ul, inv = np.unique(lids, return_inverse=True)
                    mx = np.zeros(len(ul), dtype=np.float64)
                    np.maximum.at(mx, inv, d2)
                    yield AK.batch(list_id=ul, maxr_sq=mx)

            rows = (
                self.vectors.select("vector", "list_id")
                .mapInArrow(scan, schema="list_id long, maxr_sq double")
                .groupBy("list_id")
                .agg(F.max("maxr_sq").alias("m"))
                .collect()
            )
            r = np.zeros(self.manifest.nlist, dtype=np.float64)
            for row in rows:
                r[row["list_id"]] = row["m"]
            self._list_radii = np.sqrt(r)
        return self._list_radii

    def range_search(
        self,
        queries: DataFrame,
        radius: float,
        metric: str | None = None,
        max_results: int | None = None,
        query_id_col: str = "query_id",
        qvec_col: str = "qvec",
        where: "str | Column | None" = None,
    ) -> DataFrame:
        """Exact range (radius) search through the IVF layout: every vector
        within ``radius`` of each query, in the metric's distance units
        (squared L2 for ``l2``) -> {query_id, id, distance} (+ ``rank`` when
        ``max_results`` caps the per-query output).

        For L2 the per-list covering radii (``list_radii``) prune the scan
        via the triangle inequality — only lists whose centroid ball can
        intersect the query ball are read (partition pruning on ``list_id``,
        like ``search``), and the pruning is EXACT: results equal the
        brute-force ``knn.range_search`` bit-for-bit. IP/cosine admit no
        such bound and scan all lists (documented in select_range_lists).
        """
        if radius < 0:
            raise ValueError(f"radius must be >= 0, got {radius}")
        metric = D.parse_metric(metric or self.manifest.metric)
        qids, Q = knn.collect_query_matrix(queries, query_id_col, qvec_col)
        if len(qids) == 0:
            raise ValueError("empty query batch")
        if Q.shape[1] != self.manifest.dimension:
            raise ValueError(
                f"query dimension {Q.shape[1]} != index dimension "
                f"{self.manifest.dimension}"
            )
        mask = select_range_lists(
            self.centroids, Q, float(radius), self.list_radii(), metric
        )
        by_list = {
            int(lid): np.nonzero(mask[lid])[0]
            for lid in range(mask.shape[0])
            if mask[lid].any()
        }
        needed = sorted(by_list)
        # one access hit per (query, probed-list) pair, matching search()
        self._record_access(np.nonzero(mask)[0][None, :])
        pruned = prune_lists(self.vectors, needed, self.lists_per_bucket)
        if where is not None:
            pruned = pruned.filter(where)
        cand = pruned.select("id", "vector", "list_id").mapInArrow(
            _range_list_scanner(qids, Q, by_list, float(radius), metric),
            schema=knn.CANDIDATE_SCHEMA,
        )
        if max_results is not None:
            knn.validate_topk(max_results)
            return knn.topk_per_query(cand, max_results, dedup=True)
        return cand

    def search_batch(
        self,
        requests: "list[SearchRequest]",
        recorder=None,
        use_scheduler_pools: bool = False,
        max_concurrency: int = 1,
    ) -> DataFrame:
        """Batch of heterogeneous requests — see ``run_search_batch``."""
        return run_search_batch(
            self,
            requests,
            recorder=recorder,
            use_scheduler_pools=use_scheduler_pools,
            index_name=self.manifest.index_name,
            max_concurrency=max_concurrency,
        )

    # -- access statistics (V9/LFU parity) ---------------------------------
    def _record_access(self, probe: np.ndarray) -> None:
        """access_count++ / last_access per probed list per query
        (ivf_flat_index.cpp:227-229). A deterministic search sequence number
        stands in for the reference's steady_clock timestamp so recency is
        reproducible across runs."""
        self.search_seq += 1
        lids, counts = np.unique(probe.ravel(), return_counts=True)
        for lid, cnt in zip(lids.tolist(), counts.tolist()):
            self.access_count[lid] = self.access_count.get(lid, 0) + cnt
            self.last_access_seq[lid] = self.search_seq

    def hot_lists(self, n: int | None = None) -> list[tuple[int, int]]:
        """Most-frequently-probed lists: [(list_id, access_count)] ordered
        by count desc, then list_id asc — the LFU ranking the reference's
        eviction TODO calls for (ivf_flat_index.cpp:401-404)."""
        ranked = sorted(
            self.access_count.items(), key=lambda kv: (-kv[1], kv[0])
        )
        return ranked if n is None else ranked[:n]

    def access_stats_df(self) -> DataFrame:
        """Access stats as a DataFrame: {list_id, access_count,
        last_access_seq}. O(nlist) rows — driver-sized by construction."""
        rows = [
            (int(lid), int(cnt), int(self.last_access_seq[lid]))
            for lid, cnt in sorted(self.access_count.items())
        ]
        return self.spark.createDataFrame(
            rows, "list_id int, access_count long, last_access_seq long"
        )

    # -- ops ---------------------------------------------------------------
    def add(
        self,
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "vector",
        activate: bool = True,
        manifest_extra: dict | None = None,
    ) -> "IVFIndex":
        """Incremental add (the reference's ``add()`` verb,
        engine/ivf_flat_index.cpp:148-202, which appends vectors to the
        existing inverted lists in place). Epochs stay immutable: the new
        vectors are assigned against the CURRENT centroids and written as a
        DELTA epoch linked to this one — only the new data is written,
        readers union the chain, and ``compact()`` collapses a long chain
        back into one full epoch. Returns the handle for the new epoch.

        At 100 TB this is the difference between ingesting a shard and
        rewriting the corpus: the write cost is O(delta), not O(corpus).

        The parent's recall stamp (every surface) and storage-regime
        stamp fold down onto the delta manifest — marked stale per
        surface, since the measurement predates the new data — so an
        index built with ``recall_target=`` keeps serving at its tuned
        operating point across incremental adds instead of silently
        reverting to DEFAULT_NPROBE (r12 ADVICE). Re-tune (or
        ``VectorEngine.add_vectors(retune_recall=True)``) to refresh the
        measurement; ``manifest_extra`` keys override inherited ones."""
        src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
        head = src.select("vector").head(1)
        if not head:
            raise ValueError("cannot add an empty DataFrame")
        if len(head[0][0]) != self.manifest.dimension:
            raise ValueError(
                f"add dimension {len(head[0][0])} != index dimension "
                f"{self.manifest.dimension}"
            )  # server/query_service.cpp:115-119
        assigned = KM.assign(src, self.centroids, metric=self.manifest.metric)
        extra = {
            **inherited_manifest_extra(self.manifest.extra, self.epoch),
            **(manifest_extra or {}),
        }
        # pq deliberately NOT inherited: the delta epoch carries no codes
        # until IVFPQIndex.build_from_ivf re-encodes — over a chained epoch
        # it encodes the full unioned corpus into THIS epoch's codes dir,
        # after which PQ search over the chain works normally
        epoch, manifest = self.manager.write_epoch(
            assigned,
            self.centroids,
            self.manifest.metric,
            activate=activate,
            parent_epoch=self.epoch,
            extra=extra or None,
        )
        return IVFIndex(
            spark=self.spark,
            manager=self.manager,
            epoch=epoch,
            manifest=manifest,
            centroids=self.centroids,
        )

    def delete(
        self,
        ids,
        activate: bool = True,
        manifest_extra: dict | None = None,
    ) -> "IVFIndex":
        """Delete by id — a verb the reference's add-only mutable index
        lacks entirely. Immutable epochs express it as a TOMBSTONE delta
        epoch: an O(delete-batch) write of the distinct id set, linked to
        this epoch. Readers fold the chain (``EpochManager.read_vectors``)
        so deleted ids vanish from search immediately and a later re-add
        of the same id wins; ``compact()`` materializes the deletions and
        drops the tombstones. ``ids``: a DataFrame whose first column is
        the id, or an iterable of ints."""
        if isinstance(ids, DataFrame):
            ids_df = ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
        else:
            ids_df = self.spark.createDataFrame(
                [(int(x),) for x in ids], "id long"
            )
        ids_df = ids_df.distinct()
        # exact live count for the manifest/stats: one semi-join count over
        # the current live set (deletes are rare; stats must not drift)
        hit = self.vectors.join(ids_df, "id", "left_semi").count()
        extra = {
            **inherited_manifest_extra(self.manifest.extra, self.epoch),
            **(manifest_extra or {}),
        }
        epoch, manifest = self.manager.write_tombstone_epoch(
            ids_df,
            self.centroids,
            self.manifest.metric,
            parent_epoch=self.epoch,
            num_vectors_live=self.manifest.num_vectors - hit,
            activate=activate,
            extra=extra or None,
        )
        return IVFIndex(
            spark=self.spark,
            manager=self.manager,
            epoch=epoch,
            manifest=manifest,
            centroids=self.centroids,
        )

    def compact(
        self, activate: bool = True, manifest_extra: dict | None = None
    ) -> "IVFIndex":
        """B7 compaction (declared-only in the reference: format/storage.h:160,
        indexmgr/CMakeLists.txt:12 references an absent compactor.cpp).

        Rewrites the current epoch's possibly-fragmented inverted lists into
        a NEW epoch with one coalesced file chain per list
        (``repartition("list_id")`` before the partitioned write), keeping
        the immutable-epoch invariant: the source epoch is untouched and the
        compacted copy is activated atomically. Assignments and centroids
        are reused — compaction changes layout, never semantics. The
        chain's recall/storage stamps carry over VERBATIM (no new stale
        marker: the live row set is unchanged, so the measurement is
        exactly as valid as it was — including any stale marker an
        earlier delta already added)."""
        # write_epoch does the one-list-per-task repartition itself
        compacted = self.vectors.select("id", "vector", "list_id")
        extra = {
            **inherited_manifest_extra(
                self.manifest.extra, self.epoch, mark_stale=False
            ),
            **(manifest_extra or {}),
        }
        epoch, _ = self.manager.write_epoch(
            compacted,
            self.centroids,
            self.manifest.metric,
            activate=activate,
            extra=extra or None,
        )
        return IVFIndex.load(self.spark, self.manager.base_dir,
                             self.manager.index_name, epoch)

    def warmup(
        self, lists: list[int] | None = None, top: int | None = None
    ) -> DataFrame:
        """V9 warmup analog: cache + materialize the hot lists
        (proto/vdb.proto:41-45). With no explicit ``lists``, defaults to the
        ``top`` most-frequently-probed lists from the access statistics
        (all recorded hot lists when ``top`` is None; the full index when
        nothing has been searched yet).

        Under a ``warm_budget_bytes`` cap a cold set warmed into a full
        cache can be the LFU victim of its own enforcement — capacity
        semantics, but the caller must not proceed believing the lists are
        pinned: ``last_warmup_evicted`` reports whether THIS call's set
        survived (False) or was immediately evicted (True)."""
        df = self.vectors
        if lists is None and self.access_count:
            lists = [lid for lid, _ in self.hot_lists(top)]
        key = frozenset(int(x) for x in lists) if lists is not None else None
        cached = self._warm.get(key)
        if cached is not None:
            self.last_warmup_evicted = False
            return cached
        if lists is not None:
            df = prune_lists(df, lists, self.lists_per_bucket)
        df = df.cache()
        n = df.count()
        self._warm[key] = df
        self._warm_bytes[key] = n * self._row_bytes()
        self.last_warmup_evicted = key in self.enforce_warm_budget()
        return df

    def evict(self, lists: list[int] | None = None) -> int:
        """V9 eviction (`evict_list`, ivf_flat_index.h:61): unpersist every
        warm cache that touches any of ``lists`` (all of them when None).
        Returns the number of cache entries released. Granularity is the
        warmed set, not the single list — Spark caching is per-DataFrame;
        evicting one member releases the set it was warmed with, which is
        the safe direction (re-warm is cheap, a stale pin is not)."""
        doomed = (
            list(self._warm)
            if lists is None
            else [
                key
                for key in self._warm
                if key is None or key & {int(x) for x in lists}
            ]
        )
        for key in doomed:
            self._warm.pop(key).unpersist()
            self._warm_bytes.pop(key, None)
        return len(doomed)

    def _warm_heat(self, key) -> int:
        """LFU heat of a warm set: summed access_count over its lists (the
        full-index set None counts every list)."""
        if key is None:
            return sum(self.access_count.values())
        return sum(self.access_count.get(lid, 0) for lid in key)

    def set_warm_budget(self, budget_bytes: int | None) -> list:
        """Set (or clear) the warm-cache capacity and enforce it now, on
        the Spark warm sets and the list tier alike. Returns the evicted
        warm-set keys."""
        self.warm_budget_bytes = budget_bytes
        with self._tier_lock:
            self._trim_tier(self.tier_budget_bytes())
        return self.enforce_warm_budget()

    def enforce_warm_budget(self) -> list:
        """V9 capacity-driven LFU eviction (the policy the reference's
        GpuCache declares, ivf_flat_index.h:191-222; eviction TODO at
        ivf_flat_index.cpp:398-401): while estimated warm bytes exceed
        ``warm_budget_bytes``, unpersist the coldest warm set — lowest
        summed access_count, ties to the older insertion. A newly warmed
        set that is itself the coldest gets evicted; that is capacity
        semantics, not a bug."""
        evicted = []
        if self.warm_budget_bytes is None:
            return evicted
        while (
            len(self._warm) > 0
            and sum(self._warm_bytes.values()) > self.warm_budget_bytes
        ):
            coldest = min(self._warm, key=lambda k: self._warm_heat(k))
            self._warm.pop(coldest).unpersist()
            self._warm_bytes.pop(coldest, None)
            evicted.append(coldest)
        return evicted

    def stats(self) -> dict:
        """V10 stats (proto/vdb.proto:80-87).

        ``balance`` summarizes quantizer list-size balance — the property
        train-sample size actually buys (PERF.md r10: 4x the Lloyd
        sample moved CV 0.41 -> 0.09 at 10M x 768-d while recall went
        DOWN). ``probe_amplification_est`` = 1 + CV^2: for corpus-drawn
        queries P(landing in list i) is proportional to size_i, so the
        expected first-probe scanned fraction is sum(size^2)/N^2 =
        (1 + CV^2)/nlist — the closed form predicted 1.166 for the CV
        0.407 quantizer vs 1.17 measured at nprobe=32
        (scripts/probe_768d_balance.py). Values well above 1 mean
        recall-at-nprobe reads optimistic and worst-list scan time (the
        straggler bound at cluster scale) is inflated; retrain with a
        larger sample."""
        sizes = {
            r["list_id"]: r["cnt"]
            for r in self.vectors.groupBy("list_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        nlist = int(self.manifest.nlist)
        arr = np.zeros(nlist, dtype=np.float64)
        for lid, cnt in sizes.items():
            # bounds guard (r10 ADVICE): a corrupt delta/epoch row with a
            # negative list_id would wrap via numpy negative indexing and
            # silently inflate a tail list's count; lid >= nlist would
            # raise an opaque IndexError from inside stats()
            if not 0 <= lid < nlist:
                raise ValueError(
                    f"corrupt index row: list_id={lid} outside [0, {nlist}) "
                    f"in epoch {self.epoch} of '{self.manifest.index_name}'"
                )
            arr[lid] = cnt
        mean = float(arr.mean()) if nlist else 0.0
        cv = float(arr.std() / mean) if mean > 0 else 0.0
        balance = {
            "mean_list_size": mean,
            "list_size_cv": round(cv, 4),
            "max_list_size": int(arr.max()) if nlist else 0,
            "p99_list_size": int(np.percentile(arr, 99)) if nlist else 0,
            "empty_lists": int((arr == 0).sum()),
            "probe_amplification_est": round(1.0 + cv * cv, 4),
        }
        return {
            "index_name": self.manifest.index_name,
            "epoch": self.epoch,
            "dimension": self.manifest.dimension,
            "metric": self.manifest.metric,
            "nlist": self.manifest.nlist,
            "num_vectors": self.manifest.num_vectors,
            "list_sizes": sizes,
            "balance": balance,
            "access_count": dict(self.access_count),
            "last_access_seq": dict(self.last_access_seq),
            "searches": self.search_seq,
        }


def run_search_batch(
    index,
    requests: "list[SearchRequest]",
    recorder=None,
    use_scheduler_pools: bool = False,
    index_name: str | None = None,
    max_concurrency: int = 1,
) -> DataFrame:
    """Batch of heterogeneous requests (engine/ivf_flat_index.h:55 —
    declared, never implemented in the reference): each request carries its
    OWN (k, nprobe, metric, rerank) params. Works over any index exposing
    ``.spark``, ``.search`` and ``.search_local`` (every IVF handle).

    Requests with identical params fuse into one set-at-a-time search (the
    same coalescing the reference's request queue performs per index+params
    group, server/query_service.cpp:267-401); the per-group wall time is
    recorded per request into ``recorder`` (metrics.LatencyRecorder) for
    the V7 summary.

    Groups run highest-priority-first (V6, load_balancer.cpp:273-329; a
    fused group's priority is its most urgent member's); with
    ``use_scheduler_pools`` each group's jobs are routed to the matching
    fair-scheduler pool, the cluster analog of the reference's per-class
    worker pools (load_balancer.cpp:18-21).

    ``max_concurrency > 1`` SUBMITS independent groups from concurrent
    driver threads — the analog of the reference's parallel batch
    processors (server/query_service.cpp:267-285). A serial drain leaves
    executor slots idle between a group's stages; concurrent submission
    overlaps them. Strict group ordering is necessarily relaxed: priority
    is then enforced by fair-scheduler pool weighting (combine with
    ``use_scheduler_pools``), which is exactly the reference's
    per-class-worker-pool semantics. Results are identical either way —
    groups are independent by construction (disjoint query_ids)."""
    import time as _time

    if not requests:
        raise ValueError("empty request batch")  # query_service.cpp:71-75
    ids = [r.query_id for r in requests]
    if len(set(ids)) != len(ids):
        raise ValueError("duplicate query_id in request batch")
    if index_name is None:
        index_name = getattr(index, "manifest", None)
        index_name = index_name.index_name if index_name else "index"
    groups: dict[tuple, list] = {}
    for r in requests:
        groups.setdefault(r.params_key(), []).append(r)
    ordered = sorted(
        groups.items(),
        key=lambda kv: (-max(r.priority for r in kv[1]), kv[0]),
    )
    # priority-first execution is only real if each group's jobs RUN before
    # the next group is submitted: materialize eagerly whenever ordering is
    # observable (a recorder timing groups, scheduler pools routing them, or
    # heterogeneous priorities) — otherwise everything is lazy and the
    # caller's single terminal action would run the groups in plan order.
    # Concurrent submission is eager by construction (each thread must run
    # its group's jobs, not hand back a lazy plan).
    concurrent = max_concurrency > 1 and len(ordered) > 1
    eager = (
        recorder is not None
        or use_scheduler_pools
        or len({r.priority for r in requests}) > 1
        or concurrent
    )

    def run_group(gi: int, reqs: list) -> DataFrame:
        # local properties (scheduler pool) are per-thread in PySpark's
        # pinned-thread mode, so each group thread sets and clears its own
        if use_scheduler_pools:
            from ..streaming.flow import PriorityRequestQueue

            PriorityRequestQueue.set_pool(index.spark, max(r.priority for r in reqs))
        try:
            p = reqs[0]
            qdf = index.spark.createDataFrame(
                [(r.query_id, r.qvec) for r in reqs],
                "query_id long, qvec array<float>",
            )
            t0 = _time.perf_counter()
            # an eager group runs now, merging on the driver
            res = (index.search_local if eager else index.search)(
                qdf,
                k=p.k,
                nprobe=p.nprobe,
                metric=p.metric,
                rerank_exact=p.rerank_exact,
                rerank_k=p.rerank_k,
                where=p.where,
            )
            if eager and not res.isLocal():
                res = res.localCheckpoint(eager=True)
            if recorder is not None:
                recorder.record(
                    index_name, gi, len(reqs), (_time.perf_counter() - t0) * 1000.0
                )
            return res
        finally:
            if use_scheduler_pools:
                index.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", None
                )

    if concurrent:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(max_concurrency, len(ordered))
        ) as ex:
            futures = [
                ex.submit(run_group, gi, reqs)
                for gi, (_key, reqs) in enumerate(ordered)
            ]
            results = [f.result() for f in futures]
    else:
        results = [
            run_group(gi, reqs) for gi, (_key, reqs) in enumerate(ordered)
        ]
    out = None
    for res in results:
        out = res if out is None else out.unionByName(res)
    return out
