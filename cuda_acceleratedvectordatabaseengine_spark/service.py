"""VectorEngine — the reference's full service surface as one facade.

The reference exposes two gRPC services (proto/vdb.proto:89-109):

  QueryService: Search, Warmup, LoadIndex
  AdminService: CreateIndex, BuildEpoch, ActivateEpoch, GetStats

plus a MetricsCollector with Prometheus text output
(server/query_service.cpp:679-798). This module is the verb-for-verb
Spark-side facade: a user of the reference can drive the same lifecycle —
create an index, build an epoch from a Parquet/Arrow source, activate it,
load it, search it, warm it, read stats and metrics — against DataFrames
instead of protos. Request validation mirrors the server's checks
(server/query_service.cpp:71-119,421-445); the zero-downtime
LoadIndex/ActivateEpoch swap mirrors load_index_internal
(server/query_service.cpp:218-265) via the `_ACTIVE` pointer +
atomic dict swap.

Everything here is a thin layer over the operators — no query logic lives
in the facade, so driver-side cost is O(1) per call regardless of data
scale.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .functions import distance as D
from .operators.codes import codecs, sidecar_maintainers
from .operators.ivf import IVFIndex, SearchRequest
from .operators.pq import IVFPQIndex
from .sources.epochs import EpochManager

__all__ = ["VectorEngine", "MetricsCollector", "SearchRequest"]


class MetricsCollector:
    """V7 metrics (server/query_service.cpp:679-798): per-index latency
    histogram (bounded: >10000 samples trims to the newest 5000), search
    counts, recalls, process-lifetime QPS, Prometheus text format.

    Percentile matches the reference's sorted-vector rank pick
    (``sorted[int(p * (n - 1))]``), not an interpolated quantile."""

    def __init__(self, clock: Callable[[], float] = time.monotonic) -> None:
        self._clock = clock
        self._start = clock()
        self._latencies: dict[str, list[float]] = {}
        self._recalls: dict[str, list[float]] = {}
        self._counts: dict[str, int] = {}

    def record_search_latency(self, index: str, latency_ms: float) -> None:
        h = self._latencies.setdefault(index, [])
        h.append(float(latency_ms))
        if len(h) > 10000:  # keep only recent values (query_service.cpp:783-787)
            del h[:5000]

    def record_search_recall(self, index: str, recall: float) -> None:
        self._recalls.setdefault(index, []).append(float(recall))

    def increment_search_count(self, index: str, n: int = 1) -> None:
        self._counts[index] = self._counts.get(index, 0) + n

    @staticmethod
    def _percentile(values: list[float], p: float) -> float:
        if not values:
            return 0.0
        s = sorted(values)
        return s[int(p * (len(s) - 1))]

    def get_metrics(self) -> dict:
        indices = {}
        for index, hist in self._latencies.items():
            m = {
                "search_count": self._counts.get(index, 0),
                "p50_latency_ms": self._percentile(hist, 0.5),
                "p95_latency_ms": self._percentile(hist, 0.95),
                "p99_latency_ms": self._percentile(hist, 0.99),
            }
            rec = self._recalls.get(index)
            if rec:
                m["avg_recall"] = sum(rec) / len(rec)
            indices[index] = m
        elapsed = max(self._clock() - self._start, 1e-9)
        return {
            "indices": indices,
            "qps": sum(self._counts.values()) / elapsed,
        }

    def prometheus_format(self) -> str:
        m = self.get_metrics()
        out = [
            "# HELP vdb_search_duration_milliseconds Search latency in milliseconds",
            "# TYPE vdb_search_duration_milliseconds histogram",
        ]
        for index, im in m["indices"].items():
            for q, key in (("0.5", "p50_latency_ms"), ("0.95", "p95_latency_ms"), ("0.99", "p99_latency_ms")):
                out.append(
                    f'vdb_search_duration_milliseconds{{index="{index}",quantile="{q}"}} {im[key]}'
                )
        out += ["# HELP vdb_searches_total Total number of searches",
                "# TYPE vdb_searches_total counter"]
        for index, im in m["indices"].items():
            out.append(f'vdb_searches_total{{index="{index}"}} {im["search_count"]}')
        out += ["# HELP vdb_queries_per_second Current queries per second",
                "# TYPE vdb_queries_per_second gauge",
                f"vdb_queries_per_second {m['qps']}"]
        return "\n".join(out) + "\n"


class VectorEngine:
    """The QueryService + AdminService surface over a data directory.

    Layout: ``data_path/<index>/config.json`` holds the index parameters
    (the CreateIndex manifest, server/query_service.cpp:437-445);
    ``data_path/<index>/epoch=<n>/`` holds epoch builds (EpochManager).
    """

    def __init__(self, spark: SparkSession, data_path: str) -> None:
        self.spark = spark
        self.data_path = data_path
        os.makedirs(data_path, exist_ok=True)
        self._indices: dict[str, IVFIndex | IVFPQIndex] = {}
        self.metrics = MetricsCollector()

    # -- AdminService ------------------------------------------------------

    def _config_path(self, name: str) -> str:
        return os.path.join(self.data_path, name, "config.json")

    def _read_config(self, name: str) -> dict:
        try:
            with open(self._config_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise LookupError(f"index {name!r} does not exist")  # NOT_FOUND

    def create_index(
        self,
        name: str,
        dimension: int,
        metric: str = "L2",
        nlist: int = 0,
        m: int = 0,
        nbits: int = 8,
        opq: bool = False,
        pq_residual: bool = False,
        recall_target: float | None = None,
        storage: str | None = None,
    ) -> dict:
        """CreateIndex (server/query_service.cpp:419-470): validate, write
        the parameter manifest. ``m > 0`` declares a PQ index; ``opq=True``
        additionally trains an OPQ-lite rotation at build time
        (operators/pq.train_rotation) so codes live in a decorrelated,
        variance-balanced space; ``pq_residual=True`` quantizes residuals
        v - coarse-centroid (the FAISS IVF-PQ standard) for lower
        quantization error at the same code budget.

        ``recall_target`` (r11 verdict #2) declares a recall contract:
        every ``build_epoch`` for this index sweeps nprobe against exact
        ground truth on a bounded query sample and stamps the smallest
        nprobe meeting the target (plus its measured recall) into the
        epoch manifest — ``search`` with nprobe unspecified then serves
        at the stamped operating point (``IVFIndex.tune_recall``).

        ``storage`` (r12 verdict #2) declares the deployment's I/O
        regime: ``"cold"`` (object store / page-cache-miss scans) stamps
        ``storage_regime`` into every built epoch, auto-builds the SQ8
        sidecar for flat indexes, and ``search`` with ``cascade="auto"``
        then self-selects the quantized-first-pass scan exactly where
        the cold measurements say it wins (<3% probed fraction —
        ``ivf.COLD_CASCADE_MAX_FRACTION``,
        scripts/artifacts_cascade_cold_768d.json); ``"warm"``/None keeps
        the measured warm default of flat scans everywhere."""
        if not name:
            raise ValueError("Index name required")  # :423-426
        if dimension <= 0 or dimension > 65536:
            raise ValueError("Invalid dimension")  # :428-431
        if os.path.exists(self._config_path(name)):
            raise ValueError(f"index {name!r} already exists")
        if recall_target is not None and not 0.0 < recall_target <= 1.0:
            raise ValueError(
                f"recall_target must be in (0, 1], got {recall_target}"
            )
        if storage not in (None, "warm", "cold"):
            raise ValueError(
                f"storage must be 'warm', 'cold', or None, got {storage!r}"
            )
        metric = D.parse_metric(metric)
        config = {
            "name": name,
            "dimension": int(dimension),
            "metric": metric,
            # default mirrors :444 — min(4096, sqrt(1M)) when unset
            "nlist": int(nlist) if nlist > 0 else min(4096, 1000),
            "m": int(m),
            "nbits": int(nbits) if nbits > 0 else 8,
            "opq": bool(opq),
            "pq_residual": bool(pq_residual),
            "recall_target": recall_target,
            "storage": storage,
        }
        os.makedirs(os.path.dirname(self._config_path(name)), exist_ok=True)
        with open(self._config_path(name), "w") as f:
            json.dump(config, f, indent=2)
        return config

    def _read_source(self, source_path: str) -> DataFrame:
        """Parquet or Arrow-IPC ingest source — one detector for every verb
        (build_epoch AND add_vectors must accept the same layouts): a
        ``.arrow`` file path, a directory containing ``.arrow`` shards, or
        parquet otherwise."""
        if source_path.rstrip("/").endswith(".arrow") or any(
            fn.endswith(".arrow")
            for fn in (os.listdir(source_path) if os.path.isdir(source_path) else [])
        ):
            from .sources.arrow_ipc import read_vectors

            return read_vectors(self.spark, source_path)
        return self.spark.read.parquet(source_path)

    def build_epoch(
        self,
        index: str,
        source_path: str,
        id_col: str = "id",
        vec_col: str = "vector",
        seed: int = 42,
        max_iter: int = 10,
        activate: bool = False,
        sample_limit: int = 100_000,
    ) -> int:
        """BuildEpoch (proto/vdb.proto:63-67; the reference's worker is a
        placeholder, server/query_service.cpp:549-584 — implemented properly
        here): read the Parquet or Arrow-IPC source, train on a bounded
        sample, assign + partitioned epoch write(+ PQ encode when the index
        was created with m > 0). New epochs are NOT auto-activated, matching
        the build/activate split of the admin API."""
        cfg = self._read_config(index)
        src = self._read_source(source_path)
        head = src.select(vec_col).head(1)
        if not head:
            raise ValueError(f"source {source_path!r} is empty")
        if len(head[0][0]) != cfg["dimension"]:
            raise ValueError(
                f"source dimension {len(head[0][0])} != index "
                f"dimension {cfg['dimension']}"
            )  # per-request dimension check, query_service.cpp:115-119
        # a PQ index's recall contract must be measured on the SURFACE it
        # serves (the ADC code scan), not the flat scan the sidecar is
        # encoded from — so for m > 0 the flat build skips the tune and
        # the sweep runs through the PQ handle afterward, stamping the
        # same epoch manifest every loaded handle resolves from
        rt = cfg.get("recall_target")
        cold_flat = cfg.get("storage") == "cold" and cfg["m"] == 0
        idx = IVFIndex.build(
            src,
            self.data_path,
            index,
            nlist=cfg["nlist"],
            metric=cfg["metric"],
            seed=seed,
            max_iter=max_iter,
            id_col=id_col,
            vec_col=vec_col,
            activate=activate,
            # for a COLD flat contract, build itself creates the SQ
            # sidecar before tuning so the sweep runs through the same
            # cascade-capable serving path the stamp will govern
            recall_target=rt if cfg["m"] == 0 else None,
            storage=cfg.get("storage"),
        )
        if cold_flat and not getattr(idx.manifest, "sq", None):
            # cold without a recall contract still gets its cascade
            # sidecar (deterministic — no seed; codes are a function of
            # the corpus); with a contract, build already made it
            from .operators.sq import IVFSQIndex

            IVFSQIndex.build_from_ivf(idx)
            idx.refresh_sidecars()
        if cfg["m"] > 0:
            pq = IVFPQIndex.build_from_ivf(
                idx, m=cfg["m"], nbits=cfg["nbits"], seed=seed,
                rotate=bool(cfg.get("opq")),
                residual=bool(cfg.get("pq_residual")),
            )
            if rt is not None:
                from pyspark.sql import functions as F

                from .operators.ivf import tune_recall_handle

                tune_recall_handle(
                    pq,
                    src.select(
                        F.col(id_col).alias("id"),
                        F.col(vec_col).alias("vector"),
                    ),
                    rt,
                )
        return idx.epoch

    def add_vectors(
        self,
        index: str,
        source_path: str,
        id_col: str = "id",
        vec_col: str = "vector",
        activate: bool = False,
        seed: int = 42,
        retune_recall: bool = False,
    ) -> int:
        """Incremental ingest (the reference's core ``add()`` verb,
        engine/ivf_flat_index.cpp:148-202): assign the new vectors against
        the ACTIVE epoch's centroids and write them as a delta epoch — the
        write is O(delta), not O(corpus). Returns the new epoch id; like
        build_epoch, it is not auto-activated unless asked.

        An index created with ``recall_target=`` KEEPS its recall
        contract across adds (r12 ADVICE): the parent epoch's stamp folds
        onto the delta manifest (marked stale — the measurement predates
        the new data) so ``search(nprobe=None)`` still serves at the
        tuned operating point. ``retune_recall=True`` re-measures instead
        — one fresh sweep over the UPDATED live view through the index's
        serving surface (ADC for a PQ index), before any activation —
        replacing the stale inherited stamp with a fresh one. Since r13
        the flat-surface sweep is one ground-truth pass
        (``metrics.recall_sweep_onepass``), so re-tuning per add batch is
        affordable; PQ surfaces pay the per-candidate sweep."""
        cfg = self._read_config(index)
        base = IVFIndex.load(self.spark, self.data_path, index)
        src = self._read_source(source_path)
        new = base.add(src, id_col=id_col, vec_col=vec_col, activate=False)
        self._encode_delta_if_pq(cfg, new, seed)
        # every sidecar present on the chain gets its O(delta) encode
        # (inherited train-time artifacts), mirroring the streaming
        # ingest's maintainer discipline — without it a cold-storage
        # index would silently stop cascading after the first add, and
        # a PQ sidecar built OUT-OF-BAND on a flat-configured index
        # (cfg m == 0, so _encode_delta_if_pq no-ops) would leave the
        # new tip codeless and break IVFPQIndex.load on it
        for kind, enc in sidecar_maintainers(base):
            if kind == "pq" and cfg["m"] > 0:
                continue  # _encode_delta_if_pq above already encoded it
            if not getattr(new.manifest, kind):
                new.manifest = enc(new, "delta")
        if retune_recall:
            rt = cfg.get("recall_target")
            if rt is None:
                raise ValueError(
                    f"retune_recall=True but index {index!r} was created "
                    "without recall_target"
                )
            handle = (
                IVFPQIndex.load(
                    self.spark, self.data_path, index, epoch=new.epoch
                )
                if cfg["m"] > 0
                else new
            )
            from .operators.ivf import tune_recall_handle

            tune_recall_handle(handle, new.vectors.select("id", "vector"), rt)
            new.manifest = new.manager.read_manifest(new.epoch)
        if activate:
            new.manager.activate(new.epoch)
            if index in self._indices:
                self.load_index(index, new.epoch)
        return new.epoch

    def _encode_delta_if_pq(self, cfg: dict, new: IVFIndex, seed: int) -> None:
        """A PQ-configured index must never activate an epoch without
        codes (load_index would pick IVFPQIndex and fail AFTER the
        pointer swap): encode BEFORE any activation. Codebooks are
        train-time artifacts — when an ancestor has them, the delta
        inherits and encodes only its own vectors (O(delta), same
        codebooks as the build); only a chain with no trained
        codebooks pays a train+full-encode (seeded like build_epoch)."""
        if cfg["m"] <= 0:
            return
        from .operators.pq import nearest_pq_epoch

        if nearest_pq_epoch(new.manager, new.epoch) is not None:
            IVFPQIndex.encode_delta(new)  # inherits codebooks + rotation
        else:
            IVFPQIndex.build_from_ivf(
                new, m=cfg["m"], nbits=cfg["nbits"], seed=seed,
                rotate=bool(cfg.get("opq")),
                residual=bool(cfg.get("pq_residual")),
            )

    def merge_index(
        self,
        dst: str,
        src: str,
        activate: bool = False,
        seed: int = 42,
        check_ids: bool = True,
    ) -> int:
        """Fold index ``src``'s LIVE vectors into ``dst`` as one delta
        epoch — the shard-merge lifecycle verb (FAISS
        ``IndexIVF::merge_from`` semantics; no reference analog — its
        shards never merge). ``dst`` keeps its coarse quantizer and
        sidecars: src's live view (delta chain folded, tombstones
        applied) is re-assigned against dst's ACTIVE centroids and
        written O(|src live|), so independently-built shard indexes
        combine into one searchable index without a retrain. ``src`` is
        left untouched (drop it separately once the merge epoch is
        activated). ``check_ids`` guards the FAISS precondition that id
        spaces are disjoint (one distributed semi-join count; skip it
        when the caller owns id allocation). Not auto-activated unless
        asked. Returns the new epoch id on ``dst``."""
        cfg = self._read_config(dst)
        if dst == src:
            raise ValueError("merge_index: dst and src must differ")
        # Config compatibility up front — a dimension mismatch would
        # otherwise fail deep inside the assignment GEMM (after the
        # id-disjointness join already ran), and a metric mismatch would
        # silently re-route src vectors under dst's metric.
        src_cfg = self._read_config(src)
        for key in ("dimension", "metric"):
            if cfg.get(key) != src_cfg.get(key):
                raise ValueError(
                    f"merge_index: {key} mismatch — dst {dst!r} has "
                    f"{cfg.get(key)!r}, src {src!r} has {src_cfg.get(key)!r}"
                )
        base = IVFIndex.load(self.spark, self.data_path, dst)
        other = IVFIndex.load(self.spark, self.data_path, src)
        vecs = other.vectors.select("id", "vector")
        if check_ids:
            n_dup = base.vectors.select("id").join(vecs.select("id"), "id").count()
            if n_dup:
                raise ValueError(
                    f"merge_index: {n_dup} ids exist in both {dst!r} and "
                    f"{src!r}; remap src ids or pass check_ids=False to "
                    "accept duplicates"
                )
        new = base.add(vecs, id_col="id", vec_col="vector", activate=False)
        self._encode_delta_if_pq(cfg, new, seed)
        # same maintainer discipline as add_vectors: a merge writes a
        # delta epoch too, and SQ/BQ (or an out-of-band PQ) sidecar must
        # not go codeless on the new tip — a cold index would silently
        # stop cascading after its first shard merge
        for kind, enc in sidecar_maintainers(base):
            if kind == "pq" and cfg["m"] > 0:
                continue  # _encode_delta_if_pq above already encoded it
            if not getattr(new.manifest, kind):
                new.manifest = enc(new, "delta")
        if activate:
            new.manager.activate(new.epoch)
            if dst in self._indices:
                self.load_index(dst, new.epoch)
        return new.epoch

    def delete_vectors(
        self, index: str, ids=None, activate: bool = False, where: str | None = None
    ) -> int:
        """Delete by id (no reference analog — its mutable index is
        add-only): writes an O(delete-batch) tombstone delta epoch against
        the ACTIVE epoch. ``ids``: iterable of ints or a DataFrame whose
        first column is the id; alternatively ``where`` is a SQL predicate
        over the index rows (columns id, vector, list_id) whose matches
        are tombstoned — the retention/GDPR-sweep verb, resolved
        distributed (the matching ids never land on the driver). Like
        add_vectors, not auto-activated unless asked; compaction later
        materializes the deletions."""
        if (ids is None) == (where is None):
            raise ValueError("exactly one of ids= or where= required")
        self._read_config(index)
        base = IVFIndex.load(self.spark, self.data_path, index)
        if where is not None:
            ids = base.vectors.filter(where).select("id")
        new = base.delete(ids, activate=False)
        if activate:
            new.manager.activate(new.epoch)
            if index in self._indices:
                self.load_index(index, new.epoch)
        return new.epoch

    def retrain(
        self,
        index: str,
        seed: int = 42,
        max_iter: int = 10,
        activate: bool = False,
    ) -> int:
        """Re-cluster in place — the action half of the retrain-pressure
        signal (``index_health`` / quantization_health): train FRESH
        centroids on the CURRENT live view (delta chains folded,
        tombstones applied) and write a new full epoch, re-encoding every
        sidecar present on the old chain with its INHERITED train-time
        params (vectors are unchanged, so codebooks/quant params stay
        valid; only the list routing moves). No reference analog — its
        index never re-trains after build (engine/ivf_flat_index.cpp:148
        appends forever); this is the drift-repair verb a long-lived
        mutable index needs. Not auto-activated unless asked.

        A declared recall contract is RE-MEASURED, not inherited: fresh
        centroids change the list routing, so the old stamp is invalid
        by construction — the new epoch re-runs the tune on its own
        serving surface (flat one-pass, or the PQ ADC sweep for m > 0),
        exactly like build_epoch. The storage_regime stamp (a deployment
        property, independent of routing) carries over via build's
        ``storage=``."""
        cfg = self._read_config(index)
        base = IVFIndex.load(self.spark, self.data_path, index)
        maintainers = sidecar_maintainers(base)
        rt = cfg.get("recall_target")
        cold_flat = cfg.get("storage") == "cold" and cfg["m"] == 0
        idx = IVFIndex.build(
            base.vectors.select("id", "vector"),
            self.data_path,
            index,
            nlist=cfg["nlist"],
            metric=cfg["metric"],
            seed=seed,
            max_iter=max_iter,
            activate=False,
            # cold flat: tune below, after the sidecar re-encode, so the
            # sweep runs through the cascade-capable serving path
            recall_target=rt if cfg["m"] == 0 and not cold_flat else None,
            storage=cfg.get("storage"),
        )
        kinds = set()
        for kind, enc in maintainers:
            idx.manifest = enc(idx, "chain")
            kinds.add(kind)
        if cfg["m"] > 0 and "pq" not in kinds:
            IVFPQIndex.build_from_ivf(
                idx, m=cfg["m"], nbits=cfg["nbits"], seed=seed,
                rotate=bool(cfg.get("opq")),
                residual=bool(cfg.get("pq_residual")),
            )
        if rt is not None and (cfg["m"] > 0 or cold_flat):
            from .operators.ivf import tune_recall_handle

            if cfg["m"] > 0:
                tune_handle = IVFPQIndex.load(
                    self.spark, self.data_path, index, epoch=idx.epoch
                )
            else:
                idx.refresh_sidecars()
                tune_handle = idx
            tune_recall_handle(
                tune_handle, idx.vectors.select("id", "vector"), rt
            )
            idx.manifest = idx.manager.read_manifest(idx.epoch)
        if activate:
            idx.manager.activate(idx.epoch)
            if index in self._indices:
                self.load_index(index, idx.epoch)
        return idx.epoch

    def compact_index(self, index: str, activate: bool = False) -> int:
        """B7 compaction through the facade (declared-only in the
        reference: format/storage.h:160; indexmgr/CMakeLists.txt:12
        references an absent compactor.cpp): rewrite the ACTIVE chain —
        deltas folded, tombstones materialized — into one full epoch
        with coalesced per-list file chains, re-encoding every sidecar
        (PQ/SQ/BQ) present on the old chain with its inherited
        train-time artifacts, so a quantized index never activates a
        codeless epoch. Centroids and assignments are reused: layout
        changes, semantics never. The long-chain repair verb that keeps
        read amplification bounded after many ``add_vectors`` /
        ``delete_vectors`` / ``merge_index`` deltas. Not auto-activated
        unless asked. Returns the new epoch id."""
        self._read_config(index)
        base = IVFIndex.load(self.spark, self.data_path, index)
        maintainers = sidecar_maintainers(base)
        idx = base.compact(activate=False)
        for _kind, enc in maintainers:
            idx.manifest = enc(idx, "chain")
        if activate:
            idx.manager.activate(idx.epoch)
            if index in self._indices:
                self.load_index(index, idx.epoch)
        return idx.epoch

    def activate_epoch(self, index: str, epoch: int) -> None:
        """ActivateEpoch -> atomic `_ACTIVE` pointer swap
        (format/storage.cpp:351-375) + hot-reload into serving if loaded
        (server/query_service.cpp:515-519 delegates to the same path)."""
        self._read_config(index)  # existence check
        EpochManager(self.data_path, index).activate(epoch)
        if index in self._indices:
            self.load_index(index, epoch)

    def cleanup_epochs(self, index: str, keep: int = 3) -> list[int]:
        """Keep-newest-N epoch GC (format/storage.cpp:430-462)."""
        return EpochManager(self.data_path, index).cleanup(keep)

    def get_stats(self, index: str) -> dict:
        """GetStats -> StatsResponse shape (proto/vdb.proto:80-87)."""
        self._read_config(index)
        idx = self._indices.get(index)
        if idx is None or not isinstance(idx, IVFIndex):
            # stats come from the epoch's flat layout (raw vectors exist in
            # every epoch, PQ-encoded or not)
            idx = IVFIndex.load(
                self.spark,
                self.data_path,
                index,
                getattr(idx, "epoch", None),
            )
        st = idx.stats()
        # storage footprint stands in for the reference's gpu/nvme gauges —
        # summed over the whole delta CHAIN, matching the cumulative
        # total_vectors (the tip dir alone holds only the newest delta)
        nbytes = sum(
            os.path.getsize(os.path.join(r, fn))
            for e in idx.manager.epoch_chain(idx.epoch)
            for r, _d, fns in os.walk(idx.manager.epoch_dir(e))
            for fn in fns
        )
        return {
            "total_vectors": st["num_vectors"],
            "indexed_vectors": st["num_vectors"],
            "current_epoch": str(idx.epoch),
            "storage_bytes": nbytes,
            "nlist": st["nlist"],
            "dimension": st["dimension"],
            "metric": st["metric"],
        }

    def suggest_params(self, num_vectors: int) -> dict:
        """The reference's published scale-banded (nlist, nprobe)
        starting points (README.md:154-167) as a facade verb —
        ``metrics.suggest_index_params``; confirm nprobe with
        ``metrics.suggest_nprobe`` on a real query sample."""
        from . import metrics

        return metrics.suggest_index_params(num_vectors)

    def index_health(self, index: str) -> "DataFrame":
        """Per-list quantization health of the ACTIVE epoch: member count,
        mean/max distance to the trained centroid, and the mean runner-up
        margin (kmeans.quantization_health over the index's own centroids
        and stored vectors). Shrinking margins = vectors drifting toward
        list boundaries = nprobe recall decay ahead: the signal that says
        rebuild the epoch with fresh training data. One distributed pass
        over the corpus; no effect on serving state."""
        from .operators import kmeans

        idx = self._loaded(index)
        # both IVFIndex and IVFPQIndex expose .vectors (PQ keeps the raw
        # chain for rerank) and the trained coarse centroids
        # health is an L2-geometry measure regardless of the serving
        # metric: for IP/cosine indexes it reports Euclidean distortion
        # around the same trained centroids (the operator rejects non-L2
        # metrics by design — see kmeans.quantization_health)
        return kmeans.quantization_health(
            idx.vectors, idx.centroids, vec_col="vector"
        )

    # -- QueryService ------------------------------------------------------

    def load_index(
        self, index: str, epoch: int | None = None, variant: str | None = None
    ) -> None:
        """LoadIndex (server/query_service.cpp:218-265): construct the new
        handle fully, then swap it in — searches in flight keep the old
        DataFrame lineage; new searches see the new epoch.

        ``variant`` picks the serving encoding: "flat", "pq", "sq", "bq",
        or None for the config default (PQ when created with m > 0, flat
        otherwise)."""
        cfg = self._read_config(index)
        if variant is None:
            variant = "pq" if cfg["m"] > 0 else "flat"
        loader = IVFIndex if variant == "flat" else codecs().get(variant)
        if loader is None:
            raise ValueError(f"unknown index variant {variant!r}")
        handle = loader.load(self.spark, self.data_path, index, epoch)
        self._indices[index] = handle  # atomic swap (dict assignment)

    def _loaded(self, index: str) -> IVFIndex | IVFPQIndex:
        if not index:
            raise ValueError("Index name required")  # query_service.cpp:83-86
        idx = self._indices.get(index)
        if idx is None:
            raise LookupError(f"Index not loaded: {index}")  # NOT_FOUND :88-97
        return idx

    def search(
        self,
        index: str,
        queries: DataFrame,
        topk: int,
        nprobe: "int | None" = None,
        metric: str | None = None,
        rerank_exact: bool = False,
        rerank_k: int | None = None,
        where: str | None = None,
        mmr_lambda: float | None = None,
        mmr_pool: int | None = None,
        cascade: str = "auto",
    ) -> DataFrame:
        """Search (server/query_service.cpp:68-156): full request validation
        happens in the operator (topk 1..1000, non-empty batch, dimension
        check, metric default L2 / index default; nprobe unspecified =
        the manifest-stamped tuned operating point when the epoch carries
        one, else 8); wall latency and counts feed the metrics collector.

        ``mmr_lambda`` switches on maximal-marginal-relevance diversity
        re-ranking (operators/knn.mmr_rerank): a wider shortlist of
        ``mmr_pool`` candidates (default 4*topk) is searched first, then
        greedily re-ranked so near-identical hits don't crowd the top-k —
        the serving-time dedup verb for RAG contexts. 1.0 = pure
        relevance (input order), lower = more diversity.

        The result is materialized before latency is recorded so V7
        percentiles measure submit-to-complete like the reference
        (query_service.cpp:142-151), not just plan construction — and the
        caller gets a computed result whose re-use costs no second search.
        Every handle, flat or quantized, answers through ``search_local``:
        when the candidate bound fits ``knn.LOCAL_MERGE_MAX_ROWS`` the
        merge runs on the driver and the result is a local DataFrame
        (``isLocal()``), returned as is — the caller's ``collect`` runs no
        job. A flat handle's unfiltered request within that bound scans
        its driver-resident list tier: once its probed lists are held there
        (the first request to probe a list reads it in), the request runs
        one Spark job, the query batch's. Any other result (the SQ
        cascade, MMR, a merge above the bound) is materialized with an
        eager ``localCheckpoint``.

        ``cascade`` (r8; a PQ/SQ/BQ handle raises ``ValueError`` on any
        value but "auto"): "sq" routes a flat handle through the
        SQ8-shortlist + exact-rerank cascade (requires the sidecar —
        ``encode_sq`` refreshes loaded handles so it engages without a
        reload); "auto" (default) follows ivf.CASCADE_AUTO_DEFAULT,
        which is False — the r8 interleaved A/B refuted the cascade on
        local storage at every probe shape (see the constant's rationale
        and when a remote-storage deployment should flip it)."""
        idx = self._loaded(index)
        t0 = time.perf_counter()
        if mmr_lambda is not None:
            from .operators import knn as _knn

            # the shortlist is itself a topk request downstream, so the
            # default pool clamps to MAX_TOPK and an explicit mmr_pool is
            # validated HERE (topk <= mmr_pool <= MAX_TOPK) — otherwise the
            # internal shortlist fails validate_topk with a confusing
            # 'topk' error, or silently returns fewer than topk results
            if mmr_pool is not None and not (
                topk <= mmr_pool <= _knn.MAX_TOPK
            ):
                raise ValueError(
                    f"mmr_pool must be in [topk={topk}, {_knn.MAX_TOPK}], "
                    f"got {mmr_pool}"
                )
            pool = mmr_pool or min(max(4 * topk, topk), _knn.MAX_TOPK)
            shortlist = idx.search(
                queries,
                k=pool,
                nprobe=nprobe,
                metric=metric,
                rerank_exact=rerank_exact,
                rerank_k=rerank_k,
                where=where,
                cascade=cascade,
            ).select("query_id", "id", "distance")
            result = _knn.mmr_rerank(
                idx.vectors,
                shortlist,
                k=topk,
                lam=mmr_lambda,
                metric=metric or idx.manifest.metric,
            )
        else:
            result = idx.search_local(
                queries,
                k=topk,
                nprobe=nprobe,
                metric=metric,
                rerank_exact=rerank_exact,
                rerank_k=rerank_k,
                where=where,
                cascade=cascade,
            )
        if not result.isLocal():
            result = result.localCheckpoint(eager=True)
        self.metrics.record_search_latency(
            index, (time.perf_counter() - t0) * 1000.0
        )
        self.metrics.increment_search_count(index)
        return result

    def search_batch(self, index: str, requests: list[SearchRequest], **kw) -> DataFrame:
        """Heterogeneous per-request params (engine/ivf_flat_index.h:55);
        works over flat and PQ handles alike."""
        from .operators.ivf import run_search_batch

        idx = self._loaded(index)
        t0 = time.perf_counter()
        result = run_search_batch(idx, requests, index_name=index, **kw)
        self.metrics.record_search_latency(index, (time.perf_counter() - t0) * 1000.0)
        self.metrics.increment_search_count(index, len(requests))
        return result

    def range_search(
        self,
        index: str,
        queries: DataFrame,
        radius: float,
        metric: str | None = None,
        max_results: int | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Radius search (no reference analog — its proto is top-k only):
        every vector within ``radius`` of each query. IVF handles prune
        lists via covering radii; PQ/SQ handles fall back to an exact scan
        of the raw vectors (range semantics are exact by definition — a
        quantized radius test would change the result set)."""
        idx = self._loaded(index)
        t0 = time.perf_counter()
        if hasattr(idx, "range_search"):
            result = idx.range_search(
                queries, radius, metric=metric,
                max_results=max_results, where=where,
            )
        else:
            from .operators import knn

            vectors = idx.vectors
            if where is not None:
                vectors = vectors.filter(where)
            result = knn.range_search(
                vectors,
                queries,
                radius,
                metric=D.parse_metric(metric or idx.metric),
                max_results=max_results,
            )
        result = result.localCheckpoint(eager=True)
        self.metrics.record_search_latency(
            index, (time.perf_counter() - t0) * 1000.0
        )
        self.metrics.increment_search_count(index)
        return result

    def encode_sq(self, index: str, epoch: int | None = None) -> None:
        """Build SQ8 artifacts for an epoch (deterministic — no seed).
        Serve them directly via ``load_index(index, variant="sq")``, or
        keep serving the flat handle and pass ``cascade="sq"`` to
        ``search`` for the SQ8-shortlist + exact-rerank path (loaded
        flat handles on this epoch are refreshed here so the cascade is
        available without a reload)."""
        self._read_config(index)
        base = IVFIndex.load(self.spark, self.data_path, index, epoch)
        from .operators.sq import IVFSQIndex

        IVFSQIndex.build_from_ivf(base)
        loaded = self._indices.get(index)
        if isinstance(loaded, IVFIndex) and loaded.epoch == base.epoch:
            loaded.refresh_sidecars()

    def encode_bq(self, index: str, epoch: int | None = None) -> None:
        """Build 1-bit binary-quantization artifacts for an epoch
        (deterministic — no seed); serve them via
        ``load_index(index, variant="bq")``."""
        self._read_config(index)
        base = IVFIndex.load(self.spark, self.data_path, index, epoch)
        from .operators.bq import IVFBQIndex

        IVFBQIndex.build_from_ivf(base)

    def export_snapshot(
        self, index: str, out_dir: str, epoch: int | None = None
    ) -> dict:
        """Save verb (declared-only in the reference,
        ivf_flat_index.h:62-66): materialize the epoch's live view into a
        portable snapshot directory (sources/snapshot.py layout)."""
        self._read_config(index)
        idx = IVFIndex.load(self.spark, self.data_path, index, epoch)
        from .sources.snapshot import export_epoch

        return export_epoch(idx, out_dir)

    def import_snapshot(
        self, snapshot_dir: str, index: str | None = None, activate: bool = True
    ) -> int:
        """Load verb: import a snapshot as a fresh epoch of ``index``
        (default: the snapshot's own index name), creating the index config
        if the index is new. Returns the new epoch id."""
        from .sources.snapshot import import_snapshot as _import

        handle = _import(
            self.spark, snapshot_dir, self.data_path, index, activate=activate
        )
        name = handle.manager.index_name
        if not os.path.exists(self._config_path(name)):
            with open(self._config_path(name), "w") as f:
                json.dump(
                    {
                        "name": name,
                        "dimension": handle.manifest.dimension,
                        "metric": handle.manifest.metric,
                        "nlist": handle.manifest.nlist,
                        "m": 0,
                        "nbits": 8,
                    },
                    f,
                    indent=2,
                )
        if activate and name in self._indices:
            self.load_index(name, handle.epoch)
        return handle.epoch

    def warmup(self, index: str, lists: list[int] | None = None) -> DataFrame:
        """Warmup (proto/vdb.proto:41-45): preload lists into the cache;
        defaults to the LFU-hot lists when none are given. For PQ handles
        the codes DataFrame (the scan side of ADC) is cached instead."""
        idx = self._loaded(index)
        if hasattr(idx, "warmup"):
            return idx.warmup(lists)
        df = idx.codes
        if lists is not None:
            from pyspark.sql import functions as F

            df = df.filter(F.col("list_id").isin([int(x) for x in lists]))
        df = df.cache()
        df.count()
        return df

    def set_warm_budget(self, index: str, budget_bytes: int | None) -> list:
        """V9 capacity policy on a loaded index: cap the warm cache at
        ``budget_bytes`` (None clears the cap), evicting the coldest warm
        sets immediately and on every future warmup — the GpuCache LFU
        policy the reference declares (engine/ivf_flat_index.h:191-222).
        Returns the evicted set keys. PQ handles have no warm registry;
        setting a budget on one is a validated no-op."""
        idx = self._loaded(index)
        if hasattr(idx, "set_warm_budget"):
            return idx.set_warm_budget(budget_bytes)
        return []

    def health(self) -> dict:
        """V8 health over every loaded index (streaming/flow.py)."""
        from .streaming.flow import health_check

        return health_check(self.spark, self._indices)

    def watch_health(self, on_update=None):
        """V8 Watch (server/health_service.cpp:37-79): register a
        ``HealthWatch`` listener that pushes a fresh health payload — over
        THIS engine's loaded indices — on every streaming lifecycle event.
        Returns the listener; pass it to ``unwatch_health`` to detach."""
        from .streaming.flow import HealthWatch

        watch = HealthWatch(self.spark, self._indices, on_update)
        self.spark.streams.addListener(watch)
        return watch

    def unwatch_health(self, watch) -> None:
        self.spark.streams.removeListener(watch)
