"""The quantized-list index shell shared by PQ, SQ8 and BQ.

The reference declares ONE compressed index, IVFPQIndex
(engine/ivf_flat_index.h:107-189), with the search path of IVF-Flat:
probe ``nprobe`` lists, scan their codes, merge top-k, optionally
re-score exactly; only the list score differs (the ADC scan,
engine/kernels.cuh:226-312). Here too every codec searches through the
flat handle's frame (``ivf.ProbedSearch``): the one ``_list_scanner``
kernel runs over the probed code lists with the codec's list score, and
a rerank joins the shortlist back to the probed raw vectors
(``ivf.ProbedScan.merge``). ``CodeIndex`` owns the epoch plumbing (lazy
relations, load, delta/chain encodes, sidecar maintenance). A codec
keeps only what is its own:

- ``kind``: the manifest field, codes dir and recall-stamp surface;
- training (``build_from_ivf``) and its ``encode_epoch`` signature;
- ``encode_frame``: its distributed encoder (all of them run the one
  ``encode_codes`` writer with their own batch encoder);
- ``code_width``, ``stamp``, ``write_params`` / ``read_params``;
- ``list_scorer``: the scan's decode and per-list score hooks.

Scope semantics: a scope="chain" encode (full build or compaction
re-encode) covers the epoch's whole chain and serves alone; a
scope="delta" encode (``encode_delta``) covers only this epoch's own
vectors — the O(delta) maintenance step for incremental adds — and
readers fold the chain (``sources.epochs.fold_chain_codes``). Params
(codebooks, [vmin, vmax], thresholds) are train-time artifacts like
centroids: delta encodes and tombstone-only tips take them from the
nearest encoded ancestor.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..sources.epochs import (
    EpochManager,
    Manifest,
    fold_chain_codes,
    nearest_sidecar_epoch,
    read_list_leg,
    sidecar_paths,
    write_list_partitioned,
)
from .ivf import IVFIndex, ProbedSearch


def encode_codes(
    df: DataFrame,
    encode_batch,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """Distributed encode: {id[, list_id], vector} -> {id[, list_id], codes}
    with ``encode_batch`` mapping an (n, d) float block to (n, width) uint8
    codes, packed as a binary column of ``width`` bytes per row."""
    cols = [id_col] + ([list_col] if list_col else []) + [vec_col]
    out_schema = (
        f"{id_col} long, " + (f"{list_col} int, " if list_col else "") + "codes binary"
    )

    def enc(batches):
        import pyarrow as pa

        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes = encode_batch(AK.list_matrix(rb, vec_col))
            out = {id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64())}
            if list_col:
                out[list_col] = pa.array(AK.column(rb, list_col, np.int32), pa.int32())
            # one contiguous buffer + arithmetic offsets: no bytes objects
            flat = pa.py_buffer(np.ascontiguousarray(codes).tobytes())
            offs = pa.py_buffer(
                (np.arange(len(codes) + 1, dtype=np.int32) * codes.shape[1]).tobytes()
            )
            out["codes"] = pa.BinaryArray.from_buffers(
                pa.binary(), len(codes), [None, offs, flat]
            )
            yield AK.batch(**out)

    return df.select(*cols).mapInArrow(enc, schema=out_schema)


@dataclass(kw_only=True)
class CodeIndex(ProbedSearch):
    """IVF coarse structure + one codec's encoded lists in the same epoch
    dir. Subclasses add their param fields (named as in ``read_params``)."""

    kind = ""  # "pq" | "sq" | "bq" — set by each codec
    # quantized ordering differs from exact ordering -> the one-pass recall
    # sweep's prefix-rank argument does not hold; tune per-candidate
    scan_is_exact = False

    spark: SparkSession
    manager: EpochManager
    epoch: int
    centroids: np.ndarray
    metric: str
    nlist: int
    dimension: int
    # same handle surface as IVFIndex: health checks (streaming/flow.py) and
    # stream serving (search_stream.py) read .manifest on any loaded index
    manifest: "Manifest" = None
    # codes {id, list_id, codes} and raw vectors (for rerank) resolve
    # lazily: file listing + schema inference deferred to first access,
    # keeping handle construction off the build/serve critical path
    _codes: DataFrame | None = None
    _vectors: DataFrame | None = None

    @property
    def surface(self) -> str:
        """Recall-stamp namespace (ivf.resolve_nprobe): this handle serves
        its own code scan, so it resolves/stamps its kind's nprobe only."""
        return self.kind

    @property
    def codes(self) -> DataFrame:
        """The chain's LIVE codes — base->tip fold over delta/tombstone
        epochs (``sources.epochs.fold_chain_codes``)."""
        if self._codes is None:
            self._codes = fold_chain_codes(
                self.spark, self.manager, self.epoch, self.kind
            )
        return self._codes

    @property
    def vectors(self) -> DataFrame:
        if self._vectors is None:
            self._vectors = self.manager.read_vectors(self.spark, self.epoch)
        return self._vectors

    @property
    def lists_per_bucket(self) -> "int | None":
        """Two-level-layout bucket width for this chain (None = flat)."""
        if not hasattr(self, "_lpb_cache"):
            self._lpb_cache = self.manager.chain_lists_per_bucket(self.epoch)
        return self._lpb_cache

    # -- codec hooks (see the module docstring) ---------------------------
    @property
    def code_width(self) -> int:  # bytes per encoded vector
        raise NotImplementedError

    @classmethod
    def encode_frame(cls, src: DataFrame, centroids: np.ndarray, params: dict):
        raise NotImplementedError

    @classmethod
    def stamp(cls, params: dict, scope: str) -> dict:
        raise NotImplementedError

    @classmethod
    def write_params(cls, mgr: EpochManager, epoch: int, params: dict) -> None:
        raise NotImplementedError

    @classmethod
    def read_params(cls, spark: SparkSession, mgr: EpochManager, epoch: int) -> dict:
        raise NotImplementedError

    def list_scorer(self, Q: np.ndarray, metric: str):
        """Driver-side: return ``(decode, score)`` for the search scan
        (``ivf._list_scanner``). ``decode(codes)`` maps a batch's (n,
        code_width) codes to the rows scored, None keeping the codes;
        ``score(rows, list_id, qidx, ws)`` gives the (n, len(qidx)) scores
        of one list's rows against ``Q[qidx]``, which the scan reports.
        A None score scores decoded float rows as the flat scan does. Both
        run in executors, so they must not capture self."""
        raise NotImplementedError

    # -- handles -----------------------------------------------------------
    @classmethod
    def _handle(
        cls,
        spark: SparkSession,
        mgr: EpochManager,
        epoch: int,
        manifest: Manifest,
        centroids: np.ndarray,
        params: dict,
    ) -> "CodeIndex":
        return cls(
            spark=spark,
            manager=mgr,
            epoch=epoch,
            centroids=centroids,
            metric=manifest.metric,
            nlist=manifest.nlist,
            dimension=manifest.dimension,
            manifest=manifest,
            **params,
        )

    @classmethod
    def params_epoch(
        cls, mgr: EpochManager, epoch: int, manifest: Manifest
    ) -> "int | None":
        """The epoch whose params serve ``epoch``: the epoch itself, or —
        for a tombstone-only tip, which carries no codes — the nearest
        encoded ancestor (the codes fold looks through it the same way)."""
        if getattr(manifest, cls.kind):
            return epoch
        if manifest.num_tombstones > 0:
            return nearest_sidecar_epoch(mgr, epoch, cls.kind)
        return None

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        base_dir: str,
        index_name: str,
        epoch: int | None = None,
    ) -> "CodeIndex":
        mgr = EpochManager(base_dir, index_name)
        epoch = mgr.resolve_epoch(epoch)
        manifest = mgr.read_manifest(epoch)
        src = cls.params_epoch(mgr, epoch, manifest)
        if src is None:
            raise ValueError(
                f"epoch {epoch} has no {cls.kind.upper()} artifacts — run "
                "build_from_ivf on the (possibly chained) epoch tip first"
            )
        params = cls.read_params(spark, mgr, src)
        return cls._handle(
            spark, mgr, epoch, manifest, mgr.read_centroids(spark, epoch), params
        )

    @classmethod
    def attach(cls, ivf_index: IVFIndex) -> "CodeIndex | None":
        """This codec's handle over an already-loaded ``IVFIndex`` (same
        epoch, its centroids and in-memory manifest), or None when the
        chain has no such sidecar. Same resolution rule as ``load``; the
        only extra I/O is the params file."""
        mgr = ivf_index.manager
        src = cls.params_epoch(mgr, ivf_index.epoch, ivf_index.manifest)
        if src is None:
            return None
        return cls._handle(
            ivf_index.spark, mgr, ivf_index.epoch, ivf_index.manifest,
            ivf_index.centroids, cls.read_params(ivf_index.spark, mgr, src),
        )

    # -- encoding ----------------------------------------------------------
    @classmethod
    def encode_params(
        cls, ivf_index: IVFIndex, params: dict, scope: str = "chain"
    ) -> "CodeIndex":
        """Encode with GIVEN params (no training), persist codes + params
        alongside the epoch, stamp the manifest.

        ``scope="chain"`` encodes the full unioned corpus into this epoch's
        codes dir (it then serves the whole chain alone). ``scope="delta"``
        encodes ONLY this epoch's own vectors — the O(delta) maintenance
        step for incremental adds; readers fold the chain's code dirs."""
        mgr = ivf_index.manager
        epoch = ivf_index.epoch
        src = (
            read_list_leg(ivf_index.spark, mgr.vectors_path(epoch))
            if scope == "delta"
            else ivf_index.vectors
        )
        codes = cls.encode_frame(src, ivf_index.centroids, params)
        # same layout policy as the vector epoch write (flat per-list dirs
        # at small nlist, two-level list_bucket dirs above MAX_LIST_DIRS),
        # token-routed so every write task carries exactly one output dir
        write_list_partitioned(
            codes, sidecar_paths(mgr, cls.kind)(epoch),
            ivf_index.manifest.nlist, "overwrite",
        )
        cls.write_params(mgr, epoch, params)
        manifest = mgr.read_manifest(epoch)
        setattr(manifest, cls.kind, cls.stamp(params, scope))
        with open(mgr.manifest_path(epoch), "w") as f:
            f.write(manifest.to_json())
        # construct the handle directly from what is already in memory —
        # load would re-collect centroids + params from parquet (driver
        # jobs) for values this function just wrote; only the codes
        # relation is re-read from disk (that IS the new artifact)
        return cls._handle(
            ivf_index.spark, mgr, epoch, manifest, ivf_index.centroids, params
        )

    @classmethod
    def encode_delta(cls, ivf_index: IVFIndex) -> "CodeIndex":
        """O(delta) maintenance for a delta epoch: encode ONLY this epoch's
        own vectors with the params INHERITED from the nearest encoded
        ancestor. Params are train-time artifacts — exactly like
        centroids, the reference's ``add()`` never retrains them
        (engine/ivf_flat_index.cpp:148-202 appends to existing lists) — so
        an incremental add costs one delta-sized encode pass, stays
        bit-deterministic w.r.t. the original build, and the params are
        copied into the delta epoch dir so every servable epoch remains
        self-contained. Drifted values clip to the trained params; retrain
        via compaction + build_from_ivf when drift matters."""
        mgr = ivf_index.manager
        if ivf_index.manifest.parent_epoch is None:
            raise ValueError(
                "encode_delta requires a delta epoch; full epochs train via "
                "build_from_ivf or encode via encode_epoch"
            )
        anc = nearest_sidecar_epoch(mgr, ivf_index.epoch, cls.kind)
        if anc is None:
            raise ValueError(
                f"no {cls.kind.upper()}-encoded ancestor in the chain of epoch "
                f"{ivf_index.epoch}; run build_from_ivf first"
            )
        params = cls.read_params(ivf_index.spark, mgr, anc)
        return cls.encode_params(ivf_index, params, scope="delta")

    # -- search (ProbedSearch) ---------------------------------------------
    def _scan_source(self, Q: np.ndarray, metric: str):
        decode, score = self.list_scorer(Q, metric)
        width = self.code_width

        def rows(rb):
            from ..functions import arrowkit as AK

            codes = AK.binary_matrix(rb, "codes", width)
            return codes if decode is None else decode(codes)

        return self.codes, (rows, score)


def codecs() -> "dict[str, type[CodeIndex]]":
    """The codec registry: manifest kind -> handle class, in maintenance
    order. Imported on call — the codec modules import this one."""
    from .bq import IVFBQIndex
    from .pq import IVFPQIndex
    from .sq import IVFSQIndex

    return {c.kind: c for c in (IVFPQIndex, IVFSQIndex, IVFBQIndex)}


def sidecar_maintainers(idx: IVFIndex):
    """[(kind, encode(new_ivf, scope) -> Manifest)] for every sidecar
    encoding present on ``idx``'s chain, each bound to its inherited
    params. The tip usually carries the artifacts; a tombstone-only or
    not-yet-encoded tip does not — look through the chain. Discovery reads
    manifests only; params are read only for kinds that are present."""
    mgr = idx.manager
    out = []
    for kind, cls in codecs().items():
        src = (
            idx.epoch
            if getattr(idx.manifest, kind)
            else nearest_sidecar_epoch(mgr, idx.epoch, kind)
        )
        if src is None:
            continue
        params = cls.read_params(idx.spark, mgr, src)
        out.append((
            kind,
            lambda new, scope, cls=cls, params=params:
                cls.encode_params(new, params, scope=scope).manifest,
        ))
    return out
