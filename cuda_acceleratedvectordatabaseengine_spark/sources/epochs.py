"""Epoch-versioned immutable index storage (F4/F5, SURVEY.md §2.4).

Reference semantics matched (format/storage.cpp:318-579):
- an index build produces an IMMUTABLE, versioned epoch directory;
- exactly one epoch is active at a time; activation is an atomic pointer
  swap (zero-downtime, storage.cpp:351-375) — here a tmp-file + rename of
  an ``_ACTIVE`` pointer file;
- garbage collection keeps the newest 3 epochs (storage.cpp:430-434) and
  never deletes the active one;
- a JSON manifest per epoch records index params + shard list + created_at
  (format/storage.cpp:22-132).

Layout (parquet partitioning gives the per-list "shards" of
format/storage.h:124-173 for free):

    {base_dir}/{index_name}/
        _ACTIVE                      # contains the active epoch id
        epoch=1/
            manifest.json
            centroids.parquet        # {list_id, centroid[]}
            vectors/                 # parquet partitioned by list_id
                list_id=0/...parquet
        epoch=2/...

At 100 TB the base_dir is an object-store prefix; the pointer-file pattern,
partitioned layout, and manifest survive unchanged (rename-on-write becomes
a conditional put).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEEP_EPOCHS = 3  # format/storage.cpp:430-434
ACTIVE_FILE = "_ACTIVE"


class AtomicFilePointer:
    """Default active-epoch pointer discipline: a tmp-file write followed
    by ``os.replace`` of an ``_ACTIVE`` file — atomic on POSIX
    filesystems (and on NFSv4), so a reader observes either the old
    pointer or the new one, never a torn write.

    **Object-store caveat (s3a/gs/abfs)**: rename there is copy+delete,
    NOT atomic — a reader racing ``write`` can observe a missing or
    half-visible pointer. For an index root on an object store, inject a
    pointer built on the store's own conditional primitive (S3
    ``If-None-Match``/``If-Match`` conditional put, GCS generation
    preconditions, DynamoDB/etcd CAS) via
    ``EpochManager(..., pointer=...)`` — the three-method protocol below
    is the full contract. Manifest/data writes don't need this: epoch
    dirs are immutable once written and only the pointer mutates."""

    def read(self, index_dir: str) -> "int | None":
        p = os.path.join(index_dir, ACTIVE_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def write(self, index_dir: str, epoch: int) -> None:
        p = os.path.join(index_dir, ACTIVE_FILE)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch))
        os.replace(tmp, p)

    def clear(self, index_dir: str) -> None:
        p = os.path.join(index_dir, ACTIVE_FILE)
        if os.path.exists(p):
            os.remove(p)


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of a single 4-byte int block — bit-for-bit what Spark's
    ``Murmur3Hash`` (and ``F.hash``) computes for an IntegerType column, and
    therefore what ``HashPartitioning`` uses to place rows. Pinned against
    ``F.hash`` by tests/test_ivf.py so a Spark-side change can't silently
    diverge."""
    M = 0xFFFFFFFF
    k = (x & M) * 0xCC9E2D51 & M
    k = ((k << 15) | (k >> 17)) & M
    k = k * 0x1B873593 & M
    h = (seed ^ k) & M
    h = ((h << 13) | (h >> 19)) & M
    h = (h * 5 + 0xE6546B64) & M
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & M
    h ^= h >> 13
    h = h * 0xC2B2AE35 & M
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h  # signed int32


def partition_tokens(nlist: int, search_factor: int = 256) -> list[int] | None:
    """For every shuffle slot ``l`` in [0, nlist), an int token ``t`` with
    ``pmod(murmur3(t), nlist) == l``.

    ``repartition(nlist, "list_id")`` hash-places the nlist distinct keys
    into nlist partitions — balls-in-bins, so ~1/e of the write tasks sit
    idle while the unluckiest one carries 3-4 inverted lists (a measured
    2-4x straggler on the epoch-write critical path). Routing the shuffle
    on ``token[list_id]`` instead puts EACH LIST IN ITS OWN TASK exactly.
    Token search is driver-side arithmetic (coupon-collector, ~nlist·ln
    nlist hashes); returns None if coverage fails so the caller can fall
    back to plain hash partitioning."""
    tokens: list[int | None] = [None] * nlist
    found = 0
    for t in range(search_factor * nlist):
        slot = _murmur3_int32(t) % nlist  # == Spark Pmod for positive nlist
        if tokens[slot] is None:
            tokens[slot] = t
            found += 1
            if found == nlist:
                return tokens  # type: ignore[return-value]
    return None


# above this nlist the token lookup joins a broadcast mapping instead of
# inlining an nlist-element array literal: the literal is evaluated per row
# and its codegen/plan size grows with nlist — fine at 128, pathological at
# tens of thousands of lists
ROUTING_LITERAL_MAX = 4096

# Above this many lists the epoch layout switches from one
# ``list_id=<l>/`` dir per list to a TWO-LEVEL layout: ``list_bucket=<b>/``
# dirs each holding ``lists_per_bucket`` contiguous lists, with list_id a
# plain (sorted) parquet column inside. Rationale (PERF.md 4.8M probe):
# the flat layout's write cost is O(nlist) dirs+tasks+files — nlist=1024
# costs 2.4x nlist=128 at identical data volume, and the reference's own
# tuning table prescribes nlist 4096-16384 at 100M+ vectors
# (README.md:154-167). The bucketed write is O(MAX_LIST_DIRS) dirs; probe
# pruning keeps both levels: partition pruning on list_bucket + a pushed
# list_id filter that skips row groups via the within-file sort.
MAX_LIST_DIRS = 256


def lists_per_bucket(nlist: int) -> int | None:
    """Bucket width for the two-level epoch layout, or None for the flat
    one-dir-per-list layout (nlist <= MAX_LIST_DIRS). Derived purely from
    nlist so writers and readers agree without coordination; the value is
    also stamped into the manifest (``extra["lists_per_bucket"]``) so a
    future change of MAX_LIST_DIRS cannot orphan old epochs."""
    cap = MAX_LIST_DIRS  # module attribute: monkeypatchable in tests
    if nlist <= cap:
        return None
    return -(-nlist // cap)  # ceil


def route_to_key_partitions(
    df: DataFrame,
    nkeys: int,
    key_col: str,
    literal_max: int = ROUTING_LITERAL_MAX,
) -> DataFrame:
    """Shuffle ``df`` into exactly ``nkeys`` partitions with EACH value of
    ``key_col`` (dense ints [0, nkeys)) alone in its own partition (token
    routing via ``partition_tokens``; falls back to plain hash partitioning
    if token coverage fails). Used by the epoch writes so every write task
    carries exactly one output dir's rows.

    Small ``nkeys``: the key -> token map is an inline array literal
    (zero extra plan nodes). Large ``nkeys``: a broadcast equi-join against
    the O(nkeys) mapping relation — same routing, bounded expression size."""
    tokens = partition_tokens(nkeys)
    if tokens is None:
        return df.repartition(nkeys, key_col)
    if nkeys <= literal_max:
        routed = df.withColumn(
            "__slot",
            F.element_at(
                F.array(*[F.lit(int(t)) for t in tokens]), F.col(key_col) + 1
            ),
        )
    else:
        mapping = df.sparkSession.createDataFrame(
            [(i, int(t)) for i, t in enumerate(tokens)],
            f"{key_col} int, __slot int",
        )
        routed = df.join(F.broadcast(mapping), key_col).select(
            *df.columns, "__slot"
        )
    return routed.repartition(nkeys, "__slot").drop("__slot")


def route_to_list_partitions(
    df: DataFrame, nlist: int, literal_max: int = ROUTING_LITERAL_MAX
) -> DataFrame:
    """Back-compat wrapper: route on ``list_id`` (flat layout)."""
    return route_to_key_partitions(df, nlist, "list_id", literal_max)


def write_list_partitioned(
    df: DataFrame, path: str, nlist: int, mode: str
) -> int | None:
    """Write an inverted-list relation (any schema containing ``list_id``)
    under ``path`` in the layout appropriate for ``nlist``; returns the
    ``lists_per_bucket`` used (None = flat).

    Flat (nlist <= MAX_LIST_DIRS): ``partitionBy("list_id")``, one dir +
    one task + one file chain per list — finest pruning granularity.

    Bucketed (nlist > MAX_LIST_DIRS): ``partitionBy("list_bucket")`` with
    ``list_bucket = list_id div lists_per_bucket`` and rows sorted by
    ``list_id`` within each bucket file, so a probe's list_id filter skips
    whole row groups from parquet min/max stats. Write cost is
    O(MAX_LIST_DIRS) dirs/tasks/files regardless of nlist — the layout the
    reference's nlist=4096-16384 tuning presumes at 100M+ vectors."""
    lpb = lists_per_bucket(nlist)
    if "list_bucket" in df.columns:  # never trust an inherited bucket col
        df = df.drop("list_bucket")
    if lpb is None:
        route_to_key_partitions(df, nlist, "list_id").write.mode(
            mode
        ).partitionBy("list_id").parquet(path)
        return None
    n_buckets = -(-nlist // lpb)
    bucketed = df.withColumn(
        "list_bucket", F.expr(f"int(list_id div {int(lpb)})")
    )
    (
        route_to_key_partitions(bucketed, n_buckets, "list_bucket")
        .sortWithinPartitions("list_id")
        .write.mode(mode)
        .partitionBy("list_bucket")
        .parquet(path)
    )
    return lpb


def normalize_list_layout(df: DataFrame, lpb: int | None) -> DataFrame:
    """Give every epoch leg the SAME columns regardless of its on-disk
    layout, so chain legs union cleanly: under a bucketed chain (lpb set)
    a flat-written leg gains a derived ``list_bucket``; under a flat chain
    a stray ``list_bucket`` partition column is dropped."""
    if lpb is None:
        return df.drop("list_bucket") if "list_bucket" in df.columns else df
    if "list_bucket" not in df.columns:
        return df.withColumn(
            "list_bucket", F.expr(f"int(list_id div {int(lpb)})")
        )
    return df


# the Spark schema its parquet writer stamps into every file footer
_SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
TOMBSTONE_SCHEMA = "id long"


def read_list_leg(spark: SparkSession, path: str) -> DataFrame:
    """Read an inverted-list leg (``write_list_partitioned`` output) with
    the schema its layout implies: the row schema Spark stamped in a file
    footer, read on the driver, plus the int ``list_id`` / ``list_bucket``
    partition column. A plain ``spark.read.parquet`` would first run a
    one-task schema-inference job per leg, on every freshly loaded chain.
    A leg without such a footer is read with inference."""
    import pyarrow.parquet as papq
    from pyspark.sql import types as T

    def listing(d):
        return sorted(os.scandir(d), key=lambda e: e.name)

    top = listing(path)
    part = next((
        e for e in top
        if e.is_dir() and e.name.partition("=")[0] in ("list_id", "list_bucket")
    ), None)
    files = [
        e.path for e in (top if part is None else listing(part.path))
        if e.is_file() and e.name.endswith(".parquet")
        and not e.name.startswith(("_", "."))
    ]
    meta = papq.read_schema(files[0]).metadata if files else None
    raw = (meta or {}).get(_SPARK_ROW_SCHEMA_KEY)
    if raw is None:
        return spark.read.parquet(path)
    schema = T.StructType.fromJson(json.loads(raw))
    if part is not None:
        schema = schema.add(part.name.partition("=")[0], T.IntegerType())
    return spark.read.schema(schema).parquet(path)


PACKED_F32 = "packed_f32"


def vector_layout_of(df: DataFrame, vec_col: str = "vector") -> str:
    """Physical layout of a vector column: ``"packed_f32"`` (binary) or
    ``"list"`` (array<float> — the logical schema)."""
    from pyspark.sql import types as T

    return (
        PACKED_F32
        if isinstance(df.schema[vec_col].dataType, T.BinaryType)
        else "list"
    )


def _with_vec_type(df: DataFrame, vec_col: str, dtype):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(f.name, dtype if f.name == vec_col else f.dataType,
                          f.nullable)
            for f in df.schema.fields
        ]
    )


def pack_vectors(df: DataFrame, vec_col: str = "vector") -> DataFrame:
    """array<float> -> packed float32-LE binary (no-op when already
    packed). The Arrow transfer of a binary column is one memcpy per row
    vs per-ELEMENT writes for a list column — measured ~1.9x on the scan
    shape (scripts/ab_binary_layout.py, PERF.md r9).

    Precision: the packed layout stores float32 by definition, so an
    ``array<double>`` source is DOWNCAST (a warning is emitted here) —
    layout parity with a list epoch, which stores the source dtype as-is,
    holds exactly only for float32 sources. The reference stores float32
    everywhere (format/storage.h), so this matches its precision."""
    from pyspark.sql import types as T

    if vector_layout_of(df, vec_col) == PACKED_F32:
        return df
    elem = df.schema[vec_col].dataType.elementType
    if isinstance(elem, T.DoubleType):
        import warnings

        warnings.warn(
            f"pack_vectors: {vec_col!r} is array<double>; packed_f32 "
            "stores float32 — values are downcast, unlike a list-layout "
            "epoch which would store doubles as-is",
            stacklevel=2,
        )
    from ..functions import arrowkit as AK

    return df.mapInArrow(
        AK.pack_f32_transform(vec_col),
        schema=_with_vec_type(df, vec_col, T.BinaryType()),
    )


def unpack_vectors(df: DataFrame, vec_col: str = "vector") -> DataFrame:
    """packed binary -> array<float> (no-op when already a list) — export
    paths (snapshot hand-off) and layout migration."""
    from pyspark.sql import types as T

    if vector_layout_of(df, vec_col) != PACKED_F32:
        return df
    from ..functions import arrowkit as AK

    return df.mapInArrow(
        AK.unpack_f32_transform(vec_col),
        schema=_with_vec_type(
            df, vec_col, T.ArrayType(T.FloatType(), containsNull=False)
        ),
    )


def prune_lists(df: DataFrame, lists, lpb: int | None) -> DataFrame:
    """The probe-pruned scan filter for either layout: always the
    ``list_id`` membership filter (partition pruning when flat, row-group
    skipping when bucketed), plus the ``list_bucket`` membership filter
    when the layout is two-level (partition pruning on the bucket dirs).
    Every search/rerank/warmup path MUST prune through here — a bare
    list_id filter on a bucketed epoch silently reads every bucket dir's
    footer."""
    lists = sorted({int(x) for x in lists})
    cond = F.col("list_id").isin(lists)
    if lpb and "list_bucket" in df.columns:
        buckets = sorted({l // int(lpb) for l in lists})
        cond = F.col("list_bucket").isin(buckets) & cond
    return df.filter(cond)


@dataclass
class Manifest:
    """Mirrors format/storage.h:15-42 (IndexManifest).

    ``parent_epoch`` marks a DELTA epoch (incremental add,
    engine/ivf_flat_index.cpp:148-202): the epoch dir holds only the newly
    added vectors and the reader unions the parent chain. ``num_vectors``
    is always the CUMULATIVE count over the chain."""

    index_name: str
    epoch: int
    dimension: int
    metric: str
    nlist: int
    num_vectors: int
    created_at_ns: int
    pq: dict[str, Any] | None = None  # {"m": int, "nbits": int} when PQ-encoded
    # {"nbits": 8} when SQ8-encoded (operators/sq.py); like ``pq`` this marks
    # a sidecar encoding of the same epoch, not a different corpus
    sq: dict[str, Any] | None = None
    # {"nbits": 1} when binary-quantized (operators/bq.py) — a third
    # sidecar encoding tier alongside pq/sq
    bq: dict[str, Any] | None = None
    parent_epoch: int | None = None
    # > 0 marks a TOMBSTONE delta epoch: ``tombstones.parquet`` holds ids
    # deleted from the ANCESTOR chain (a later re-add of the same id wins —
    # readers fold the chain base->tip). ``num_vectors`` stays the live
    # cumulative count. The reference's mutable index has no delete at all;
    # immutable epochs get one for free via tombstones + compaction.
    num_tombstones: int = 0
    extra: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "Manifest":
        return cls(**json.loads(s))


class EpochManager:
    def __init__(
        self,
        base_dir: str,
        index_name: str,
        pointer: "AtomicFilePointer | None" = None,
    ):
        self.base_dir = base_dir
        self.index_name = index_name
        self.index_dir = os.path.join(base_dir, index_name)
        # pluggable active-pointer discipline — see AtomicFilePointer for
        # the protocol and the object-store caveat it exists to address
        self.pointer = pointer if pointer is not None else AtomicFilePointer()

    # -- paths ------------------------------------------------------------
    def epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.index_dir, f"epoch={epoch}")

    def manifest_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "manifest.json")

    def vectors_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "vectors")

    def centroids_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "centroids.parquet")

    def codes_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "pq_codes")

    def codebooks_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "codebooks.parquet")

    def rotation_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "pq_rotation.parquet")

    def sq_codes_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "sq_codes")

    def sq_params_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "sq_params.parquet")

    def bq_codes_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "bq_codes")

    def bq_params_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "bq_params.parquet")

    def tombstones_path(self, epoch: int) -> str:
        return os.path.join(self.epoch_dir(epoch), "tombstones")

    # -- lifecycle (F5) ----------------------------------------------------
    def list_epochs(self) -> list[int]:
        if not os.path.isdir(self.index_dir):
            return []
        out = []
        for name in os.listdir(self.index_dir):
            if name.startswith("epoch="):
                try:
                    out.append(int(name.split("=", 1)[1]))
                except ValueError:
                    continue
        return sorted(out)

    def next_epoch(self) -> int:
        """The id the next epoch WOULD get — a read-only forecast.
        Writers must not use this directly (list-then-increment races
        between concurrent jobs on one index root); ``reserve_epoch``
        is the claiming form."""
        epochs = self.list_epochs()
        return (epochs[-1] + 1) if epochs else 1

    def reserve_epoch(self) -> int:
        """Claim the next epoch id by creating its directory with
        ``exist_ok=False`` — mkdir is the POSIX compare-and-swap, so two
        concurrent writers on the same index root (two spark-submit
        build jobs, the usage deploy/spark-submit.md documents) can
        never both claim epoch N+1: the loser gets FileExistsError,
        rescans, and claims N+2. All epoch-writing paths go through
        here; a writer that dies after reserving leaves an empty
        ``epoch=N`` dir with no manifest, which readers never resolve
        (only ``_ACTIVE``/chain traversal reaches an epoch) and
        ``cleanup`` eventually retires.

        **Object-store caveat**: s3a and friends have no real
        directories and no atomic mkdir — this CAS holds on POSIX/NFS
        roots only. On an object store, run single-writer per index
        root (the deploy recipes' default) or front epoch allocation
        with an external lock; the same caveat as the ``_ACTIVE``
        pointer (see AtomicFilePointer)."""
        while True:
            epoch = self.next_epoch()
            try:
                os.makedirs(self.epoch_dir(epoch), exist_ok=False)
                return epoch
            except FileExistsError:
                continue  # lost the race — rescan and claim the next id

    def active_epoch(self) -> int | None:
        return self.pointer.read(self.index_dir)

    def activate(self, epoch: int) -> None:
        """Atomic pointer swap — single-active invariant
        (format/storage.cpp:351-375). Atomicity is the pointer
        discipline's contract: the default AtomicFilePointer is
        tmp+rename (atomic on POSIX, NOT on object stores — see its
        docstring for the conditional-put injection point)."""
        if epoch not in self.list_epochs():
            raise ValueError(f"epoch {epoch} does not exist for {self.index_name}")
        self.pointer.write(self.index_dir, epoch)

    def deactivate(self) -> None:
        self.pointer.clear(self.index_dir)

    def epoch_chain(self, epoch: int | None = None) -> list[int]:
        """The delta chain of ``epoch``, base first: follows
        ``parent_epoch`` links. A full epoch is its own one-element chain."""
        e = self.resolve_epoch(epoch)
        chain = [e]
        while True:
            parent = self.read_manifest(chain[-1]).parent_epoch
            if parent is None:
                break
            chain.append(parent)
        return list(reversed(chain))

    def cleanup(self, keep: int = KEEP_EPOCHS, min_age_s: float = 0.0) -> list[int]:
        """Delete all but the newest ``keep`` epochs; the active epoch and
        every ANCESTOR of a retained delta epoch are always retained
        (format/storage.cpp:430-462, extended for delta chains — GC'ing a
        parent would orphan the deltas built on it).

        ``min_age_s`` is a reader grace period: an epoch whose directory is
        younger than this is never deleted, so a long-lived reader holding
        a recently superseded epoch (loaded handle, in-flight scan) isn't
        pulled out from under it by an automated GC loop — it refreshes to
        the new ACTIVE within the grace window."""
        epochs = self.list_epochs()
        active = self.active_epoch()
        if len(epochs) <= keep:
            return []
        kept = set(epochs[-keep:])
        if active is not None:
            kept.add(active)
        for e in list(kept):
            try:
                kept.update(self.epoch_chain(e))
            except FileNotFoundError:
                pass  # already-broken chain: don't let it block GC
        now = time.time()
        doomed = []
        for e in epochs:
            if e in kept:
                continue
            if min_age_s > 0:
                try:
                    if now - os.path.getmtime(self.epoch_dir(e)) < min_age_s:
                        continue
                except OSError:
                    pass
            doomed.append(e)
        for e in doomed:
            shutil.rmtree(self.epoch_dir(e), ignore_errors=True)
        return doomed

    # -- write (F1/F4) -----------------------------------------------------
    def _write_centroids(self, epoch: int, centroids: np.ndarray) -> None:
        """Centroids are an O(nlist*d) driver-side artifact — write directly
        with pyarrow (a Spark job for a handful of rows costs seconds of
        scheduling); spark.read.parquet reads the single file unchanged."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        C = np.asarray(centroids, dtype=np.float64)
        offsets = np.arange(C.shape[0] + 1, dtype=np.int32) * C.shape[1]
        papq.write_table(
            pa.table(
                {
                    "list_id": pa.array(
                        np.arange(C.shape[0], dtype=np.int32), pa.int32()
                    ),
                    "centroid": pa.ListArray.from_arrays(
                        pa.array(offsets), pa.array(C.reshape(-1))
                    ),
                }
            ),
            self.centroids_path(epoch),
        )

    @staticmethod
    def _footer_row_count(path: str) -> int:
        import pyarrow.parquet as papq

        n = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    n += papq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
        return n

    def write_tombstone_epoch(
        self,
        ids_df: DataFrame,
        centroids: np.ndarray,
        metric: str,
        parent_epoch: int,
        num_vectors_live: int,
        activate: bool = True,
        extra: dict[str, Any] | None = None,
    ) -> tuple[int, Manifest]:
        """Delete-as-data: a delta epoch carrying ONLY a distinct tombstone
        id set (no vectors dir). Readers fold the chain base->tip, so the
        tombstones hide matching ids from every OLDER epoch while a later
        re-add of the same id wins. ``compact()`` materializes the deletes
        away. O(delete-batch) write — the corpus is never rewritten.

        The reference's mutable in-memory index has no delete verb at all;
        immutable epochs express it naturally."""
        epoch = self.reserve_epoch()
        ids_df.write.mode("errorifexists").parquet(self.tombstones_path(epoch))
        self._write_centroids(epoch, centroids)
        manifest = Manifest(
            index_name=self.index_name,
            epoch=epoch,
            dimension=int(np.asarray(centroids).shape[1]),
            metric=metric,
            nlist=int(np.asarray(centroids).shape[0]),
            num_vectors=int(num_vectors_live),
            created_at_ns=time.time_ns(),
            parent_epoch=parent_epoch,
            num_tombstones=self._footer_row_count(self.tombstones_path(epoch)),
            extra=dict(extra or {}),
        )
        with open(self.manifest_path(epoch), "w") as f:
            f.write(manifest.to_json())
        if activate:
            self.activate(epoch)
        return epoch, manifest

    def write_epoch(
        self,
        assigned: DataFrame,
        centroids: np.ndarray,
        metric: str,
        activate: bool = True,
        pq: dict[str, Any] | None = None,
        parent_epoch: int | None = None,
        extra: dict[str, Any] | None = None,
        vector_layout: str | None = None,
    ) -> tuple[int, Manifest]:
        """Persist an assigned corpus {id, vector, list_id} as a new epoch.

        ``partitionBy("list_id")`` is the inverted-list layout: a later
        search with nprobe lists becomes a parquet PARTITION-PRUNED scan —
        the Spark-native form of the reference's probe-only-nprobe-lists
        optimization (ivf_flat_index.cpp:218-221).

        With ``parent_epoch`` this is an INCREMENTAL add (the reference's
        ``add()`` appends vectors to existing lists in place,
        ivf_flat_index.cpp:148-202; here immutability is kept by writing
        ONLY the delta and linking the parent — readers union the chain,
        ``compact()`` collapses it back to one full epoch)."""
        # resolve the vector layout: explicit > the parent chain's (a
        # delta leg must union cleanly with its ancestors) > whatever the
        # input frame already is. "packed_f32" stores each vector as d
        # float32-LE bytes in ONE binary cell: the Arrow JVM->Python
        # transfer becomes one memcpy per row instead of d per-element
        # writes (~1.9x on the scan shape; scripts/ab_binary_layout.py).
        # Scanners are layout-polymorphic (arrowkit.list_matrix), so the
        # choice is a storage detail, not an API change.
        if vector_layout is None:
            if parent_epoch is not None:
                vector_layout = self.chain_vector_layout(parent_epoch)
            else:
                vector_layout = vector_layout_of(assigned)
        if vector_layout not in ("list", PACKED_F32):
            raise ValueError(
                f"vector_layout must be 'list' or {PACKED_F32!r}, "
                f"got {vector_layout!r}"
            )
        assigned = (
            pack_vectors(assigned)
            if vector_layout == PACKED_F32
            else unpack_vectors(assigned)
        )
        epoch = self.reserve_epoch()
        # repartition on the partition column first: without it every task
        # writes a sliver of every list (tasks x nlist small files — a
        # metadata storm at 1000 executors); with it each list is one
        # contiguous file chain, which is also what makes the later
        # nprobe partition-pruned scan cheap. The shuffle is routed on a
        # per-list TOKEN column chosen so murmur3 places every list in its
        # own partition (see partition_tokens) — plain hashing of nlist keys
        # into nlist slots leaves ~1/e of the write tasks empty and piles
        # 3-4 lists on the unluckiest (measured 2-4x straggler at
        # nlist=128/sf0.1); exact routing makes the write wave flat.
        nlist = int(np.asarray(centroids).shape[0])
        lpb = write_list_partitioned(
            assigned, self.vectors_path(epoch), nlist, "errorifexists"
        )
        self._write_centroids(epoch, centroids)
        # row count from parquet footers (pure metadata, no data scan —
        # the write itself was the only full pass over the corpus)
        num_vectors = self._footer_row_count(self.vectors_path(epoch))
        if parent_epoch is not None:
            # cumulative over the chain: delta rows + the parent's cumulative
            num_vectors += self.read_manifest(parent_epoch).num_vectors
        extra_out = dict(extra or {})
        if lpb is not None:  # record the two-level layout explicitly
            extra_out["lists_per_bucket"] = int(lpb)
        # Stamp the RESOLVED layout unconditionally: an explicit
        # vector_layout="list" delta on a packed chain must override the
        # packed ancestor (chain_vector_layout reads the newest stamp tip
        # first), otherwise read_vectors silently re-packs that leg on
        # every read and the override never takes effect.
        extra_out["vector_layout"] = vector_layout
        manifest = Manifest(
            index_name=self.index_name,
            epoch=epoch,
            dimension=int(centroids.shape[1]),
            metric=metric,
            nlist=int(centroids.shape[0]),
            num_vectors=int(num_vectors),
            created_at_ns=time.time_ns(),
            pq=pq,
            parent_epoch=parent_epoch,
            extra=extra_out,
        )
        with open(self.manifest_path(epoch), "w") as f:
            f.write(manifest.to_json())
        if activate:
            self.activate(epoch)
        return epoch, manifest

    # -- read --------------------------------------------------------------
    def resolve_epoch(self, epoch: int | None = None) -> int:
        if epoch is not None:
            return epoch
        active = self.active_epoch()
        if active is None:
            raise ValueError(f"no active epoch for index {self.index_name}")
        return active

    def read_manifest(self, epoch: int | None = None) -> Manifest:
        with open(self.manifest_path(self.resolve_epoch(epoch))) as f:
            return Manifest.from_json(f.read())

    def update_manifest_extra(
        self,
        epoch: "int | None",
        updates: "dict[str, Any]",
        remove: "tuple[str, ...]" = (),
    ) -> Manifest:
        """Merge ``updates`` into an existing epoch's ``extra`` block
        (dropping ``remove`` keys first) and rewrite the manifest
        atomically (tmp + rename, same discipline as ``activate``). For
        post-build annotations that need the epoch to already exist —
        e.g. the measured recall operating point, which can only be
        swept against the written index. ``epoch=None`` targets the
        active epoch, matching ``read_manifest``'s convention."""
        epoch = self.resolve_epoch(epoch)
        manifest = self.read_manifest(epoch)
        for key in remove:
            manifest.extra.pop(key, None)
        manifest.extra.update(updates)
        p = self.manifest_path(epoch)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(manifest.to_json())
        os.replace(tmp, p)
        return manifest

    def chain_lists_per_bucket(self, epoch: int | None = None) -> int | None:
        """The two-level-layout bucket width in force for this epoch's
        chain (the newest stamped value, tip first), or None when every
        leg uses the flat one-dir-per-list layout."""
        for e in reversed(self.epoch_chain(epoch)):
            man = self.read_manifest(e)
            v = (man.extra or {}).get("lists_per_bucket")
            if v:
                return int(v)
        return None

    def chain_vector_layout(self, epoch: int | None = None) -> str:
        """The vector physical layout in force for this epoch's chain
        (newest stamped value, tip first): ``"packed_f32"`` or
        ``"list"``."""
        for e in reversed(self.epoch_chain(epoch)):
            man = self.read_manifest(e)
            v = (man.extra or {}).get("vector_layout")
            if v:
                return str(v)
        return "list"

    def read_vectors(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        """The epoch's full LIVE corpus: a plain scan for a full epoch, a
        base->tip fold over the parent chain for a delta epoch — each
        epoch's tombstones anti-join everything OLDER (a later re-add of a
        deleted id wins), then its own vectors union in. Each leg is its
        own partition-pruned parquet scan (filters push through the union
        and the anti-join's left side), so nprobe pruning works identically
        on chained epochs. Chain length is bounded by compaction.
        Legs are layout-normalized (``normalize_list_layout`` for the
        bucket column, pack/unpack for a stray vector-layout-mismatched
        leg) so mixed chains still union cleanly."""
        lpb = self.chain_lists_per_bucket(epoch)
        target = self.chain_vector_layout(epoch)
        out = None
        for e in self.epoch_chain(epoch):
            man = self.read_manifest(e)
            if man.num_tombstones > 0 and out is not None:
                ts = spark.read.schema(TOMBSTONE_SCHEMA).parquet(
                    self.tombstones_path(e)
                )
                out = out.join(ts, "id", "left_anti")
            vpath = self.vectors_path(e)
            if os.path.isdir(vpath):
                leg = normalize_list_layout(read_list_leg(spark, vpath), lpb)
                # no-op when the leg already matches the chain layout
                # (write_epoch inherits the parent layout, so mismatches
                # only arise from explicit overrides). A converted leg
                # pays a mapInArrow wrapper, which blocks list_id filter
                # pushdown for THAT leg — compact() to re-unify.
                leg = (
                    pack_vectors(leg)
                    if target == PACKED_F32
                    else unpack_vectors(leg)
                )
                out = leg if out is None else out.unionByName(leg)
        if out is None:
            raise ValueError(
                f"epoch chain of {self.index_name} holds no vector data"
            )
        return out

    def read_centroids(self, spark: SparkSession, epoch: int | None = None) -> np.ndarray:
        rows = (
            spark.read.parquet(self.centroids_path(self.resolve_epoch(epoch)))
            .orderBy("list_id")
            .collect()
        )
        return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


# ---------------------------------------------------------------------------
# sidecar-encoding chain folds (shared by PQ / SQ / BQ)
# ---------------------------------------------------------------------------
def sidecar_paths(mgr: EpochManager, kind: str):
    """The codes directory resolver for a sidecar encoding kind."""
    try:
        return {
            "pq": mgr.codes_path,
            "sq": mgr.sq_codes_path,
            "bq": mgr.bq_codes_path,
        }[kind]
    except KeyError:
        raise ValueError(f"unknown sidecar kind {kind!r}") from None


def nearest_sidecar_epoch(mgr: EpochManager, epoch: int, kind: str) -> int | None:
    """Nearest epoch in ``epoch``'s chain (tip first, ``epoch`` excluded)
    carrying ``kind`` artifacts — the parameter source for a delta encode
    (codebooks for PQ, [vmin,vmax] for SQ, thresholds for BQ)."""
    sidecar_paths(mgr, kind)  # validate kind
    for e in reversed(mgr.epoch_chain(epoch)[:-1]):
        if getattr(mgr.read_manifest(e), kind):
            return e
    return None


def fold_chain_codes(
    spark: SparkSession, mgr: EpochManager, epoch: int, kind: str
) -> DataFrame:
    """The chain's LIVE sidecar codes. Mirrors ``read_vectors``: a single
    scan when the tip's codes cover its whole chain (scope="chain" — full
    build or compaction re-encode), else a base->tip fold — each tombstone
    epoch anti-joins everything older, each delta-encoded epoch unions its
    OWN codes (scope="delta", the O(delta) maintenance step). ``list_id``
    filters push through the union and the anti-join's left side, so
    nprobe pruning is unchanged."""
    path_fn = sidecar_paths(mgr, kind)
    chain = mgr.epoch_chain(epoch)
    manifests = {e: mgr.read_manifest(e) for e in chain}
    lpb = mgr.chain_lists_per_bucket(epoch)
    start = 0
    for i, e in enumerate(chain):
        f = getattr(manifests[e], kind)
        if f and f.get("scope", "chain") == "chain":
            start = i
    out = None
    for e in chain[start:]:
        man = manifests[e]
        if man.num_tombstones > 0 and out is not None:
            ts = spark.read.schema(TOMBSTONE_SCHEMA).parquet(mgr.tombstones_path(e))
            out = out.join(ts, "id", "left_anti")
        if getattr(man, kind):
            leg = normalize_list_layout(read_list_leg(spark, path_fn(e)), lpb)
            out = leg if out is None else out.unionByName(leg)
        elif man.num_tombstones == 0:
            raise ValueError(
                f"epoch {e} in the chain of epoch {epoch} has no "
                f"{kind.upper()} codes — encode it (encode_delta / "
                "build_from_ivf) before serving"
            )
    if out is None:
        raise ValueError(f"epoch chain of {epoch} holds no {kind.upper()} codes")
    return out
