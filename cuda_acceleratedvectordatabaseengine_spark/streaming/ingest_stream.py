"""Streaming index maintenance: a vector stream feeds DELTA EPOCHS.

The reference ingests with blocking ``add()`` calls against a mutable
in-memory index (engine/ivf_flat_index.cpp:148-202); its storage layer
then snapshots immutable epochs. Spark's native form composes the two:
each micro-batch of arriving vectors becomes one O(delta) delta epoch
(``IVFIndex.add``), activated atomically, so searches always see a
consistent snapshot and never block on ingest.

Correctness and maintenance properties:

- **Replay-idempotent**: Structured Streaming's foreachBatch is
  at-least-once — after a crash between epoch activation and checkpoint
  commit the same micro-batch is redelivered. Every ingested epoch's
  manifest records its ``ingest_batch_id``. Because micro-batches are
  sequential, a redelivered id on an epoch OLDER than the active one is a
  duplicate (its data reached the serving lineage — directly or absorbed
  by a compaction) and is dropped; an id on an epoch NEWER than active
  means the previous attempt crashed between manifest write and
  activation — the batch never served and is NOT a duplicate: the
  interrupted step is RESUMED (re-run the compaction decision and
  activate) instead of silently losing the batch to GC.
- **Sidecar maintenance**: when the active chain carries PQ / SQ / BQ
  codes, every delta epoch is encoded BEFORE activation with the chain's
  inherited params (``operators.codes.sidecar_maintainers`` — O(delta),
  params are train-time artifacts and are never retrained on ingest), and
  a compacted epoch is re-encoded in full with the same params.
  Activating a codeless epoch on a quantized index would make every
  subsequent load fail.
- **One activation per batch**: the delta is written inactive, the
  compaction decision is made, and exactly one epoch (delta OR compacted)
  is activated; ``on_epoch`` fires once per batch with the epoch that
  actually serves.
- **Bounded storage with reader grace**: when the chain reaches
  ``compact_every`` epochs the handler rewrites it into one full epoch
  (the compaction the reference declares as B7, format/storage.h:160);
  epoch GC (keep-newest + ancestor closure) runs per batch but never
  deletes an epoch younger than ``gc_min_age_s`` — a serving reader
  holding a just-superseded epoch refreshes within the grace window
  instead of losing files mid-scan.
- **No per-trigger reload**: the index handle (centroids + manifest) is
  carried across batches in closure state; only the first batch after a
  (re)start pays ``IVFIndex.load``.

Scale shape: per trigger the work is one assignment pass + one
partitioned write of THE BATCH ONLY (plus an occasional corpus-sized
compaction, amortized 1/compact_every). At 100 TB with a Kafka source
this is the standard ingest loop — ``maxOffsetsPerTrigger`` sizes the
delta, compaction cost amortizes across triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.codes import sidecar_maintainers
from ..operators.ivf import IVFIndex

BATCH_ID_KEY = "ingest_batch_id"


def ingest_batch(
    idx: IVFIndex,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "id",
    vec_col: str = "vector",
    compact_every: int = 4,
    keep_epochs: int = 3,
    gc_min_age_s: float = 300.0,
) -> tuple[IVFIndex, str | None]:
    """One ingest step (the testable core of ``ingest_vector_stream``):
    returns ``(current_handle, kind)`` where kind is ``"delta"``,
    ``"compacted"``, or None when the batch was a redelivered duplicate."""
    mgr = idx.manager
    marker = {BATCH_ID_KEY: batch_id}
    marked = []
    for e in mgr.list_epochs():
        try:
            if mgr.read_manifest(e).extra.get(BATCH_ID_KEY) == batch_id:
                marked.append(e)
        except FileNotFoundError:
            continue  # partial epoch from a crashed write; never activated
    # Micro-batches are processed SEQUENTIALLY (foreachBatch): a later
    # batch cannot run until this one activated. So a marker epoch OLDER
    # than the active epoch is a superseded duplicate (its data reached the
    # lineage — e.g. a compaction absorbed it — or it served and was
    # replaced), while a marker epoch NEWER than active means the previous
    # attempt crashed between manifest write and activation: the batch
    # never served and dropping it now would silently lose it (the orphan
    # would be GC'd) — resume the interrupted step instead.
    active = mgr.active_epoch()
    pending = [e for e in marked if active is None or e > active]
    if marked and not pending:
        return idx, None  # redelivery; the batch already serves
    # Sidecar-encoded index (PQ / SQ / BQ): every activated epoch must
    # carry codes, and the params (codebooks / [vmin,vmax] / thresholds)
    # are INHERITED train-time artifacts, like centroids.
    maintainers = sidecar_maintainers(idx)
    if pending:
        new = IVFIndex.load(idx.spark, mgr.base_dir, mgr.index_name, max(pending))
        kind = "compacted" if new.manifest.parent_epoch is None else "delta"
        scope = "delta" if kind == "delta" else "chain"
        for sk, enc in maintainers:
            if not getattr(new.manifest, sk):
                new.manifest = enc(new, scope)
    else:
        new = idx.add(
            batch_df, id_col=id_col, vec_col=vec_col, activate=False,
            manifest_extra=marker,
        )
        kind = "delta"
        # the handle is carried across batches: refresh its manifest so
        # the next trigger still sees the sidecar-configured index
        for sk, enc in maintainers:
            new.manifest = enc(new, "delta")
    if kind == "delta" and len(mgr.epoch_chain(new.epoch)) >= compact_every:
        new = new.compact(activate=False, manifest_extra=marker)
        kind = "compacted"
        # compaction rewrote the chain into one full epoch: re-encode it
        # whole with the SAME params (amortized 1/compact_every, and
        # compaction is already an O(corpus) pass)
        for sk, enc in maintainers:
            new.manifest = enc(new, "chain")
    mgr.activate(new.epoch)
    mgr.cleanup(keep=keep_epochs, min_age_s=gc_min_age_s)
    return new, kind


def ingest_vector_stream(
    vector_stream: DataFrame,
    base_dir: str,
    index_name: str,
    id_col: str = "id",
    vec_col: str = "vector",
    compact_every: int = 4,
    keep_epochs: int = 3,
    gc_min_age_s: float = 300.0,
    trigger: dict | None = None,
    checkpoint_dir: str | None = None,
    query_name: str = "ivf-ingest-stream",
    on_epoch=None,
    batch_transform=None,
) -> StreamingQuery:
    """Maintain ``index_name`` from a streaming ``{id, vector}`` source.

    The index must already exist with an ACTIVE epoch (built once via
    ``IVFIndex.build`` — centroids are train-time artifacts; ingest only
    assigns). ``on_epoch(epoch, kind)`` is called once per non-duplicate
    batch after its single activation, with kind ``"delta"`` or
    ``"compacted"`` — the hook for cache warms or serving-side reloads.

    ``batch_transform(static_df) -> static_df`` runs INSIDE each trigger
    on the micro-batch (a plain batch frame), before ingest — the seam
    where vectorization lives in an arrival-time pipeline: a streaming
    plan cannot chain aggregations or a second stateful operator after a
    stateful dedup, and a real encoder (embed_documents) is a per-batch
    job anyway. Stream the narrow survivor rows; embed per trigger."""
    state: dict = {"idx": None}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_transform is not None:
            batch_df = batch_transform(batch_df)
        if state["idx"] is None:  # first batch after (re)start
            state["idx"] = IVFIndex.load(batch_df.sparkSession, base_dir, index_name)
        idx, kind = ingest_batch(
            state["idx"], batch_df, batch_id,
            id_col=id_col, vec_col=vec_col,
            compact_every=compact_every, keep_epochs=keep_epochs,
            gc_min_age_s=gc_min_age_s,
        )
        state["idx"] = idx
        if kind is not None and on_epoch is not None:
            on_epoch(idx.epoch, kind)

    writer = (
        vector_stream.writeStream.foreachBatch(process_batch).queryName(query_name)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
