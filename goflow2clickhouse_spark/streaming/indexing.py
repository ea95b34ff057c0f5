"""Streaming maintenance of the persisted ANN indexes — the embedding
side of the crawl loop: where
`streaming_incremental_dedup` folds each micro-batch of DOCUMENTS into
the band index, this folds each micro-batch of EMBEDDINGS into a
persisted vector index, so a vector-serving index tracks the corpus
continuously instead of waiting for rebuilds. The fold is
LAYOUT-GENERIC (`index_maintenance_fold` — dispatch on the committed
metadata's layout kind), so every embedding-side layout (SQ, IVF-SQ,
PQ, IVF-PQ and the filtered IVF) shares one streaming story.

Spark-first shape: foreachBatch over a Structured Streaming source —
each batch is ONE append (plans/storage._append: rows built from the
RECORDED metadata, encoded against the STORED quantizers, one atomic
delta), so the per-batch cost is a single batch-sized scan + a
metadata commit, never an index rebuild.
Exactly-once on at-least-once delivery via the shared (run_id, epoch)
replay gate (`versioned.epoch_replayed`) committed atomically with the
delta inside `_CURRENT`. Delta count is bounded operationally by
`plans/storage.compact_index` (fold deltas into a new base), and a
full rebuild remains the quantizer-refresh path after drift.

Reference parity note: the reference ships no vector layer at all
(/root/reference/ is a flow-ingest bridge); this module is part of the
training-data-pipeline extension surface (SURVEY.md §2.C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def index_maintenance_fold(
    batch_df: DataFrame,
    index_path: str,
    epoch_id: int,
    run_id: str | None = None,
    compact_over: int | None = None,
    documents: DataFrame | None = None,
) -> bool:
    """One turn of the embedding-maintenance loop (the testable unit
    the foreachBatch wrapper below calls): read the committed
    metadata, infer the layout (plans/storage._index_kind — the same
    total inference compaction uses) and fold `batch_df` — new
    (vec_id, embedding) rows — through the shared append
    (plans/storage._append). The layout's row in plans/storage._LAYOUTS
    says whether it is gated (IVF, IVF-PQ: the `documents` metadata
    side is required, with stream-static join semantics, so the batch
    is gated exactly as the build was) and whether its batches are
    vectors at all: the band and pHash layouts are refused with a
    pointer to their own maintenance path (band: its loop in
    streaming/dedupe.py; pHash: append_to_phash_index).

    Returns False (and touches nothing) when the (run_id, epoch) gate
    says this epoch already folded — the shared `epoch_replayed`
    contract: without it a restart replay would append the same batch
    twice and every probe would serve its vectors twice. The gate
    commits ATOMICALLY with the delta (both ride the same `_CURRENT`
    rename inside the append), so there is no torn window between
    "delta visible" and "epoch recorded". An empty (or eligible-empty)
    batch advances the gate without writing a delta.

    `compact_over` bounds the delta count operationally: after the
    fold, if more than that many append legs are committed, they are
    folded into a new single-leg base (plans/storage.compact_index —
    gate metadata carries over, so a compaction between two folds can
    never reopen a replayed epoch). A crash between append and
    compaction loses nothing: the compaction is re-attempted on the
    next fold."""
    from ..plans import storage as S
    from ..versioned import epoch_replayed

    spark = batch_df.sparkSession
    meta, _ = S._committed_index(spark, index_path)
    kind = S._index_kind(meta)
    if epoch_replayed(meta, epoch_id, run_id):
        return False
    lay = S._LAYOUTS[kind]
    if lay.maintain:
        raise ValueError(
            f"index at {index_path} is a '{lay.label}' index, whose "
            f"batches are not vectors — maintain it with {lay.maintain}"
        )
    cols = {}
    if lay.gated:
        if documents is None:
            raise ValueError(
                f"{lay.label} maintenance needs the `documents` "
                "metadata side (the layout records an eligibility gate)"
            )
        cols["documents"] = documents
    extra = {"epoch": int(epoch_id), "run_id": run_id}
    S._append(kind, batch_df, index_path, extra, **cols)
    if compact_over is not None:
        S.compact_index(spark, index_path, min_appends=compact_over + 1)
    return True


def _start_fold(stream_df: DataFrame, checkpoint_dir: str, fold):
    """Start `fold(batch_df, epoch_id, run_id)` as a foreachBatch
    stream. run_id = the checkpoint lineage's query id
    (streaming/hll._checkpoint_run_id), so restart replays skip and a
    fresh checkpoint over a reused index folds. Returns the started
    StreamingQuery."""
    from .hll import _checkpoint_run_id

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        fold(
            batch_df, epoch_id,
            _checkpoint_run_id(batch_df.sparkSession, checkpoint_dir),
        )

    return (
        stream_df.writeStream.foreachBatch(_fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_index_maintenance(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    compact_over: int | None = None,
    documents: DataFrame | None = None,
):
    """The embedding-maintenance loop as a running stream: each
    (vec_id, embedding) micro-batch folds via index_maintenance_fold,
    which infers the layout from the committed metadata — point it at
    ANY embedding-side index. Differentially pinned equal to the same
    batches applied via plain `append_to_*` calls."""
    return _start_fold(
        stream_df, checkpoint_dir,
        lambda batch_df, epoch_id, run_id: index_maintenance_fold(
            batch_df, index_path, epoch_id, run_id=run_id,
            compact_over=compact_over, documents=documents,
        ),
    )


def index_takedown_fold(
    batch_df: DataFrame,
    index_path: str,
    epoch_id: int,
    run_id: str | None = None,
    compact_over: int | None = None,
    id_col: str | None = None,
) -> bool:
    """One turn of the TAKEDOWN loop (deletion's streaming half): fold a
    micro-batch of ids to remove into ANY committed index layout via
    plans/storage.delete_from_index — an atomic tombstone delta; every
    probe anti-joins it from this commit on. Layout-generic by
    construction (deletion is id-based), so the same fold serves band,
    filtered-IVF, PQ, SQ, IVF-SQ and IVF-PQ indexes — the opt-out/GDPR
    feed of a crawl pipeline is one stream pointed at each index.

    Same (run_id, epoch) replay contract as the append folds, but in its
    OWN metadata namespace (`del_epoch`/`del_run_id` —
    versioned.epoch_replayed(ns='del_')): an append stream and a
    takedown stream maintain the same index concurrently, and a shared
    gate would let either stream's commit make the other skip or raise.
    The gate commits atomically with the tombstone delta; an EMPTY batch
    advances it deltalessly. `compact_over` bounds the tombstone-delta
    count: once more than that many are committed, the fold compacts —
    which is also deletion's PHYSICAL purge, so a bounded takedown loop
    guarantees deleted rows leave disk within a bounded number of
    batches. `id_col` selects the id column when the batch carries more
    than one (default: the batch's single column)."""
    from ..plans.storage import (
        _committed_index,
        compact_index,
        delete_from_index,
    )
    from ..versioned import current_meta, epoch_replayed

    spark = batch_df.sparkSession
    meta, _ = _committed_index(spark, index_path)
    if epoch_replayed(meta, epoch_id, run_id, ns="del_"):
        return False
    ids = batch_df.select(id_col) if id_col else batch_df
    delete_from_index(
        ids, index_path,
        extra={"del_epoch": int(epoch_id), "del_run_id": run_id},
    )
    if compact_over is not None:
        # min_appends=0 would compact unconditionally; the tombstone
        # bound is checked here instead — compaction itself already
        # folds on tombstones alone
        refreshed = current_meta(spark, index_path)
        if int(refreshed.get("tombstones", 0)) > compact_over:
            compact_index(spark, index_path, min_appends=0)
    return True


def streaming_index_takedown(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    compact_over: int | None = None,
    id_col: str | None = None,
):
    """The takedown loop as a running stream: each micro-batch of ids
    folds into the index's tombstones via index_takedown_fold. Same
    run_id/restart contract as the maintenance stream; point one at
    each index a deletion feed must reach."""
    return _start_fold(
        stream_df, checkpoint_dir,
        lambda batch_df, epoch_id, run_id: index_takedown_fold(
            batch_df, index_path, epoch_id, run_id=run_id,
            compact_over=compact_over, id_col=id_col,
        ),
    )
