"""Streaming exact deduplication — the ingest-time dedup stage of a
training-data pipeline (drop exact re-crawls / re-sends as they
arrive, before they ever hit storage).

The reference inserts whatever the collector emits (no dedup anywhere
in main.go); this is one of the capabilities its ClickHouse deployment
would bolt on with ReplacingMergeTree. Spark-first form: the built-in
`dropDuplicatesWithinWatermark` operator — state-store keyed by the
dedup key, entries evicted once the watermark passes, so state is
O(key-rate × watermark horizon), not O(stream length). That bounded
window is the semantic difference from batch exact dedup (a key
re-appearing after the horizon is re-emitted); at 100 TB/day you
choose the horizon, because unbounded streaming state is the thing
that falls over.

Batch twin: `dropDuplicates` over the same keys (one hash aggregate).
Both paths keep an arbitrary representative per key — callers needing
a deterministic pick (and a deterministic oracle) should either dedup
exact-copy rows or aggregate afterwards; operators/dedup.exact_dedup
is the deterministic min-id batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_exact_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Keep the first-arriving row per `keys`. Streaming: requires the
    event-time column `ts_col`; duplicates arriving within the
    watermark horizon of the first occurrence are dropped, and the
    per-key state entry is evicted once the watermark passes its
    event time. Batch: plain dropDuplicates (full-history dedup).

    A TIMESTAMP_NTZ event-time column (what parquet TIMESTAMP(NANOS)
    fixtures read as on Spark 4.1) is cast to TIMESTAMP in the
    streaming path — watermarks only accept the instant type; the cast
    pins the wall-clock in the session zone, which only shifts the
    eviction clock, never which rows are duplicates."""
    if streaming:
        from pyspark.sql import functions as F
        from pyspark.sql.types import TimestampNTZType

        if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return df.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def incremental_dedup_fold(
    batch_df: DataFrame,
    index_path: str,
    out_path: str,
    epoch_id: int,
    run_id: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> bool:
    """One turn of the streaming crawl loop (the testable unit the
    foreachBatch wrapper below calls): dedup `batch_df` against the
    persisted band index — exact gate = sha2 LEFT SEMI vs the index's
    stored hash set, near gate = `incremental_neardup_pairs_indexed` —
    write one (doc_id, status) row per batch doc into `out_path`'s
    (run_id, epoch) partition, then
    FOLD the unique docs into the index (`append_to_band_index`) so
    the next batch dedups against them too. Old corpus text is never
    scanned: both gates and the fold run index-side + batch-side only.

    Exactly-once on at-least-once delivery, the HllRegisterStore
    pattern: the (run_id, epoch) gate lives IN the index's `_CURRENT`
    (committed atomically with the append it guards), so a replayed
    epoch after restart returns False and writes nothing — without the
    gate a replayed batch would re-dedup against an index that already
    CONTAINS it and mislabel every kept doc an exact dup. A replayed
    epoch with no run_id raises, like HllRegisterStore.fold.

    The status write is idempotent INDEPENDENTLY of that gate: rows
    land in the hive partition (run_id, epoch) with dynamic partition
    OVERWRITE, because the status write necessarily happens before the
    index commit (two stores, one atomic commit) — a crash between the
    two replays the whole fold, and an append-mode status write would
    then double-emit the epoch's rows. Overwriting the epoch's own
    partition makes the replay a byte-identical rewrite (the recompute
    runs against an index the torn fold never changed).

    Within-batch duplicates are the batch's own concern — compose
    `stream_exact_dedup` upstream (ingest-time) or
    `minhash_lsh_dedup_pairs` on the batch for near-dups; this fold
    handles batch-vs-corpus, the part that needs the index."""
    from pyspark.sql import functions as F

    from ..plans.storage import (
        _committed_index,
        append_to_band_index,
        band_index_sha_set,
        incremental_neardup_pairs_indexed,
    )
    from ..versioned import epoch_replayed

    spark = batch_df.sparkSession
    meta, _ = _committed_index(spark, index_path, "band")
    if epoch_replayed(meta, epoch_id, run_id):
        return False

    batch = batch_df.select(
        F.col(id_col), F.col(text_col).alias(text_col)
    ).persist()
    exact_ids = (
        batch.select(id_col, F.sha2(F.col(text_col), 256).alias("_sha"))
        .join(band_index_sha_set(spark, index_path), "_sha", "left_semi")
        .select(id_col)
        .withColumn("_ex", F.lit(True))
    )
    pairs = incremental_neardup_pairs_indexed(
        batch, index_path, text_col, id_col, threshold
    )
    near_ids = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_nr", F.lit(True))
    )
    status = (
        batch.select(id_col)
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_ex"), F.lit("exact"))
            .when(F.col("_nr"), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    ).persist()
    try:
        (
            status.withColumn("run_id", F.lit(run_id if run_id is not None else "none"))
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "epoch")
            .parquet(out_path)
        )
        kept = batch.join(
            status.filter(F.col("status") == "unique").select(id_col),
            id_col, "left_semi",
        )
        append_to_band_index(
            kept, index_path, text_col, id_col,
            extra={"epoch": epoch_id, "run_id": run_id},
        )
    finally:
        status.unpersist()
        batch.unpersist()
    return True


def streaming_incremental_dedup(
    stream_df: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
):
    """The crawl loop as a running stream: each micro-batch of
    documents dedups against the persisted band index and folds its
    unique docs back in (incremental_dedup_fold above). Returns the
    started StreamingQuery; statuses accumulate at `out_path`.
    run_id = the checkpoint lineage's query id (streaming/hll.
    _checkpoint_run_id), so restart replays skip and a fresh
    checkpoint over a reused index folds."""
    from .hll import _checkpoint_run_id

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        incremental_dedup_fold(
            batch_df, index_path, out_path, epoch_id,
            run_id=_checkpoint_run_id(batch_df.sparkSession, checkpoint_dir),
            text_col=text_col, id_col=id_col, threshold=threshold,
        )

    return (
        stream_df.writeStream.foreachBatch(_fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
