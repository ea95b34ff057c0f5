"""Streaming index maintenance (streaming/indexing.py): the
embedding-side crawl loop — per-epoch folds through the shared
(run_id, epoch) replay gate, differentially equal to the same batches
applied as plain appends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _parts(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    return docs, emb, base, b1, b2


def _probe_ids(spark, path, emb, k=10):
    from goflow2clickhouse_spark.plans.storage import ivfpq_probe

    q = emb.filter(F.col("vec_id") == 0)
    return [
        (r["vec_id"], r["pq_code"], r["adist"])
        for r in ivfpq_probe(spark, path, q, k=k, nprobe=8).collect()
    ]


def test_ivfpq_maintenance_fold_replay_gate(spark, tmp_path):
    """The fold must skip a replayed (run_id, epoch), raise on a
    gateless non-monotonic epoch, advance the gate on an
    eligible-empty batch WITHOUT writing a delta, and fold a new
    lineage over a reused index."""
    from goflow2clickhouse_spark.plans.storage import write_ivfpq_index
    from goflow2clickhouse_spark.streaming.indexing import (
        index_maintenance_fold,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    docs, emb, base, b1, b2 = _parts(spark)
    path = str(tmp_path / "ivfpq_m")
    with pytest.raises(FileNotFoundError, match="no committed"):
        index_maintenance_fold(b1, path, 0, run_id="A", documents=docs)
    write_ivfpq_index(docs, base, path, n_cells=8)

    assert index_maintenance_fold(
        b1, path, 0, run_id="A", documents=docs
    ) is True
    meta = current_meta(spark, path)
    assert meta["epoch"] == 0 and meta["run_id"] == "A"
    assert meta["appends"] == 1

    # restart replay of the same epoch: skipped, index untouched
    assert index_maintenance_fold(
        b1, path, 0, run_id="A", documents=docs
    ) is False
    assert current_meta(spark, path) == meta

    # next epoch folds
    assert index_maintenance_fold(
        b2, path, 1, run_id="A", documents=docs
    ) is True
    assert current_meta(spark, path)["appends"] == 2

    # no run_id + non-monotonic epoch must refuse, not guess
    with pytest.raises(ValueError, match="non-monotonic epoch"):
        index_maintenance_fold(b1, path, 0, run_id=None, documents=docs)

    # eligible-empty batch (ids with no eligible doc): gate advances,
    # no delta is written
    ghost = b1.limit(2).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    before = current_meta(spark, path)
    assert index_maintenance_fold(
        ghost, path, 2, run_id="A", documents=docs
    ) is True
    after = current_meta(spark, path)
    assert after["epoch"] == 2 and after["appends"] == before["appends"]

    # a NEW lineage over the reused index folds even at epoch 0
    assert index_maintenance_fold(
        ghost, path, 0, run_id="B", documents=docs
    ) is True
    assert current_meta(spark, path)["run_id"] == "B"


def test_streaming_ivfpq_maintenance_equals_batch_appends(spark, tmp_path):
    """End-to-end stream twin: two parquet drops = two micro-batches
    folded into the index; the probe over the streamed index must
    equal the probe over a twin index maintained by plain
    append_to_ivfpq_index calls on the same batches."""
    import glob
    import os
    import shutil

    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivfpq_index,
        write_ivfpq_index,
    )
    from goflow2clickhouse_spark.streaming.indexing import (
        streaming_index_maintenance,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    docs, emb, base, b1, b2 = _parts(spark)
    stream_idx = str(tmp_path / "ivfpq_stream")
    twin_idx = str(tmp_path / "ivfpq_twin")
    write_ivfpq_index(docs, base, stream_idx, n_cells=8)
    write_ivfpq_index(docs, base, twin_idx, n_cells=8)

    indir = tmp_path / "drop"
    indir.mkdir()
    ckpt = str(tmp_path / "ck")

    def drop(df, n):
        # staged outside the watched directory and moved in by one
        # rename: the running stream lists `indir` and must never see
        # a half-written chunk directory or file
        chunk = str(tmp_path / f"chunk{n}")
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        for f in glob.glob(chunk + "/part-*.parquet"):
            os.replace(f, str(indir / f"batch{n}.parquet"))
        shutil.rmtree(chunk)

    drop(b1.select("vec_id", "embedding"), 0)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q = streaming_index_maintenance(stream, stream_idx, ckpt, documents=docs)
    try:
        q.processAllAvailable()
        append_to_ivfpq_index(docs, b1, twin_idx)
        assert _probe_ids(spark, stream_idx, emb) == _probe_ids(
            spark, twin_idx, emb
        )
        drop(b2.select("vec_id", "embedding"), 1)
        q.processAllAvailable()
        append_to_ivfpq_index(docs, b2, twin_idx)
        assert _probe_ids(spark, stream_idx, emb) == _probe_ids(
            spark, twin_idx, emb
        )
    finally:
        q.stop()

    meta = current_meta(spark, stream_idx)
    assert meta["appends"] == 2 and meta["epoch"] == 1
    assert meta["run_id"]  # checkpoint lineage id recorded

    # restart from the SAME checkpoint with no new files: nothing
    # re-folds (the replay-safe restart the gate exists for)
    stream2 = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q2 = streaming_index_maintenance(stream2, stream_idx, ckpt, documents=docs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert current_meta(spark, stream_idx) == meta


def test_maintenance_fold_auto_compacts_over_threshold(spark, tmp_path):
    """compact_over bounds the delta count inside the maintenance loop
    (r9): once more than N append legs are committed, the fold folds
    them into a single-leg new version — probe results unchanged, the
    replay gate carried over (an older epoch still skips AFTER the
    compaction), and subsequent folds keep the bound."""
    from goflow2clickhouse_spark.plans.storage import write_ivfpq_index
    from goflow2clickhouse_spark.streaming.indexing import (
        index_maintenance_fold,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    from goflow2clickhouse_spark.plans.storage import append_to_ivfpq_index

    docs, emb, base, b1, b2 = _parts(spark)
    path = str(tmp_path / "ivfpq_ac")
    twin = str(tmp_path / "ivfpq_ac_twin")
    write_ivfpq_index(docs, base, path, n_cells=8)
    write_ivfpq_index(docs, base, twin, n_cells=8)

    assert index_maintenance_fold(
        b1, path, 0, run_id="A", compact_over=1, documents=docs
    ) is True
    # one delta <= threshold: no compaction yet
    m1 = current_meta(spark, path)
    assert m1["version"] == 1 and m1["appends"] == 1

    assert index_maintenance_fold(
        b2, path, 1, run_id="A", compact_over=1, documents=docs
    ) is True
    # two deltas > threshold: compacted into v2, counter reset
    m2 = current_meta(spark, path)
    assert m2["version"] == 2 and "appends" not in m2
    # the gate survived compaction: a replayed epoch still skips
    assert index_maintenance_fold(
        b1, path, 1, run_id="A", compact_over=1, documents=docs
    ) is False
    assert current_meta(spark, path) == m2
    # compacted index serves exactly what plain (uncompacted) appends
    # of the same batches serve
    append_to_ivfpq_index(docs, b1, twin)
    append_to_ivfpq_index(docs, b2, twin)
    assert _probe_ids(spark, path, emb) == _probe_ids(spark, twin, emb)


# ---------------------------------------------------------------------------
# SQ layout through the generic fold
# ---------------------------------------------------------------------------

def _sq_probe_ids(spark, path, emb, k=10):
    from goflow2clickhouse_spark.plans.storage import sq_index_probe

    q = emb.filter(F.col("vec_id") == 0)
    return [
        (r["vec_id"], r["adist"])
        for r in sq_index_probe(spark, path, q, k=k).collect()
    ]


def test_sq_maintenance_fold_replay_gate_and_compaction(spark, tmp_path):
    """The SQ fold shares the (run_id, epoch) gate contract: replayed
    epochs skip, empty batches advance the gate deltalessly, a new
    lineage folds at epoch 0, and compact_over bounds the legs while
    carrying the gate."""
    from goflow2clickhouse_spark.plans.storage import write_sq_index
    from goflow2clickhouse_spark.streaming.indexing import (
        index_maintenance_fold,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    _, emb, base, b1, b2 = _parts(spark)
    path = str(tmp_path / "sq_m")
    with pytest.raises(FileNotFoundError, match="no committed"):
        index_maintenance_fold(b1, path, 0, run_id="A")
    write_sq_index(base, path)

    assert index_maintenance_fold(b1, path, 0, run_id="A") is True
    meta = current_meta(spark, path)
    assert meta["epoch"] == 0 and meta["run_id"] == "A"
    assert meta["appends"] == 1
    # replay skips, index untouched
    assert index_maintenance_fold(b1, path, 0, run_id="A") is False
    assert current_meta(spark, path) == meta
    # empty batch advances the gate without a delta
    assert index_maintenance_fold(
        b1.filter(F.col("vec_id") < 0), path, 1, run_id="A"
    ) is True
    after = current_meta(spark, path)
    assert after["epoch"] == 1 and after["appends"] == 1
    # compact_over folds legs into a new version, gate carried
    assert index_maintenance_fold(
        b2, path, 2, run_id="A", compact_over=1
    ) is True
    m2 = current_meta(spark, path)
    assert m2["version"] == 2 and "appends" not in m2
    assert index_maintenance_fold(
        b2, path, 2, run_id="A", compact_over=1
    ) is False
    # new lineage over the reused index folds at epoch 0
    assert index_maintenance_fold(
        b1.limit(0), path, 0, run_id="B"
    ) is True
    assert current_meta(spark, path)["run_id"] == "B"


def test_streaming_sq_maintenance_equals_batch_appends(spark, tmp_path):
    """End-to-end SQ stream twin: two drops = two folds; probes over
    the streamed index equal a twin maintained by plain
    append_to_sq_index; a checkpoint restart re-folds nothing."""
    import glob
    import os
    import shutil

    from goflow2clickhouse_spark.plans.storage import (
        append_to_sq_index,
        write_sq_index,
    )
    from goflow2clickhouse_spark.streaming.indexing import (
        streaming_index_maintenance,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    _, emb, base, b1, b2 = _parts(spark)
    stream_idx = str(tmp_path / "sq_stream")
    twin_idx = str(tmp_path / "sq_twin")
    write_sq_index(base, stream_idx)
    write_sq_index(base, twin_idx)

    indir = tmp_path / "drop"
    indir.mkdir()
    ckpt = str(tmp_path / "ck")

    def drop(df, n):
        # staged outside the watched directory and moved in by one
        # rename: the running stream lists `indir` and must never see
        # a half-written chunk directory or file
        chunk = str(tmp_path / f"chunk{n}")
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        for f in glob.glob(chunk + "/part-*.parquet"):
            os.replace(f, str(indir / f"batch{n}.parquet"))
        shutil.rmtree(chunk)

    drop(b1.select("vec_id", "embedding"), 0)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q = streaming_index_maintenance(stream, stream_idx, ckpt)
    try:
        q.processAllAvailable()
        append_to_sq_index(b1, twin_idx)
        assert _sq_probe_ids(spark, stream_idx, emb) == _sq_probe_ids(
            spark, twin_idx, emb
        )
        drop(b2.select("vec_id", "embedding"), 1)
        q.processAllAvailable()
        append_to_sq_index(b2, twin_idx)
        assert _sq_probe_ids(spark, stream_idx, emb) == _sq_probe_ids(
            spark, twin_idx, emb
        )
    finally:
        q.stop()

    meta = current_meta(spark, stream_idx)
    assert meta["appends"] == 2 and meta["epoch"] == 1 and meta["run_id"]

    stream2 = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q2 = streaming_index_maintenance(stream2, stream_idx, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert current_meta(spark, stream_idx) == meta


def test_generic_fold_dispatches_by_layout(spark, tmp_path):
    """index_maintenance_fold (r10): one fold definition serves every
    embedding-side layout — the committed metadata decides the append
    path. Pinned: SQ/IVF-SQ/PQ dispatch under the shared replay gate,
    IVF-PQ refuses without its documents side, band refuses with a
    pointer to its own loop."""
    from goflow2clickhouse_spark.plans.storage import (
        write_band_index,
        write_ivfpq_index,
        write_ivfsq_index,
        write_pq_index,
        write_sq_index,
    )
    from goflow2clickhouse_spark.streaming.indexing import (
        index_maintenance_fold,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    docs, emb, base, b1, b2 = _parts(spark)
    for tag, build in (
        ("sq", lambda p: write_sq_index(base, p)),
        ("ivfsq", lambda p: write_ivfsq_index(base, p, n_cells=8)),
        ("pq", lambda p: write_pq_index(base, p)),
    ):
        path = str(tmp_path / f"gen_{tag}")
        build(path)
        assert index_maintenance_fold(b1, path, 0, run_id="A") is True
        meta = current_meta(spark, path)
        assert meta["appends"] == 1 and meta["epoch"] == 0, tag
        # replay skips; empty batch advances the gate deltalessly
        assert index_maintenance_fold(b1, path, 0, run_id="A") is False
        assert index_maintenance_fold(
            b1.filter(F.col("vec_id") < 0), path, 1, run_id="A"
        ) is True
        after = current_meta(spark, path)
        assert after["epoch"] == 1 and after["appends"] == 1, tag

    ivfpq = str(tmp_path / "gen_ivfpq")
    write_ivfpq_index(docs, base, ivfpq, n_cells=8)
    with pytest.raises(ValueError, match="documents"):
        index_maintenance_fold(b1, ivfpq, 0, run_id="A")
    assert index_maintenance_fold(
        b1, ivfpq, 0, run_id="A", documents=docs
    ) is True

    # filtered-IVF (r11: the r10 verdict's misrouting finding) — gated
    # layout like ivfpq: refuses without the documents side, folds
    # with it, and an eligible-empty batch advances the gate
    # deltalessly through append_to_ivf_index's extra commit
    from goflow2clickhouse_spark.plans.storage import (
        write_filtered_ivf_index,
    )

    ivf = str(tmp_path / "gen_ivf")
    write_filtered_ivf_index(docs, base, ivf, n_cells=8)
    with pytest.raises(ValueError, match="documents"):
        index_maintenance_fold(b1, ivf, 0, run_id="A")
    assert index_maintenance_fold(
        b1, ivf, 0, run_id="A", documents=docs
    ) is True
    meta = current_meta(spark, ivf)
    assert meta["appends"] == 1 and meta["epoch"] == 0
    assert index_maintenance_fold(
        b1, ivf, 0, run_id="A", documents=docs
    ) is False
    assert index_maintenance_fold(
        b1.filter(F.col("vec_id") < 0), ivf, 1, run_id="A", documents=docs
    ) is True
    after = current_meta(spark, ivf)
    assert after["epoch"] == 1 and after["appends"] == 1

    band = str(tmp_path / "gen_band")
    write_band_index(docs.limit(0).unionByName(docs), band)
    with pytest.raises(ValueError, match="dedupe"):
        index_maintenance_fold(b1, band, 0, run_id="A")


def test_fold_refuses_phash_with_its_own_append(spark, tmp_path):
    """The pHash layout is recognized but its batches carry image
    hashes, not vectors: the fold refuses it by name and points at its
    own append, as it points the band layout at its own loop."""
    from goflow2clickhouse_spark.plans.storage import write_phash_index
    from goflow2clickhouse_spark.streaming.indexing import (
        index_maintenance_fold,
    )

    _, _, _, b1, _ = _parts(spark)
    path = str(tmp_path / "gen_phash")
    write_phash_index(
        spark.range(8).select(
            F.col("id").alias("doc_id"), F.col("id").alias("phash")
        ),
        path,
    )
    with pytest.raises(
        ValueError, match=r"'pHash band' index.*append_to_phash_index"
    ):
        index_maintenance_fold(b1, path, 0, run_id="A")


def test_streaming_generic_maintenance_over_ivfsq(spark, tmp_path):
    """The generic stream wrapper pointed at an IVF-SQ index: one
    drop = one fold, probes equal a twin maintained by plain
    append_to_ivfsq_index."""
    import glob
    import shutil

    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivfsq_index,
        ivfsq_probe,
        write_ivfsq_index,
    )
    from goflow2clickhouse_spark.streaming.indexing import (
        streaming_index_maintenance,
    )

    _, emb, base, b1, _ = _parts(spark)
    stream_idx = str(tmp_path / "gsq_stream")
    twin_idx = str(tmp_path / "gsq_twin")
    write_ivfsq_index(base, stream_idx, n_cells=8)
    write_ivfsq_index(base, twin_idx, n_cells=8)

    indir = tmp_path / "drop"
    indir.mkdir()
    chunk = str(indir / "chunk0")
    b1.select("vec_id", "embedding").coalesce(1).write.mode(
        "overwrite"
    ).parquet(chunk)
    for f in glob.glob(chunk + "/part-*.parquet"):
        shutil.copy(f, str(indir / "batch0.parquet"))
    shutil.rmtree(chunk)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q = streaming_index_maintenance(
        stream, stream_idx, str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    append_to_ivfsq_index(b1, twin_idx)
    probe = emb.filter(F.col("vec_id") == 0)
    got = ivfsq_probe(spark, stream_idx, probe, k=10, nprobe=8).collect()
    want = ivfsq_probe(spark, twin_idx, probe, k=10, nprobe=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_generic_maintenance_over_filtered_ivf(spark, tmp_path):
    """The generic stream wrapper pointed at a filtered-IVF index
    (r11 — the r10 verdict's misrouting finding): one drop = one fold
    through append_to_ivf_index, probes equal a twin maintained by
    plain append calls, and the eligibility gate applies to the
    streamed batch exactly as it did at build time."""
    import glob
    import shutil

    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivf_index,
        ivf_index_probe,
        write_filtered_ivf_index,
    )
    from goflow2clickhouse_spark.streaming.indexing import (
        streaming_index_maintenance,
    )

    docs, emb, base, b1, _ = _parts(spark)
    stream_idx = str(tmp_path / "givf_stream")
    twin_idx = str(tmp_path / "givf_twin")
    write_filtered_ivf_index(docs, base, stream_idx, n_cells=8)
    write_filtered_ivf_index(docs, base, twin_idx, n_cells=8)

    indir = tmp_path / "drop"
    indir.mkdir()
    chunk = str(indir / "chunk0")
    b1.select("vec_id", "embedding").coalesce(1).write.mode(
        "overwrite"
    ).parquet(chunk)
    for f in glob.glob(chunk + "/part-*.parquet"):
        shutil.copy(f, str(indir / "batch0.parquet"))
    shutil.rmtree(chunk)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q = streaming_index_maintenance(
        stream, stream_idx, str(tmp_path / "ck"), documents=docs
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    append_to_ivf_index(docs, b1, twin_idx)
    probe = emb.filter(F.col("vec_id") == 0)
    got = ivf_index_probe(spark, stream_idx, probe, k=10, nprobe=8).collect()
    want = ivf_index_probe(spark, twin_idx, probe, k=10, nprobe=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 10


def test_takedown_fold_gate_and_purge(spark, tmp_path):
    """index_takedown_fold (r11): replayed (run_id, epoch) skips,
    empty batches advance the del_ gate deltalessly, the del_
    namespace never collides with the append fold's gate on the SAME
    index, and compact_over bounds the tombstone-delta count by
    triggering the physical purge."""
    from goflow2clickhouse_spark.plans.storage import (
        sq_index_probe,
        write_sq_index,
    )
    from goflow2clickhouse_spark.streaming.indexing import (
        index_maintenance_fold,
        index_takedown_fold,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    _, emb, base, b1, _ = _parts(spark)
    path = str(tmp_path / "takedown")
    with pytest.raises(FileNotFoundError, match="no committed"):
        index_takedown_fold(emb.select("vec_id"), path, 0, run_id="D")
    write_sq_index(base, path)

    q = emb.filter(F.col("vec_id") == 0)
    victims = [
        int(r["vec_id"])
        for r in sq_index_probe(spark, path, q, k=3).collect()
    ][:2]
    dead = base.filter(F.col("vec_id").isin(victims)).select("vec_id")

    assert index_takedown_fold(dead, path, 0, run_id="D") is True
    meta = current_meta(spark, path)
    assert meta["tombstones"] == 1
    assert meta["del_epoch"] == 0 and meta["del_run_id"] == "D"
    served = {
        r["vec_id"] for r in sq_index_probe(spark, path, q, k=10).collect()
    }
    assert not served & set(victims)

    # replay skips, index untouched
    assert index_takedown_fold(dead, path, 0, run_id="D") is False
    assert current_meta(spark, path) == meta
    # empty batch advances the del_ gate deltalessly
    assert index_takedown_fold(
        dead.filter(F.col("vec_id") < 0), path, 1, run_id="D"
    ) is True
    after = current_meta(spark, path)
    assert after["del_epoch"] == 1 and after["tombstones"] == 1

    # the APPEND fold's gate lives in its own namespace: epoch 0 of
    # the append stream still folds even though del_epoch is at 1
    assert index_maintenance_fold(b1, path, 0, run_id="A") is True
    both = current_meta(spark, path)
    assert both["epoch"] == 0 and both["del_epoch"] == 1
    # ...and vice versa: the next takedown epoch is judged against
    # del_epoch, not the append stream's epoch
    assert index_takedown_fold(
        dead.filter(F.col("vec_id") < 0), path, 2, run_id="D"
    ) is True

    # compact_over=0: any committed tombstone triggers the purge fold
    more = base.filter(~F.col("vec_id").isin(victims)).limit(2).select(
        "vec_id"
    )
    gone = {int(r["vec_id"]) for r in more.collect()}
    assert index_takedown_fold(
        more, path, 3, run_id="D", compact_over=0
    ) is True
    purged = current_meta(spark, path)
    assert purged["version"] == 2 and "tombstones" not in purged
    # gates survive the compaction verbatim
    assert purged["del_epoch"] == 3 and purged["epoch"] == 0
    folded = spark.read.parquet(f"{path}/v2/codes")
    assert folded.filter(
        F.col("vec_id").isin(list(gone | set(victims)))
    ).count() == 0


def test_streaming_takedown_equals_plain_deletes(spark, tmp_path):
    """End-to-end stream twin: a parquet drop of ids = one takedown
    fold; probes over the streamed index equal a twin index given the
    same ids via plain delete_from_index, and a checkpoint restart
    with no new files re-folds nothing."""
    import glob
    import shutil

    from goflow2clickhouse_spark.plans.storage import (
        delete_from_index,
        pq_index_probe,
        write_pq_index,
    )
    from goflow2clickhouse_spark.streaming.indexing import (
        streaming_index_takedown,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    _, emb, base, _, _ = _parts(spark)
    stream_idx = str(tmp_path / "td_stream")
    twin_idx = str(tmp_path / "td_twin")
    write_pq_index(base, stream_idx)
    write_pq_index(base, twin_idx)

    q = emb.filter(F.col("vec_id") == 0)
    dead = base.limit(3).select("vec_id")

    indir = tmp_path / "drop"
    indir.mkdir()
    chunk = str(indir / "chunk0")
    dead.coalesce(1).write.mode("overwrite").parquet(chunk)
    for f in glob.glob(chunk + "/part-*.parquet"):
        shutil.copy(f, str(indir / "batch0.parquet"))
    shutil.rmtree(chunk)

    stream = (
        spark.readStream.schema("vec_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    ckpt = str(tmp_path / "ck")
    sq = streaming_index_takedown(stream, stream_idx, ckpt)
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    delete_from_index(dead, twin_idx)
    got = pq_index_probe(spark, stream_idx, q, k=10).collect()
    want = pq_index_probe(spark, twin_idx, q, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    meta = current_meta(spark, stream_idx)
    assert meta["tombstones"] == 1 and meta["del_epoch"] == 0
    assert meta["del_run_id"]

    # restart, no new files: nothing re-folds
    stream2 = (
        spark.readStream.schema("vec_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    sq2 = streaming_index_takedown(stream2, stream_idx, ckpt)
    try:
        sq2.processAllAvailable()
    finally:
        sq2.stop()
    assert current_meta(spark, stream_idx) == meta
