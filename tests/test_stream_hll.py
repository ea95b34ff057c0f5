"""Running per-key HLL (streaming/hll.py, transformWithState typed
state): the processor's state-fold logic must equal the batch twin
register-exactly across micro-batch splits, and state stays m-bounded.

The JVM streaming path needs the protobuf package (transformWithState
state-server protocol), absent in this container — so the processor is
driven directly against a fake typed-state handle with the SAME
micro-batch splits a FileStreamSource would deliver, which exercises
every line of the processor; the streaming entry point's guard is
asserted separately.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from goflow2clickhouse_spark.operators.sketch import HLL_M
from goflow2clickhouse_spark.streaming.hll import (
    HllRunningProcessor,
    hll_bucket_rho,
    hll_estimate_py,
    running_distinct_estimate,
)


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())


def _rows(spark, n_chunks=3):
    data = [
        ("t%d" % (i % 2), (chunk * 61 + i * 7) % 400)
        for chunk in range(n_chunks)
        for i in range(80)
    ]
    return spark.createDataFrame(data, "etype string, uid long"), n_chunks


def test_processor_matches_batch_twin_across_splits(spark):
    df, n_chunks = _rows(spark)
    proj = df.select(
        *hll_bucket_rho("etype", "uid"),
        F.monotonically_increasing_id().alias("_i"),
    )
    pdf = proj.toPandas()

    # drive the processor per key with the same 3-way chunk split a
    # maxFilesPerTrigger=1 stream would deliver
    final = {}
    for key in ("t0", "t1"):
        proc = HllRunningProcessor()
        proc.init(_FakeHandle())
        kdf = pdf[pdf["key"] == key].reset_index(drop=True)
        out = None
        for chunk in range(n_chunks):
            part = kdf.iloc[
                [i for i in range(len(kdf)) if i % n_chunks == chunk]
            ]
            for emitted in proc.handleInputRows((key,), iter([part[["bucket", "rho"]]]), None):
                out = emitted
        proc.close()
        final[key] = (
            int(out["n_seen"][0]), int(out["n_used"][0]), float(out["est"][0])
        )

    batch = {
        r.key: (r.n_seen, r.n_used, r.est)
        for r in running_distinct_estimate(
            df, "etype", "uid", streaming=False
        ).collect()
    }
    assert set(final) == set(batch) == {"t0", "t1"}
    for k in batch:
        assert final[k][0] == batch[k][0]              # rows seen
        assert final[k][1] == batch[k][1]              # registers used
        assert abs(final[k][2] - batch[k][2]) < 1e-9   # estimate

    # estimate lands in the m=64 error envelope of the true count
    truth = {
        r.etype: r.n
        for r in df.groupBy("etype")
        .agg(F.countDistinct("uid").alias("n")).collect()
    }
    for k, n in truth.items():
        assert n * 0.55 < final[k][2] < n * 1.45


def test_state_is_m_bounded(spark):
    """After any number of rows, per-key state is exactly m register
    ints + one counter — never grows with cardinality."""
    proc = HllRunningProcessor()
    handle = _FakeHandle()
    proc.init(handle)
    big = pd.DataFrame(
        {"bucket": [i % HLL_M for i in range(5000)],
         "rho": [(i * 13) % 20 + 1 for i in range(5000)]}
    )
    list(proc.handleInputRows(("k",), iter([big]), None))
    regs = handle.states["regs"].get()[0]
    assert len(regs) == HLL_M
    assert handle.states["seen"].get()[0] == 5000


def test_estimator_python_matches_column_side(spark):
    """hll_estimate_py must equal operators/sketch.hll_estimate on the
    same registers (same alpha, same exact harmonic sum, same
    correction) — the cross-engine contract of the running form."""
    from goflow2clickhouse_spark.operators.sketch import hll_estimate

    regs = [0] * HLL_M
    for i in range(0, HLL_M, 3):
        regs[i] = (i * 7) % 12 + 1
    reg_df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(regs) if r > 0],
        "bucket long, rho long",
    )
    jvm = hll_estimate(reg_df).collect()[0]
    n_used, est = hll_estimate_py(regs)
    assert jvm.n_used == n_used
    assert abs(jvm.est - est) < 1e-9


@pytest.mark.skipif(
    _has_protobuf(), reason="protobuf present: streaming path usable"
)
def test_streaming_entry_guard_without_protobuf(spark):
    df, _ = _rows(spark)
    with pytest.raises(ImportError, match="protobuf"):
        running_distinct_estimate(df, "etype", "uid", streaming=True)


# ---------------------------------------------------------------------------
# foreachBatch twin: REAL streaming end-to-end, no protobuf needed
# ---------------------------------------------------------------------------

def test_foreach_batch_stream_matches_batch_twin_per_batch(spark, tmp_path):
    """Stream 3 micro-batches (file source, one file per trigger) into
    the register store; after EVERY batch the store's running estimate
    must equal the batch twin over the prefix of rows delivered so
    far — the running-estimate contract on a real stream."""
    from goflow2clickhouse_spark.streaming.hll import (
        HllRegisterStore,
        running_distinct_foreach_batch,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    regs = str(tmp_path / "regs")
    ckpt = str(tmp_path / "ckpt")

    chunks = []
    for chunk in range(3):
        rows = [
            ("t%d" % (i % 2), (chunk * 61 + i * 7) % 400)
            for i in range(80)
        ]
        chunks.append(rows)

    def write_chunk(n):
        # stage outside the watched dir, copy in under a `_` name (the
        # file source skips those), then rename atomically: a trigger
        # never lists a half-written or vanishing file
        import glob
        import os
        import shutil

        stage = tmp_path / "stage" / f"chunk{n}"
        spark.createDataFrame(
            chunks[n], "etype string, uid long"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        for f in glob.glob(str(stage / "part-*.parquet")):
            tmp = str(indir / f"_batch{n}.parquet")
            shutil.copy(f, tmp)
            os.replace(tmp, str(indir / f"batch{n}.parquet"))

    write_chunk(0)
    stream = (
        spark.readStream.schema("etype string, uid long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q = running_distinct_foreach_batch(stream, "etype", "uid", regs, ckpt)
    try:
        store = HllRegisterStore(regs)
        from goflow2clickhouse_spark.streaming.hll import (
            running_distinct_estimate,
        )

        seen_rows = []
        for n in range(3):
            if n > 0:
                write_chunk(n)
            q.processAllAvailable()
            seen_rows += chunks[n]
            prefix = spark.createDataFrame(
                seen_rows, "etype string, uid long"
            )
            want = {
                r["key"]: (r["n_seen"], r["n_used"], round(r["est"], 9))
                for r in running_distinct_estimate(
                    prefix, "etype", "uid", streaming=False
                ).collect()
            }
            got = {
                r["key"]: (r["n_seen"], r["n_used"], round(r["est"], 9))
                for r in store.estimates(spark).collect()
            }
            assert got == want, f"batch {n}: {got} != {want}"
    finally:
        q.stop()


def test_register_store_epoch_replay_skipped(spark, tmp_path):
    """A redelivered epoch (restart replay) must not double-count
    n_seen: fold() returns False and leaves the store unchanged."""
    from goflow2clickhouse_spark.streaming.hll import HllRegisterStore

    store = HllRegisterStore(str(tmp_path / "regs"))
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, uid long"
    )
    assert store.fold(df, "k", "uid", epoch_id=0, run_id="ckpt-A") is True
    before = sorted(map(tuple, store.estimates(spark).collect()))
    assert store.fold(df, "k", "uid", epoch_id=0, run_id="ckpt-A") is False
    after = sorted(map(tuple, store.estimates(spark).collect()))
    assert before == after
    assert store.fold(df, "k", "uid", epoch_id=1, run_id="ckpt-A") is True
    n_seen = {
        r["key"]: r["n_seen"] for r in store.estimates(spark).collect()
    }
    assert n_seen == {"a": 4, "b": 2}  # registers idempotent, seen adds


def test_register_store_fresh_run_id_resets_epoch_gate(spark, tmp_path):
    """Reusing a register store under a FRESH checkpoint restarts
    foreachBatch epochs at 0; the gate must key on (run_id, epoch), not
    epoch alone — the old behavior silently dropped every fold of the
    new stream and served stale estimates (r5 review)."""
    from goflow2clickhouse_spark.streaming.hll import HllRegisterStore

    store = HllRegisterStore(str(tmp_path / "regs"))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, uid long")
    assert store.fold(df, "k", "uid", epoch_id=0, run_id="ckpt-A") is True
    assert store.fold(df, "k", "uid", epoch_id=1, run_id="ckpt-A") is True
    # new stream, fresh checkpoint, epochs restart at 0: must FOLD
    df2 = spark.createDataFrame([("a", 9), ("c", 3)], "k string, uid long")
    assert store.fold(df2, "k", "uid", epoch_id=0, run_id="ckpt-B") is True
    n_seen = {
        r["key"]: r["n_seen"] for r in store.estimates(spark).collect()
    }
    assert n_seen == {"a": 3, "b": 2, "c": 1}
    # and the gate now guards the NEW lineage: replay of B's epoch skips
    assert store.fold(df2, "k", "uid", epoch_id=0, run_id="ckpt-B") is False


def test_register_store_manual_nonmonotonic_epoch_raises(spark, tmp_path):
    """Without a run_id the store cannot tell restart-replay from a
    reused-store new stream — it must fail loudly, never skip silently."""
    import pytest

    from goflow2clickhouse_spark.streaming.hll import HllRegisterStore

    store = HllRegisterStore(str(tmp_path / "regs"))
    df = spark.createDataFrame([("a", 1)], "k string, uid long")
    assert store.fold(df, "k", "uid", epoch_id=5) is True
    with pytest.raises(ValueError, match="non-monotonic epoch"):
        store.fold(df, "k", "uid", epoch_id=5)


def test_register_store_prunes_old_versions(spark, tmp_path):
    import os

    from goflow2clickhouse_spark.streaming.hll import HllRegisterStore

    store = HllRegisterStore(str(tmp_path / "regs"), keep_versions=2)
    df = spark.createDataFrame([("a", 1)], "k string, uid long")
    for e in range(4):
        store.fold(df, "k", "uid", epoch_id=e)
    vers = sorted(
        d for d in os.listdir(str(tmp_path / "regs")) if d.startswith("v")
    )
    assert vers == ["v3", "v4"]


def test_checkpoint_run_id_tracks_lineage_not_path(spark, tmp_path):
    """A wiped-and-recreated checkpoint at the SAME path is a new
    lineage: the run id must come from the checkpoint's metadata query
    id (regenerated on recreate), not the directory path string. Read
    through the checkpoint's OWN filesystem (r7 review: a driver-local
    open() always failed on hdfs:// checkpoints, silently falling back
    to the frozen-gate path behavior)."""
    import json
    import shutil

    from goflow2clickhouse_spark.streaming.hll import _checkpoint_run_id

    ck = tmp_path / "ck"
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "query-AAAA"}))
    assert _checkpoint_run_id(spark, str(ck)) == "query-AAAA"
    shutil.rmtree(ck)
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "query-BBBB"}))
    assert _checkpoint_run_id(spark, str(ck)) == "query-BBBB"
    # unreadable metadata (stream not started yet): path fallback
    shutil.rmtree(ck)
    assert _checkpoint_run_id(spark, str(ck)) == str(ck)


def test_null_key_group_survives_batch_twin_and_store(spark, tmp_path):
    """GROUP BY keeps a NULL-key group and the stateful processor
    emits it, but the batch twin's plain inner join rejected null=null
    — the group silently vanished from the batch side (r8 review).
    Both the batch twin and the register store must now surface it."""
    from goflow2clickhouse_spark.streaming.hll import HllRegisterStore

    df = spark.createDataFrame(
        [("t0", 1), ("t0", 2), (None, 3), (None, 4), (None, 3)],
        "etype string, uid long",
    )
    batch = {
        r.key: (r.n_seen, r.n_used)
        for r in running_distinct_estimate(
            df, "etype", "uid", streaming=False
        ).collect()
    }
    assert set(batch) == {"t0", None}
    assert batch[None][0] == 3  # rows seen under the null key
    assert batch["t0"][0] == 2

    store = HllRegisterStore(str(tmp_path / "hll_null"))
    assert store.fold(df, "etype", "uid", 0, run_id="ck-N") is True
    est = {
        r.key: (r.n_seen, r.n_used)
        for r in store.estimates(spark).collect()
    }
    assert est == batch  # store round-trips the null group identically
