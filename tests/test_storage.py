"""Partitioned storage layouts: time-ranged flow queries and IVF probes
must prune at the directory level (PartitionFilters), reading none of
the out-of-range data."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from goflow2clickhouse_spark.plans.flows_view import flows_df
from goflow2clickhouse_spark.plans.storage import (
    eligible_embeddings,
    read_flows,
    write_filtered_ivf_index,
    write_flows_partitioned,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def flows_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("flows_store")
    # spread synthetic flows over 3 days
    f = flows_df(spark, SF).withColumn(
        "time_received",
        F.col("time_received") + (F.col("sequence_num") % 3) * 86400,
    )
    write_flows_partitioned(f, str(p / "flows"))
    return str(p / "flows")


def test_flows_date_partition_pruning(spark, flows_path):
    df = read_flows(spark, flows_path).filter(
        F.col("event_date") == "2023-11-14"
    )
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan
    dates = {r.event_date for r in df.select("event_date").distinct().collect()}
    assert len(dates) == 1


def test_flows_partition_layout_roundtrip(spark, flows_path):
    total = read_flows(spark, flows_path).count()
    assert total == flows_df(spark, SF).count()
    days = read_flows(spark, flows_path).select("event_date").distinct().count()
    assert days == 3


def test_ivf_index_partition_pruned_probe(spark, tmp_path):
    """The versioned IVF layout's `cells` leg is hive-partitioned by
    cell: a cell predicate becomes a PartitionFilter, and every
    eligible vector landed in exactly one cell."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)
    idx = spark.read.parquet(f"{path}/v1/cells")
    probe = idx.filter(F.col("cell").isin(2, 5))
    plan = _plan(probe)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    n_eligible = eligible_embeddings(docs, emb).count()
    assert n_eligible > 0
    assert idx.count() == n_eligible
    assert idx.select("vec_id").distinct().count() == n_eligible


def test_streaming_into_partitioned_layout(spark, tmp_path):
    """Ingest stream → partitioned_flows_sink → date-partitioned layout
    readable with partition pruning; contents equal the batch transform
    of the same input."""
    from goflow2clickhouse_spark.operators.flows import flow_transform
    from goflow2clickhouse_spark.schema import RAW_FLOW_SCHEMA
    from goflow2clickhouse_spark.sinks import partitioned_flows_sink
    from goflow2clickhouse_spark.streaming.ingest import IngestConfig, IngestPipeline
    from tests.test_flows_transform import _raw_row

    src = tmp_path / "in"
    rows = [
        _raw_row(TimeReceived=1_700_000_000 + d * 86400, SequenceNum=d * 10 + i)
        for d in range(2)
        for i in range(5)
    ]
    spark.createDataFrame(rows, RAW_FLOW_SCHEMA).coalesce(1).write.parquet(str(src))
    out = tmp_path / "flows_store"
    cfg = IngestConfig(listen=f"file://{src}", checkpoint=str(tmp_path / "ck"))
    q = IngestPipeline(spark, cfg, partitioned_flows_sink(str(out))).start(
        query_name="part_sink", available_now=True
    )
    q.awaitTermination(120)

    stored = read_flows(spark, str(out))
    assert stored.count() == 10
    assert stored.select("event_date").distinct().count() == 2
    one_day = stored.filter(F.col("event_date") == "2023-11-14")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", _plan(one_day))
    assert m and "event_date" in m.group(1)
    batch = flow_transform(spark.read.schema(RAW_FLOW_SCHEMA).parquet(str(src)))
    assert sorted(r.sequence_num for r in stored.collect()) == sorted(
        r.sequence_num for r in batch.collect()
    )


def test_clustered_write_rowgroup_pruning(spark, tmp_path):
    """write_clustered must produce parquet whose row-group min/max
    stats make a point predicate prunable: for a probe value, the
    number of row groups whose [min, max] contains it should be a
    small fraction of the total (vs ~all of them unclustered)."""
    import glob

    import pyarrow.parquet as pq

    from goflow2clickhouse_spark.plans.storage import write_clustered

    # numPartitions pins the input's split count, so the unclustered
    # control's file/row-group layout is the same at every core count
    df = (
        spark.range(0, 100_000, numPartitions=8)
        .select(
            (F.col("id") * 2654435761 % 100_000).alias("key"),
            F.col("id").alias("payload"),
        )
        .repartition(8)  # scramble so the input arrives unsorted
    )

    clustered = str(tmp_path / "clustered")
    plain = str(tmp_path / "plain")
    write_clustered(df, clustered, ["key"], n_files=10)
    df.write.parquet(plain)

    def containing_fraction(path: str, probe: int) -> float:
        total = hits = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)
                assert col.path_in_schema == "key"
                total += 1
                if col.statistics.min <= probe <= col.statistics.max:
                    hits += 1
        assert total > 0
        return hits / total

    for probe in (17, 50_000, 99_990):
        assert containing_fraction(clustered, probe) <= 0.34
        # the unclustered layout can skip (almost) nothing: every file
        # spans ~the whole key domain (edge probes may just miss a
        # file's sampled extremes, hence the 0.7 floor, not 1.0)
        assert containing_fraction(plain, probe) >= 0.7

    # layout preserves the data
    back = spark.read.parquet(clustered)
    assert back.count() == 100_000
    assert back.agg(F.sum("payload")).first()[0] == sum(range(100_000))


def test_zordered_write_prunes_both_dims(spark, tmp_path):
    """Z-ordered layout must make row-group stats selective on BOTH
    interleaved columns; a single-key sort only serves its leading
    column (the classic index-prefix failure this layout fixes)."""
    import glob

    import pyarrow.parquet as pq

    from goflow2clickhouse_spark.plans.storage import (
        write_clustered,
        write_zordered,
    )

    df = (
        spark.range(0, 65536)
        .select(
            (F.col("id") % 256).alias("x"),
            (F.floor(F.col("id") / 256) % 256).alias("y"),
        )
        .repartition(8)
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(df, zpath, ["x", "y"], bits=8, n_files=32)
    write_clustered(df, spath, ["x"], n_files=32)

    def frac(path, col_name, probe):
        total = hits = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            ci = names[col_name]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                total += 1
                if st.min <= probe <= st.max:
                    hits += 1
        return hits / total

    for probe in (3, 128, 250):
        # z-order: BOTH dimensions are selective (range boundaries are
        # sample-based, not tile-aligned, hence <= 0.5, not the ~0.25
        # of perfectly aligned tiles)
        assert frac(zpath, "x", probe) <= 0.5
        assert frac(zpath, "y", probe) <= 0.5
        # single-key sort: leading column prunes hard...
        assert frac(spath, "x", probe) <= 0.2
        # ...but the trailing column cannot prune at all
        assert frac(spath, "y", probe) >= 0.9


def test_zorder_bit_budget_guard():
    """The interleaved key must fit a signed long: 4 columns at the
    default 16 bits would need bit 63 (the sign bit) — rejected."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import zorder_value

    with _pytest.raises(ValueError, match="63"):
        zorder_value(["a", "b", "c", "d"], bits=16)
    zorder_value(["a", "b", "c", "d"], bits=15)  # 60 bits: fine


def _scan_nodes(df):
    """FileSourceScanExec nodes of an EXECUTED plan (run .collect()
    first) — their metrics report the files/partitions actually read.
    Descends through AQE wrappers (AdaptiveSparkPlanExec's final plan,
    QueryStageExec's materialized stage, reused exchanges/subqueries)."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name:
            out.append(node)
        if "AdaptiveSparkPlan" in name:
            walk(node.executedPlan())
        elif "QueryStage" in name:
            walk(node.plan())
        elif "ReusedExchange" in name or "ReusedSubquery" in name:
            walk(node.child())
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_filtered_ivf_index_probe_reads_only_nprobe_cells(spark, tmp_path):
    """The layout filtered_ann_ivf's docstring promises, proven from
    real parquet/partition metadata (r5 verdict item 5): the persisted
    index holds ONLY eligible vectors, and a probe's executed scan
    reads exactly nprobe cell partitions — not the other cells'
    files."""
    import os

    from goflow2clickhouse_spark.plans.storage import (
        ivf_index_probe,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)

    # (1) eligibility gate held at WRITE time: every stored vec_id
    # satisfies the metadata predicate
    ok_ids = {
        r["doc_id"]
        for r in docs.filter(
            (F.col("n_chars") >= 200) & (F.col("lang") == "en")
        ).select("doc_id").collect()
    }
    idx = spark.read.parquet(f"{path}/v1/cells")
    stored = {r["vec_id"] for r in idx.select("vec_id").collect()}
    assert stored and stored <= ok_ids
    n_cells_present = idx.select("cell").distinct().count()
    assert n_cells_present > 2  # pruning claim below is non-vacuous

    # (2) directory layout is hive-partitioned by cell
    dirs = {d for d in os.listdir(f"{path}/v1/cells") if d.startswith("cell=")}
    assert len(dirs) == n_cells_present

    # (3) the probe's EXECUTED scan touched exactly nprobe partitions
    q = emb.filter(F.col("vec_id") == 0)
    res = ivf_index_probe(spark, path, q, k=10, nprobe=2)
    rows = res.collect()
    assert 0 < len(rows) <= 10
    scans = [
        s for s in _scan_nodes(res)
        if "cells" in s.toString() or "cell" in str(s.metadata())
    ]
    idx_scans = [
        s for s in scans if s.metrics().contains("numPartitions")
    ]
    assert idx_scans, "no partitioned file scan found in executed plan"
    read_parts = max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    )
    assert read_parts == 2, f"probe read {read_parts} cell partitions, not 2"

    # (4) and the result equals serving the same probe from the
    # in-memory operator over the same eligible vectors
    from goflow2clickhouse_spark.operators.similarity import ivf_topk

    ok = docs.filter(
        (F.col("n_chars") >= 200) & (F.col("lang") == "en")
    ).select(F.col("doc_id").alias("vec_id"))
    eligible = emb.join(ok, "vec_id", "left_semi")
    expect = ivf_topk(eligible, q, k=10, nprobe=2, n_cells=8)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expect.collect()))


def test_filtered_ivf_rebuild_commits_atomically(spark, tmp_path):
    """A rebuild lands as a NEW committed version (v2) and the probe
    never mixes generations: _CURRENT moves only after both cells and
    centroids are fully written, and old versions prune to
    keep_versions."""
    import json
    import os

    from goflow2clickhouse_spark.plans.storage import (
        ivf_index_probe,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)
    first = ivf_index_probe(
        spark, path, emb.filter(F.col("vec_id") == 0), k=5
    ).collect()
    # rebuild over a SHRUNK corpus: new version, consistent end-to-end
    write_filtered_ivf_index(
        docs, emb.filter(F.col("vec_id") % 2 == 0), path, n_cells=8
    )
    cur = json.load(open(os.path.join(path, "_CURRENT")))
    assert cur["version"] == 2
    second = ivf_index_probe(
        spark, path, emb.filter(F.col("vec_id") == 0), k=5
    ).collect()
    assert all(r["vec_id"] % 2 == 0 for r in second)
    assert first  # v1 result was served before the rebuild
    # a third build prunes v1 (keep_versions=2)
    write_filtered_ivf_index(docs, emb, path, n_cells=8)
    assert not os.path.isdir(os.path.join(path, "v1"))
    assert os.path.isdir(os.path.join(path, "v3"))


def test_ivf_probe_rejects_multi_query(spark, tmp_path):
    """>1 query row would merge queries into one interleaved top-k
    with no qid — the probe must refuse loudly and point at the
    persisted batch probe."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        ivf_index_probe,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf2")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)
    # the hint names the persisted batch twin, not the float-scanning
    # in-memory batch_topk
    with _pytest.raises(ValueError, match="one query.*use ivf_batch_probe"):
        ivf_index_probe(spark, path, emb.filter(F.col("vec_id") < 2), k=5)


# ---------------------------------------------------------------------------
# persisted MinHash band index (incremental dedup)
# ---------------------------------------------------------------------------

def _band_corpus(spark):
    """old = fixture documents; new = half-overlapping variants (some
    near-dup by word-suffix edit, some verbatim, some novel)."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 2 == 0)
    near = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    exact = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), F.col("text")
    )
    new = near.unionByName(exact)
    return old, new


def test_band_index_probe_equals_recompute(spark, tmp_path):
    """The persisted-index probe is result-equal to the recompute form
    (the differential the r6 verdict asked for): same (id_a, id_b,
    jaccard) multiset."""
    from goflow2clickhouse_spark.operators.dedup import (
        incremental_neardup_pairs,
    )
    from goflow2clickhouse_spark.plans.storage import (
        incremental_neardup_pairs_indexed,
        write_band_index,
    )

    old, new = _band_corpus(spark)
    path = str(tmp_path / "bandidx")
    write_band_index(old, path)
    got = sorted(
        map(tuple, incremental_neardup_pairs_indexed(new, path).collect())
    )
    want = sorted(
        map(tuple, incremental_neardup_pairs(old, new).collect())
    )
    assert got == want and got  # non-vacuous: planted pairs exist


def test_band_index_probe_never_scans_corpus_text(spark, tmp_path):
    """The 100 TB claim, proven from the EXECUTED plan: every file scan
    in the probe reads from the index directories (bands/shingles) and
    none reads a `text` column — the old corpus text is re-scanned
    zero times per increment."""
    from goflow2clickhouse_spark.plans.storage import (
        incremental_neardup_pairs_indexed,
        write_band_index,
    )

    old, new = _band_corpus(spark)
    path = str(tmp_path / "bandidx2")
    write_band_index(old, path)
    # a NEW batch from in-memory rows: the only parquet in the plan is
    # the index itself
    new_mem = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in new.limit(50).collect()],
        "doc_id bigint, text string",
    )
    res = incremental_neardup_pairs_indexed(new_mem, path)
    res.collect()
    scans = _scan_nodes(res)
    assert scans, "expected index file scans in the executed plan"
    for s in scans:
        meta = str(s.metadata())
        schema = s.schema().simpleString()
        assert path in meta, f"scan outside the index: {meta[:200]}"
        assert "text" not in schema, f"probe read text: {schema}"


def test_band_index_rejects_geometry_mismatch_and_missing(spark, tmp_path):
    """A probe against an index built with different shingle width must
    refuse loudly — a silent mismatch collapses recall with no error —
    and a probe with no committed index raises FileNotFoundError."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        incremental_neardup_pairs_indexed,
        write_band_index,
    )

    old, new = _band_corpus(spark)
    path = str(tmp_path / "bandidx3")
    with _pytest.raises(FileNotFoundError, match="no committed"):
        incremental_neardup_pairs_indexed(new, path)
    write_band_index(old, path, n=4)
    with _pytest.raises(ValueError, match="geometry|built with"):
        incremental_neardup_pairs_indexed(new, path, n=3)
    # matching parameters serve fine
    assert incremental_neardup_pairs_indexed(new, path, n=4).count() >= 0


def test_band_index_versioned_rebuild(spark, tmp_path):
    """Rebuilds commit as new atomic versions through the Hadoop FS
    (versioned.py): _CURRENT advances, the probe serves the newest
    build, old versions prune to keep_versions."""
    import json
    import os

    from goflow2clickhouse_spark.plans.storage import (
        incremental_neardup_pairs_indexed,
        write_band_index,
    )

    old, new = _band_corpus(spark)
    path = str(tmp_path / "bandidx4")
    write_band_index(old, path)
    n1 = incremental_neardup_pairs_indexed(new, path).count()
    # rebuild over a SHRUNK corpus: fewer old docs -> no more pairs
    write_band_index(old.filter(F.col("doc_id") % 40 == 0), path)
    cur = json.load(open(os.path.join(path, "_CURRENT")))
    assert cur["version"] == 2
    n2 = incremental_neardup_pairs_indexed(new, path).count()
    assert n2 <= n1
    write_band_index(old, path)
    assert not os.path.isdir(os.path.join(path, "v1"))
    assert os.path.isdir(os.path.join(path, "v3"))


def test_semdedup_persisted_equals_in_memory(spark, tmp_path):
    """SemDeDup over the persisted filtered-IVF layout is result-equal
    to the in-memory form over the same eligible set (r6 verdict item
    5): same (id, cell, ccos, is_pruned) multiset — centroids and
    assignments read from the index, ccos recomputed with the same
    hoisted-norm arithmetic, every prune decision identical."""
    from goflow2clickhouse_spark.operators.similarity import semdedup_prune
    from goflow2clickhouse_spark.plans.storage import (
        eligible_embeddings,
        semdedup_prune_persisted,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf_sd")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)

    # tau=0.2: the sf0.001 eligible subset (138 vectors) has no planted
    # semantic dups above 0.9, so a high tau would make parity vacuous
    # — at 0.2 roughly half the set prunes, exercising both branches
    got = sorted(
        map(tuple, semdedup_prune_persisted(spark, path, tau=0.2).collect())
    )
    eligible = eligible_embeddings(docs, emb)
    want = sorted(
        map(tuple, semdedup_prune(eligible, tau=0.2, n_cells=8).collect())
    )
    assert got == want and got
    assert any(r[3] for r in got), "no prunes fired — parity is vacuous"
    assert any(not r[3] for r in got), "everything pruned — too blunt"


def test_semdedup_persisted_requires_committed_index(spark, tmp_path):
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import semdedup_prune_persisted

    with _pytest.raises(FileNotFoundError, match="no committed"):
        semdedup_prune_persisted(spark, str(tmp_path / "missing"), tau=0.9)


def test_ivf_probe_rejects_mismatched_build_params(spark, tmp_path):
    """The IVF probe now records+checks build parameters like the band
    index (r7 review): a probe expecting a different geometry or
    eligibility gate than the committed build refuses loudly instead
    of silently serving a different cell layout than its oracle."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        ivf_index_probe,
        semdedup_prune_persisted,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf_meta")
    write_filtered_ivf_index(docs, emb, path, n_cells=8, lang="en")
    q = emb.filter(F.col("vec_id") == 0)
    with _pytest.raises(ValueError, match="built with"):
        ivf_index_probe(spark, path, q, expect={"n_cells": 16})
    with _pytest.raises(ValueError, match="built with"):
        semdedup_prune_persisted(spark, path, tau=0.2, expect={"lang": "de"})
    # matching expectations serve fine
    assert ivf_index_probe(
        spark, path, q, expect={"n_cells": 8, "min_chars": 200, "lang": "en"}
    ).count() > 0


def test_write_zordered_rejects_scratch_column_clash(spark, tmp_path):
    """A pre-existing '__z' input column was silently replaced and then
    dropped (data loss, no error) — refuse loudly (r7 review)."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import write_zordered

    df = spark.range(10).select(
        F.col("id").alias("a"), F.col("id").alias("b"),
        F.col("id").alias("__z"),
    )
    with _pytest.raises(ValueError, match="__z"):
        write_zordered(df, str(tmp_path / "z"), ["a", "b"], bits=8)


def test_ivf_append_serves_union_and_ignores_torn_delta(spark, tmp_path):
    """Appending a batch makes its (eligible) vectors servable without
    touching base cells; an uncommitted delta directory (torn append)
    is invisible; a rebuild resets the append counter."""
    import json
    import os

    from goflow2clickhouse_spark.plans.storage import (
        _read_index_cells,
        append_to_ivf_index,
        eligible_embeddings,
        write_filtered_ivf_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta, version_dir

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf_append")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    write_filtered_ivf_index(docs, even, path, n_cells=8)
    append_to_ivf_index(docs, odd, path)

    meta = current_meta(spark, path)
    assert meta["appends"] == 1 and meta["version"] == 1
    base = version_dir(path, 1)
    stored = {
        r["vec_id"]
        for r in _read_index_cells(spark, path, base, meta)
        .select("vec_id").collect()
    }
    want = {
        r["vec_id"] for r in eligible_embeddings(docs, emb).select("vec_id").collect()
    }
    assert stored == want  # ineligible batch rows never written
    # base cells untouched by the append: they hold exactly the evens
    base_ids = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(base, "cells"))
        .select("vec_id").collect()
    }
    assert base_ids == {v for v in want if v % 2 == 0}

    # torn delta: a2 exists on disk but _CURRENT still says appends=1
    odd.limit(3).withColumn("cell", F.lit(0).cast("long")).write.partitionBy(
        "cell"
    ).parquet(os.path.join(base, "appends", "a2", "cells"))
    again = {
        r["vec_id"]
        for r in _read_index_cells(spark, path, base, current_meta(spark, path))
        .select("vec_id").collect()
    }
    assert again == stored  # uncommitted delta invisible

    # rebuild bumps the version and resets appends
    write_filtered_ivf_index(docs, emb, path, n_cells=8)
    meta2 = current_meta(spark, path)
    assert meta2["version"] == 2 and meta2.get("appends", 0) == 0


def test_ivf_append_requires_committed_index(spark, tmp_path):
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import append_to_ivf_index

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with _pytest.raises(FileNotFoundError, match="no committed"):
        append_to_ivf_index(docs, emb, str(tmp_path / "missing"))


def test_band_index_sha_set_matches_corpus(spark, tmp_path):
    """The index's stored sha set equals the distinct sha2-256 of the
    indexed corpus — the exact-dup gate's old side, served without
    re-reading old text (r7: completes the no-old-text-scan story for
    the full incremental-dedup increment)."""
    from goflow2clickhouse_spark.plans.storage import (
        band_index_sha_set,
        write_band_index,
    )

    old, _ = _band_corpus(spark)
    path = str(tmp_path / "bandidx_sha")
    write_band_index(old, path)
    got = {r["_sha"] for r in band_index_sha_set(spark, path).collect()}
    want = {
        r["s"]
        for r in old.select(F.sha2("text", 256).alias("s")).distinct().collect()
    }
    assert got == want and got


def test_band_index_append_two_batch_crawl_loop(spark, tmp_path):
    """The daily-crawl loop: build on day-0 corpus, append day-1's
    batch, then day-2's batch must dedup against BOTH — result-equal
    to the recompute form over the accumulated corpus; the sha set
    accumulates too; a torn append delta stays invisible."""
    import os

    from goflow2clickhouse_spark.operators.dedup import (
        incremental_neardup_pairs,
    )
    from goflow2clickhouse_spark.plans.storage import (
        append_to_band_index,
        band_index_sha_set,
        incremental_neardup_pairs_indexed,
        write_band_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta, version_dir

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    day0 = d.filter(F.col("doc_id") % 3 == 0)
    day1 = d.filter(F.col("doc_id") % 3 == 1).unionByName(
        # near-dups of day0 docs so cross-batch pairs exist
        d.filter(F.col("doc_id") % 30 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    day2 = d.filter(F.col("doc_id") % 3 == 2).unionByName(
        # near-dups of DAY1 docs — only visible if the append is served
        d.filter(F.col("doc_id") % 30 == 1).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    path = str(tmp_path / "bandidx_crawl")
    write_band_index(day0, path)
    append_to_band_index(day1, path)
    assert current_meta(spark, path)["appends"] == 1

    got = sorted(
        map(tuple, incremental_neardup_pairs_indexed(day2, path).collect())
    )
    accumulated = day0.unionByName(day1)
    want = sorted(
        map(tuple, incremental_neardup_pairs(accumulated, day2).collect())
    )
    assert got == want and got
    # some pair must hit the APPENDED batch (id_a in day1's plant range
    # or day1 originals) — otherwise the append leg proved nothing
    day1_ids = {r["doc_id"] for r in day1.select("doc_id").collect()}
    assert any(a in day1_ids for a, _, _ in got)

    # sha set accumulates across base + delta
    shas = {r["_sha"] for r in band_index_sha_set(spark, path).collect()}
    want_shas = {
        r["s"]
        for r in accumulated.select(F.sha2("text", 256).alias("s"))
        .distinct().collect()
    }
    assert shas == want_shas

    # torn delta (a2 on disk, not committed) changes nothing
    base = version_dir(path, 1)
    day2.limit(2).select(F.col("doc_id"), F.col("text")).write.parquet(
        os.path.join(base, "appends", "a2", "shingles")
    )
    again = sorted(
        map(tuple, incremental_neardup_pairs_indexed(day2, path).collect())
    )
    assert again == got


# ---------------------------------------------------------------------------
# empty-batch append deltas (r7 advice: an empty partitioned parquet
# write holds only _SUCCESS and poisons every subsequent union read)
# ---------------------------------------------------------------------------

def test_band_index_append_all_short_docs_delta_stays_readable(spark, tmp_path):
    """A committed delta whose docs are all shorter than the shingle
    width has an EMPTY bands leg (only _SUCCESS on disk) but a
    non-empty shas leg — the exact gate must still serve the short
    docs and the probe must not crash on the schema-less bands dir."""
    from goflow2clickhouse_spark.plans.storage import (
        append_to_band_index,
        band_index_sha_set,
        incremental_neardup_pairs_indexed,
        write_band_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    old, new = _band_corpus(spark)
    path = str(tmp_path / "bandidx_short")
    write_band_index(old, path)
    short = spark.createDataFrame(
        [(9000001, "tiny doc"), (9000002, "ok")], "doc_id bigint, text string"
    )
    append_to_band_index(short, path)
    assert current_meta(spark, path)["appends"] == 1

    # probe over the index (base + short-doc delta) still runs and
    # still finds the base-side near-dups
    pairs = incremental_neardup_pairs_indexed(new, path).collect()
    assert pairs
    # the short docs' hashes DID land (exact gate serves them)
    shas = {r["_sha"] for r in band_index_sha_set(spark, path).collect()}
    want_short = {
        r["s"]
        for r in short.select(F.sha2("text", 256).alias("s")).collect()
    }
    assert want_short <= shas


def _seven_layouts(spark):
    """layout -> (build(path), append(batch, path, **kw), batch,
    probe(path) -> sorted rows) for every persisted index layout. The
    gated layouts' (IVF, IVF-PQ) `append` closes over the documents
    side; `batch` is a non-empty append batch of the layout's shape."""
    from goflow2clickhouse_spark.plans import storage as S

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    vecs = emb.filter(F.col("vec_id") % 3 == 1)
    q = emb.filter(F.col("vec_id") == 0)
    old_text, new_text = _band_corpus(spark)

    def hashes(lo, hi, shift=0):
        return spark.range(lo, hi).select(
            (F.col("id") + shift).alias("doc_id"),
            F.xxhash64("id").bitwiseAND(F.lit(2**63 - 1)).alias("phash"),
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    return {
        "band": (
            lambda p: S.write_band_index(old_text, p),
            S.append_to_band_index, new_text,
            lambda p: rows(S.incremental_neardup_pairs_indexed(new_text, p)),
        ),
        "phash": (
            lambda p: S.write_phash_index(hashes(0, 40), p),
            S.append_to_phash_index, hashes(40, 60),
            lambda p: rows(S.incremental_phash_pairs_indexed(
                hashes(0, 10, shift=1_000_000), p)),
        ),
        "ivf": (
            lambda p: S.write_filtered_ivf_index(docs, base, p, n_cells=8),
            lambda b, p, **kw: S.append_to_ivf_index(docs, b, p, **kw),
            vecs,
            lambda p: rows(S.ivf_index_probe(spark, p, q, k=5)),
        ),
        "pq": (
            lambda p: S.write_pq_index(base, p),
            S.append_to_pq_index, vecs,
            lambda p: rows(S.pq_index_probe(spark, p, q, k=5)),
        ),
        "sq": (
            lambda p: S.write_sq_index(base, p),
            S.append_to_sq_index, vecs,
            lambda p: rows(S.sq_index_probe(spark, p, q, k=5)),
        ),
        "ivfsq": (
            lambda p: S.write_ivfsq_index(base, p, n_cells=8),
            S.append_to_ivfsq_index, vecs,
            lambda p: rows(S.ivfsq_probe(spark, p, q, k=5, nprobe=8)),
        ),
        "ivfpq": (
            lambda p: S.write_ivfpq_index(docs, base, p, n_cells=8),
            lambda b, p, **kw: S.append_to_ivfpq_index(docs, b, p, **kw),
            vecs,
            lambda p: rows(S.ivfpq_probe(spark, p, q, k=5, nprobe=8)),
        ),
    }


@pytest.fixture(scope="module")
def built_layouts(spark, tmp_path_factory):
    """Every layout built once; tests append to private copies."""
    root = tmp_path_factory.mktemp("layouts")
    cases = _seven_layouts(spark)
    for layout, (build, _, _, _) in cases.items():
        build(str(root / layout))
    return root, cases


def _index_copy(built_layouts, layout, dest):
    import shutil

    root, _ = built_layouts
    shutil.copytree(root / layout, dest)
    return str(dest)


def _delta_listing(path):
    """Every delta family directory and delta directory on disk, as
    `v{N}/appends[/<name>]` and `v{N}/tombstones[/<name>]`."""
    import glob
    import os

    return sorted(
        os.path.relpath(d, path)
        for fam in ("appends", "tombstones")
        for pattern in (f"v*/{fam}", f"v*/{fam}/*")
        for d in glob.glob(f"{path}/{pattern}")
    )


def test_band_index_append_empty_batch_advances_gate_only(
    spark, tmp_path, built_layouts
):
    """An EMPTY batch (a crawl micro-batch where every doc was a dup —
    routine in steady state) must not commit an unreadable delta, on
    every layout: the caller's `extra` (the streaming replay gate)
    commits, no `appends/` directory is written, `appends` and
    `delta_dirs` stay as they were, and the probe serves the same rows.
    Without `extra` the append is a complete no-op, also after a real
    delta has landed."""
    from goflow2clickhouse_spark.versioned import current_meta

    gate = {"epoch": 7, "run_id": "ck-E"}
    for layout, (_, append, batch, probe) in built_layouts[1].items():
        path = _index_copy(built_layouts, layout, tmp_path / layout)
        before, rows = current_meta(spark, path), probe(path)
        append(batch.limit(0), path, extra=gate)
        meta = current_meta(spark, path)
        assert {k: meta[k] for k in gate} == gate, layout  # gate advanced
        for key in ("appends", "delta_dirs"):
            assert meta.get(key) == before.get(key), (layout, key)
        assert _delta_listing(path) == [], layout
        assert probe(path) == rows, layout

        append(batch, path)
        meta = current_meta(spark, path)
        assert meta["appends"] == 1 and len(meta["delta_dirs"]) == 1
        rows, deltas = probe(path), _delta_listing(path)
        append(batch.limit(0), path)
        assert current_meta(spark, path) == meta, layout  # no commit
        assert _delta_listing(path) == deltas, layout
        assert probe(path) == rows, layout


def test_ivf_append_empty_eligible_batch_is_noop(
    spark, tmp_path, built_layouts
):
    """An append whose batch keeps no rows must not commit an empty
    delta on any layout — for the gated layouts (IVF, IVF-PQ) a batch
    whose ids match NO document (nothing passes the recorded
    min_chars/lang gate), for the others an empty batch. Without
    `extra` nothing commits, and the probe after it keeps working and
    serves the same rows."""
    from goflow2clickhouse_spark.versioned import current_meta

    for layout, (_, append, batch, probe) in built_layouts[1].items():
        path = _index_copy(built_layouts, layout, tmp_path / layout)
        before, rows = current_meta(spark, path), probe(path)
        if layout in ("ivf", "ivfpq"):
            kept_none = batch.limit(3).select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
            )
        else:
            kept_none = batch.filter(F.lit(False))
        append(kept_none, path)
        assert current_meta(spark, path) == before, layout  # no commit
        assert _delta_listing(path) == [], layout
        assert rows and probe(path) == rows, layout


def test_empty_build_refuses_on_every_layout(spark, tmp_path, built_layouts):
    """An empty input refuses the build on all seven layouts with the
    layout's own reason, and leaves no `_CURRENT` and no staging
    directory behind. Over an already-built index, an empty rebuild
    leaves `_CURRENT` (nonce included) and the probe's rows as they
    were."""
    import glob
    import os

    from goflow2clickhouse_spark.plans import storage as S
    from goflow2clickhouse_spark.versioned import current_meta

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    no_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").limit(0)
    no_text = spark.createDataFrame([], "doc_id bigint, text string")
    no_hashes = spark.range(0).select(
        F.col("id").alias("doc_id"), F.col("id").alias("phash")
    )
    builds = {
        "band": (lambda p: S.write_band_index(no_text, p), "no shingles"),
        "phash": (
            lambda p: S.write_phash_index(no_hashes, p),
            "hash relation is empty",
        ),
        "ivf": (
            lambda p: S.write_filtered_ivf_index(docs, no_vecs, p, n_cells=8),
            "eligible set is empty",
        ),
        "pq": (lambda p: S.write_pq_index(no_vecs, p), "corpus is empty"),
        "sq": (lambda p: S.write_sq_index(no_vecs, p), "corpus is empty"),
        "ivfsq": (
            lambda p: S.write_ivfsq_index(no_vecs, p, n_cells=8),
            "corpus is empty",
        ),
        "ivfpq": (
            lambda p: S.write_ivfpq_index(docs, no_vecs, p, n_cells=8),
            "eligible set is empty",
        ),
    }
    assert set(builds) == set(S._LAYOUTS)
    for layout, (build, reason) in builds.items():
        void = str(tmp_path / f"void_{layout}")
        with pytest.raises(ValueError, match=reason):
            build(void)
        assert not os.path.exists(os.path.join(void, "_CURRENT")), layout
        assert glob.glob(f"{void}/_v.tmp.*") == [], layout

        path = _index_copy(built_layouts, layout, tmp_path / layout)
        probe = built_layouts[1][layout][3]
        before, rows = current_meta(spark, path), probe(path)
        with pytest.raises(ValueError, match=reason):
            build(path)
        assert current_meta(spark, path) == before, layout
        assert glob.glob(f"{path}/_v.tmp.*") == [], layout
        assert rows and probe(path) == rows, layout


def test_layout_table_matches_committed_builds(spark, built_layouts):
    """What each builder commits is what the layout table says: the
    layout inferred from `_CURRENT` is the row's own kind, and the
    recorded metadata carries the row's geometry pin, so the pin a
    build records and the pin appends and probes check cannot drift."""
    from goflow2clickhouse_spark.plans.storage import _LAYOUTS, _index_kind
    from goflow2clickhouse_spark.versioned import current_meta

    root, cases = built_layouts
    assert set(cases) == set(_LAYOUTS)
    for layout in cases:
        meta = current_meta(spark, str(root / layout))
        assert _index_kind(meta) == layout
        pin = _LAYOUTS[layout].geometry or {}
        assert {k: meta.get(k) for k in pin} == pin, layout


def test_ivfsq_probe_reads_the_named_vector_column(spark, built_layouts):
    """`ivfsq_probe(vec_col=...)` ranks cells with the named query
    column: a query whose vector column is renamed returns the same
    rows as the default-named one."""
    from goflow2clickhouse_spark.plans.storage import ivfsq_probe

    root, _ = built_layouts
    path = str(root / "ivfsq")
    q = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") == 0
    )
    want = sorted(map(tuple, ivfsq_probe(spark, path, q, k=5).collect()))
    got = ivfsq_probe(
        spark, path, q.withColumnRenamed("embedding", "qv"), k=5,
        vec_col="qv",
    ).collect()
    assert want and sorted(map(tuple, got)) == want


def test_append_write_reads_its_batch_once(spark, tmp_path, built_layouts):
    """Every append's delta write, and a delete's tombstone write,
    evaluates its input exactly once per row on every layout: the row
    count that decides the commit rides the write itself, so there is
    no emptiness check to evaluate it again. Counted by a
    nondeterministic Python UDF filter that logs one line per row it
    evaluates (a filter cannot be pruned away like a projected column;
    a file, unlike an accumulator, also keeps the updates of
    early-stopped tasks)."""
    from pyspark.sql.types import BooleanType

    from goflow2clickhouse_spark.plans.storage import delete_from_index

    def counted(df, col, tag):
        log = tmp_path / f"{tag}.seen"
        log.touch()

        def seen(v, log=str(log)):
            with open(log, "a") as fh:
                fh.write(f"{v}\n")
            return True

        udf = F.udf(seen, BooleanType()).asNondeterministic()
        return df.filter(udf(F.col(col))), log

    for layout, (_, append, batch, _) in built_layouts[1].items():
        path = _index_copy(built_layouts, layout, tmp_path / layout)
        idc = "doc_id" if layout in ("band", "phash") else "vec_id"
        rows, log = counted(batch, idc, layout)
        append(rows, path)
        evaluated, n = len(log.read_text().split()), batch.count()
        assert evaluated == n, (layout, evaluated, n)

    ids = built_layouts[1]["pq"][2].select("vec_id")
    path = _index_copy(built_layouts, "pq", tmp_path / "pq_delete")
    rows, log = counted(ids, "vec_id", "delete")
    delete_from_index(rows, path)
    evaluated, n = len(log.read_text().split()), ids.count()
    assert evaluated == n, ("delete", evaluated, n)


def test_commit_lost_after_delta_write_retries_in_fresh_dir(
    spark, tmp_path, built_layouts, monkeypatch
):
    """Fault injection: `_CURRENT`'s recommit fails once, after the
    delta's data is written, for one append and one delete. The probe
    keeps serving the pre-mutation rows, the retry commits in a fresh
    directory (the torn one stays unreferenced), and the retried index
    serves exactly what an uninterrupted run serves."""
    import os

    from goflow2clickhouse_spark import versioned
    from goflow2clickhouse_spark.plans.storage import (
        delete_from_index,
        pq_index_probe,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    _, append, batch, probe = built_layouts[1]["pq"]
    clean = _index_copy(built_layouts, "pq", tmp_path / "clean")
    torn = _index_copy(built_layouts, "pq", tmp_path / "torn")
    q = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") == 0
    )

    # the uninterrupted run: append, then take down the top-2 hits
    append(batch, clean)
    victims = [
        int(r["vec_id"])
        for r in pq_index_probe(spark, clean, q, k=5).collect()[:2]
    ]
    dead = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    delete_from_index(dead, clean)

    real = versioned.recommit_meta

    def lose_commit_once(*args, **kwargs):
        monkeypatch.setattr(versioned, "recommit_meta", real)
        raise OSError("injected: commit lost after the delta write")

    for mutate, family, listed in (
        (lambda p: append(batch, p), "appends", "delta_dirs"),
        (lambda p: delete_from_index(dead, p), "tombstones",
         "tombstone_dirs"),
    ):
        before, rows = current_meta(spark, torn), probe(torn)
        monkeypatch.setattr(versioned, "recommit_meta", lose_commit_once)
        with pytest.raises(OSError, match="injected"):
            mutate(torn)
        assert current_meta(spark, torn) == before, family
        assert probe(torn) == rows, family  # pre-mutation rows served
        torn_dirs = set(os.listdir(f"{torn}/v1/{family}"))
        assert len(torn_dirs) == 1, family
        mutate(torn)
        meta = current_meta(spark, torn)
        assert meta[family] == 1 and len(meta[listed]) == 1, family
        assert meta[listed][0] not in torn_dirs, family  # fresh dir
    assert probe(torn) == probe(clean)


def test_write_band_index_empty_corpus_raises(spark, tmp_path):
    """A build over a corpus that yields zero shingles would commit an
    unreadable base — must fail loudly instead."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import write_band_index

    short = spark.createDataFrame(
        [(1, "too short")], "doc_id bigint, text string"
    )
    with _pytest.raises(ValueError, match="no shingles"):
        write_band_index(short, str(tmp_path / "bandidx_void"))


def test_ivf_probe_early_raise_does_not_leak_cache(spark, tmp_path):
    """Every early-raise path of ivf_index_probe must unpersist its
    private query cache, and the caller's own persisted DataFrame must
    never be unpersisted by the probe (r7 advice)."""
    import pytest as _pytest
    from pyspark import StorageLevel

    from goflow2clickhouse_spark.plans.storage import (
        ivf_index_probe,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf_leak")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)

    def cached_count():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = cached_count()
    # multi-row query → ValueError; the probe's private cache must be gone
    # the hint names the persisted batch twin, not the float-scanning
    # in-memory batch_topk
    with _pytest.raises(ValueError, match="one query.*use ivf_batch_probe"):
        ivf_index_probe(spark, path, emb.filter(F.col("vec_id") < 2), k=5)
    assert cached_count() == base
    # missing index → FileNotFoundError; same invariant
    with _pytest.raises(FileNotFoundError):
        ivf_index_probe(
            spark, str(tmp_path / "nothere"),
            emb.filter(F.col("vec_id") == 0), k=5,
        )
    assert cached_count() == base
    # the CALLER's persisted query must remain cached after a raise
    q = emb.filter(F.col("vec_id") < 2).persist(StorageLevel.MEMORY_ONLY)
    q.count()
    with _pytest.raises(ValueError, match="one query"):
        ivf_index_probe(spark, path, q, k=5)
    assert q.storageLevel.useMemory  # untouched
    q.unpersist()


# ---------------------------------------------------------------------------
# persisted PQ-code index (r8)
# ---------------------------------------------------------------------------

def test_pq_index_probe_equals_in_memory_and_scans_codes_only(spark, tmp_path):
    """The persisted-PQ probe is result-equal to the in-memory ADC
    form, and its executed plan reads ONLY the index directories —
    the corpus float embedding column is scanned zero times per query
    (the 32x-less-IO claim, pinned from real scan metadata)."""
    from goflow2clickhouse_spark.operators.similarity import pq_adc_topk
    from goflow2clickhouse_spark.plans.storage import (
        pq_index_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pqidx")
    write_pq_index(emb, path)

    # query from an IN-MEMORY row so the only parquet in the probe's
    # plan is the index itself (the band-index test pattern)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    q = spark.createDataFrame(
        [(list(qrow["embedding"]),)], "embedding array<double>"
    )
    res = pq_index_probe(spark, path, q, k=10)
    rows = res.collect()
    assert len(rows) == 10

    want = pq_adc_topk(emb, emb.filter(F.col("vec_id") == 0), k=10)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))

    scans = _scan_nodes(res)
    assert scans, "expected index file scans in the executed plan"
    for s in scans:
        meta = str(s.metadata())
        schema = s.schema().simpleString()
        assert path in meta, f"scan outside the index: {meta[:200]}"
        assert "embedding" not in schema, f"probe read floats: {schema}"
    # and at least one scan read the packed codes
    assert any("pq_code" in s.schema().simpleString() for s in scans)


def test_pq_index_gates_and_versioning(spark, tmp_path):
    """Geometry gate (a probe against a mismatched build refuses
    loudly), missing-index error, single-query contract, no cache
    leak on the raise paths, and rebuild-as-new-version."""
    import json
    import os

    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        pq_index_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q1 = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "pqidx2")
    with _pytest.raises(FileNotFoundError, match="no committed"):
        pq_index_probe(spark, path, q1)
    write_pq_index(emb, path)

    def cached_count():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = cached_count()
    with _pytest.raises(ValueError, match="built with"):
        pq_index_probe(spark, path, q1, expect={"pq_m": 4})
    assert cached_count() == base
    # guard is IN-PLAN since r10 (the _single_query rule): the refusal
    # surfaces at the first action, and empty queries refuse too
    with _pytest.raises(Exception, match="one query"):
        pq_index_probe(spark, path, emb.filter(F.col("vec_id") < 3)).collect()
    with _pytest.raises(Exception, match="one query"):
        pq_index_probe(spark, path, emb.filter(F.col("vec_id") < 0)).collect()
    assert cached_count() == base

    first = pq_index_probe(spark, path, q1, k=3).collect()
    # rebuild over a shrunk corpus: new version, codes follow
    write_pq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    cur = json.load(open(os.path.join(path, "_CURRENT")))
    assert cur["version"] == 2
    second = pq_index_probe(spark, path, q1, k=3).collect()
    assert all(r["vec_id"] % 2 == 0 for r in second)
    assert first and len(second) == 3


def test_pq_batch_probe_matches_single_and_scans_codes_only(spark, tmp_path):
    """The batch probe (r9) must serve each query of the batch exactly
    as the single-query probe would (same codes, same LUT definition,
    same tie-breaks), read ONLY the index directories — never a float
    embedding column — and plan the per-query top-k as
    WindowGroupLimit so the shuffle is bounded at Q x k rows per
    partition. Plus the contract guards: empty batch raises, geometry
    gate, no cache leak on raise."""
    import gc

    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        pq_index_batch_probe,
        pq_index_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pqbatch")
    write_pq_index(emb, path)

    # queries from IN-MEMORY rows so the only parquet in the probe's
    # plan is the index itself (the single-probe test pattern)
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    qs = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "qid long, qvec array<double>",
    )
    res = pq_index_batch_probe(spark, path, qs, k=5)
    rows = res.collect()
    assert len(rows) == 15  # 3 queries x k

    for qid in (0, 1, 2):
        got = sorted(
            (r["rank"], r["vec_id"], r["pq_code"], r["adist"])
            for r in rows if r["qid"] == qid
        )
        q1 = emb.filter(F.col("vec_id") == qid)
        want = [
            (i + 1, r["vec_id"], r["pq_code"], r["adist"])
            for i, r in enumerate(pq_index_probe(spark, path, q1, k=5).collect())
        ]
        assert got == want, f"qid {qid} diverges from the single probe"

    scans = _scan_nodes(res)
    assert scans, "expected index file scans in the executed plan"
    for s in scans:
        meta = str(s.metadata())
        schema = s.schema().simpleString()
        assert path in meta, f"scan outside the index: {meta[:200]}"
        assert "embedding" not in schema, f"probe read floats: {schema}"
    assert any("pq_code" in s.schema().simpleString() for s in scans)
    assert "WindowGroupLimit" in (
        res._jdf.queryExecution().executedPlan().toString()
    )

    def cached_count():
        gc.collect()  # settle weakref-tied caches of dropped results
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = cached_count()
    with _pytest.raises(ValueError, match="empty query batch"):
        pq_index_batch_probe(spark, path, qs.filter(F.col("qid") < 0))
    # duplicated qid (an at-least-once upstream redelivering a query
    # row): two LUT rows for one qid would silently interleave ranks
    # in the unkeyed broadcast join — must refuse loudly (r9 review)
    with _pytest.raises(ValueError, match="unique qid"):
        pq_index_batch_probe(spark, path, qs.unionByName(qs.limit(1)))
    # NULL or wrong-dimension qvec would build an all-NULL LUT and
    # rank that qid's "top-k" purely by id — must refuse loudly, like
    # every other probe guard (r9 advice)
    null_q = spark.createDataFrame(
        [(99, None)], "qid long, qvec array<double>"
    )
    with _pytest.raises(ValueError, match="NULL or wrong-dimension"):
        pq_index_batch_probe(
            spark, path, qs.unionByName(null_q)
        )
    short_q = spark.createDataFrame(
        [(99, [1.0, 2.0])], "qid long, qvec array<double>"
    )
    with _pytest.raises(ValueError, match="NULL or wrong-dimension"):
        pq_index_batch_probe(
            spark, path, qs.unionByName(short_q)
        )
    with _pytest.raises(ValueError, match="built with"):
        pq_index_batch_probe(spark, path, qs, expect={"pq_m": 4})
    with _pytest.raises(FileNotFoundError, match="no committed"):
        pq_index_batch_probe(spark, str(tmp_path / "nothere"), qs)
    assert cached_count() <= base  # raises never leak new caches


# ---------------------------------------------------------------------------
# composed IVF-PQ index (r8)
# ---------------------------------------------------------------------------

def test_ivfpq_probe_prunes_cells_and_reads_codes_only(spark, tmp_path):
    """The composed layout's double saving, pinned from real executed-
    plan metadata: the probe scan touches exactly nprobe cell
    partitions AND reads only the packed code column — never a float
    embedding. Plus contract guards: geometry gate, missing index,
    single query, no cache leak on raise."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        ivfpq_probe,
        write_ivfpq_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    q1 = emb.filter(F.col("vec_id") == 0)
    with _pytest.raises(FileNotFoundError, match="no committed"):
        ivfpq_probe(spark, path, q1)
    write_ivfpq_index(docs, emb, path, n_cells=8)

    res = ivfpq_probe(spark, path, q1, k=10, nprobe=2)
    rows = res.collect()
    assert 0 < len(rows) <= 10

    scans = [
        s for s in _scan_nodes(res)
        if "cells" in s.toString() or "cell" in str(s.metadata())
    ]
    idx_scans = [s for s in scans if s.metrics().contains("numPartitions")]
    assert idx_scans, "no partitioned file scan in executed plan"
    read_parts = max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    )
    assert read_parts == 2, f"probe read {read_parts} cell partitions"
    for s in idx_scans:
        schema = s.schema().simpleString()
        assert "embedding" not in schema, f"probe read floats: {schema}"
        assert "pq_code" in schema

    # stored codes hold only ELIGIBLE ids
    ok_ids = {
        r["doc_id"]
        for r in docs.filter(
            (F.col("n_chars") >= 200) & (F.col("lang") == "en")
        ).select("doc_id").collect()
    }
    assert {r["vec_id"] for r in rows} <= ok_ids

    import gc

    def cached_count():
        gc.collect()  # settle weakref-tied caches of dropped results
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = cached_count()
    with _pytest.raises(ValueError, match="built with"):
        ivfpq_probe(spark, path, q1, expect={"pq_m": 4})
    with _pytest.raises(ValueError, match="one query"):
        ivfpq_probe(spark, path, emb.filter(F.col("vec_id") < 3))
    assert cached_count() <= base  # raises never leak new caches


def test_pq_append_serves_union_and_ignores_torn_delta(spark, tmp_path):
    """Appending a batch makes it servable (encoded against the STORED
    codebook — not a re-derived one), base codes untouched; an
    uncommitted delta dir is invisible; an empty batch is a no-op; a
    rebuild resets the counter."""
    import os

    from goflow2clickhouse_spark.plans.storage import (
        append_to_pq_index,
        pq_index_probe,
        write_pq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta, version_dir

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pq_append")
    write_pq_index(even, path)
    append_to_pq_index(odd, path)
    meta = current_meta(spark, path)
    assert meta["appends"] == 1 and meta["version"] == 1

    q1 = emb.filter(F.col("vec_id") == 0)
    rows = pq_index_probe(spark, path, q1, k=emb.count()).collect()
    assert {r["vec_id"] for r in rows} == {
        r["vec_id"] for r in emb.select("vec_id").collect()
    }
    # codes in the delta used the BASE build's codebook: re-encoding
    # odd ids against a codebook derived from the FULL corpus would
    # differ whenever the lowest-16 id sets differ
    base_dir = version_dir(path, 1)
    base_ids = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(base_dir, "codes"))
        .select("vec_id").collect()
    }
    assert base_ids == {r["vec_id"] for r in even.select("vec_id").collect()}

    # empty batch: complete no-op
    before = current_meta(spark, path)
    append_to_pq_index(odd.filter(F.col("vec_id") < 0), path)
    assert current_meta(spark, path) == before

    # torn delta invisible
    n_before = len(rows)
    odd.limit(3).select("vec_id").withColumn(
        "pq_code", F.lit(0).cast("long")
    ).write.parquet(os.path.join(base_dir, "appends", "a2", "codes"))
    again = pq_index_probe(spark, path, q1, k=emb.count()).collect()
    assert len(again) == n_before

    # rebuild bumps version, resets appends
    write_pq_index(emb, path)
    meta2 = current_meta(spark, path)
    assert meta2["version"] == 2 and meta2.get("appends", 0) == 0


def test_r8_review_guards(spark, tmp_path):
    """Round-8 review pass: (1) keep_versions<1 would prune the version
    just committed; (2) an empty eligible set must fail the IVF/IVF-PQ/
    PQ builds loudly instead of committing a schema-less cells dir;
    (3) append_to_band_index refuses an index whose recorded LSH
    geometry differs from the module constants."""
    import json
    import os

    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        append_to_band_index,
        write_band_index,
        write_filtered_ivf_index,
        write_ivfpq_index,
        write_pq_index,
    )
    from goflow2clickhouse_spark.versioned import commit_version

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    with _pytest.raises(ValueError, match="keep_versions"):
        commit_version(spark, str(tmp_path / "kv"), 1, keep_versions=0)

    for build in (write_filtered_ivf_index, write_ivfpq_index):
        with _pytest.raises(ValueError, match="eligible set is empty"):
            build(docs, emb, str(tmp_path / "void"), lang="zz")
        assert not os.path.exists(str(tmp_path / "void" / "_CURRENT"))
    with _pytest.raises(ValueError, match="corpus is empty"):
        write_pq_index(emb.filter(F.col("vec_id") < 0), str(tmp_path / "pqv"))

    # band-index geometry gate: doctor the recorded bands count
    old, _ = _band_corpus(spark)
    path = str(tmp_path / "bandidx_geom")
    write_band_index(old, path)
    cur = json.load(open(os.path.join(path, "_CURRENT")))
    cur["bands"] = cur["bands"] + 1
    with open(os.path.join(path, "_CURRENT"), "w") as fh:
        json.dump(cur, fh)
    crc = os.path.join(path, "._CURRENT.crc")
    if os.path.exists(crc):  # hand-edit invalidates the local-FS checksum
        os.remove(crc)
    with _pytest.raises(ValueError, match="built with"):
        append_to_band_index(old.limit(3), path)


def test_ivfpq_append_serves_union_with_stored_quantizers(spark, tmp_path):
    """Appended IVF-PQ batches are gated/assigned/encoded with the
    STORED artifacts, readers union base + committed deltas (both
    partition-pruned), torn deltas invisible, empty eligible batch a
    no-op, rebuild resets the counter."""
    import os

    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivfpq_index,
        eligible_embeddings,
        ivfpq_probe,
        write_ivfpq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta, version_dir

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfpq_app")
    write_ivfpq_index(docs, even, path, n_cells=8)
    append_to_ivfpq_index(docs, odd, path)
    meta = current_meta(spark, path)
    assert meta["appends"] == 1 and meta["version"] == 1

    q1 = emb.filter(F.col("vec_id") == 0)
    want_ids = {
        r["vec_id"]
        for r in eligible_embeddings(docs, emb).select("vec_id").collect()
    }
    rows = ivfpq_probe(spark, path, q1, k=len(want_ids), nprobe=8).collect()
    assert {r["vec_id"] for r in rows} == want_ids  # base + delta served
    # base cells untouched: they hold exactly the eligible evens
    base = version_dir(path, 1)
    base_ids = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(base, "cells"))
        .select("vec_id").collect()
    }
    assert base_ids == {v for v in want_ids if v % 2 == 0}

    # ineligible-only batch: complete no-op
    before = current_meta(spark, path)
    ghost = odd.limit(3).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivfpq_index(docs, ghost, path)
    assert current_meta(spark, path) == before

    # torn delta (a2 on disk, uncommitted) invisible
    odd.limit(2).select("vec_id").withColumn(
        "pq_code", F.lit(0).cast("long")
    ).withColumn("cell", F.lit(0).cast("long")).write.partitionBy(
        "cell"
    ).parquet(os.path.join(base, "appends", "a2", "cells"))
    again = ivfpq_probe(spark, path, q1, k=len(want_ids), nprobe=8).collect()
    assert {r["vec_id"] for r in again} == want_ids

    # rebuild bumps version, resets appends
    write_ivfpq_index(docs, emb, path, n_cells=8)
    meta2 = current_meta(spark, path)
    assert meta2["version"] == 2 and meta2.get("appends", 0) == 0


# ---------------------------------------------------------------------------
# append-delta compaction (r9)
# ---------------------------------------------------------------------------

def test_compact_pq_index_single_leg_same_results(spark, tmp_path):
    """compact_index on the PQ layout: after K appends the probe plan
    unions K+1 code legs; compaction must fold them into ONE leg under
    a new version, pin probe results byte-identical, copy (never
    re-derive) the codebook, and no-op below min_appends."""
    import json
    import os

    from goflow2clickhouse_spark.plans.storage import (
        append_to_pq_index,
        compact_index,
        pq_index_probe,
        write_pq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pqc")
    write_pq_index(emb.filter(F.col("vec_id") % 4 == 0), path)
    append_to_pq_index(emb.filter(F.col("vec_id") % 4 == 1), path)
    append_to_pq_index(emb.filter(F.col("vec_id") % 4 == 2), path)
    assert current_meta(spark, path)["appends"] == 2

    q = emb.filter(F.col("vec_id") == 0)
    before = pq_index_probe(spark, path, q, k=10).collect()
    cb_before = spark.read.parquet(
        os.path.join(path, "v1", "codebook")
    ).collect()

    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and "appends" not in meta
    # geometry keys carried over verbatim
    assert meta["pq_m"] == 8 and meta["id_col"] == "vec_id"

    res = pq_index_probe(spark, path, q, k=10)
    after = res.collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # single leg: every INDEX scan reads v2, none reads an append.
    # (Since the r10 in-plan guard the probe's plan also legitimately
    # scans the query's own source — scope the leg assertion to scans
    # under the index path.)
    paths = [
        m for m in (str(s.metadata()) for s in _scan_nodes(res))
        if path in m
    ]
    assert paths and all("/appends/" not in m for m in paths), paths
    assert all("v2" in m for m in paths), paths
    # codebook copied, not re-derived
    cb_after = spark.read.parquet(
        os.path.join(path, "v2", "codebook")
    ).collect()
    assert cb_after == cb_before
    # idempotence gate: nothing left to fold
    assert compact_index(spark, path) is False
    assert json.load(open(os.path.join(path, "_CURRENT")))["version"] == 2


def test_compact_ivfpq_index_single_leg_same_results(spark, tmp_path):
    """IVF-PQ compaction: cells from base + deltas fold into one
    partitioned leg; centroids AND codebook are copies; the probe's
    partition pruning still holds on the compacted layout."""
    import os

    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivfpq_index,
        compact_index,
        ivfpq_probe,
        write_ivfpq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivfpqc")
    write_ivfpq_index(docs, emb.filter(F.col("vec_id") % 2 == 0), path)
    append_to_ivfpq_index(docs, emb.filter(F.col("vec_id") % 2 == 1), path)

    q = emb.filter(F.col("vec_id") == 0)
    before = ivfpq_probe(spark, path, q, k=10, nprobe=2).collect()
    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and "appends" not in meta
    assert meta["min_chars"] == 200 and meta["lang"] == "en"

    res = ivfpq_probe(spark, path, q, k=10, nprobe=2)
    after = res.collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    idx_scans = [
        s for s in _scan_nodes(res)
        if s.metrics().contains("numPartitions")
    ]
    assert idx_scans
    # pruning survives compaction: nprobe cells read, one leg
    assert max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    ) == 2
    assert all("/appends/" not in str(s.metadata()) for s in _scan_nodes(res))
    assert os.path.isdir(os.path.join(path, "v2", "cells"))


def test_compact_band_index_dedups_shas_and_keeps_gate(spark, tmp_path):
    """Band compaction: shingle/band/sha legs fold into one; the sha
    set is re-deduped across legs (verbatim re-ingested docs stored
    once, as a fresh build would); the streaming (run_id, epoch)
    replay gate and geometry keys survive verbatim; probe pairs are
    unchanged."""
    import os

    from goflow2clickhouse_spark.plans.storage import (
        append_to_band_index,
        band_index_sha_set,
        compact_index,
        incremental_neardup_pairs_indexed,
        write_band_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 2 == 0)
    path = str(tmp_path / "bandc")
    write_band_index(old, path)
    # batch 1 re-ingests some base docs VERBATIM (dup shas across legs)
    b1 = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    append_to_band_index(b1, path, extra={"epoch": 7, "run_id": "run-a"})
    b2 = d.filter(F.col("doc_id") % 10 == 3)
    append_to_band_index(b2, path)

    probe = d.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    before_pairs = sorted(
        map(tuple, incremental_neardup_pairs_indexed(probe, path).collect())
    )
    sha_count = band_index_sha_set(spark, path).count()

    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and "appends" not in meta
    # the replay gate and geometry keys carried over verbatim
    assert meta["epoch"] == 7 and meta["run_id"] == "run-a"
    assert meta["n"] == 3 and meta["id_col"] == "doc_id"

    after_pairs = sorted(
        map(tuple, incremental_neardup_pairs_indexed(probe, path).collect())
    )
    assert after_pairs == before_pairs and after_pairs
    # sha relation is stored DISTINCT at (doc_id, _sha) pair level
    # (r11: rows carry the doc id so deletion can address them — a
    # verbatim re-ingest under a NEW id is a distinct pair by design);
    # the exact-gate SET still dedups to the same distinct-sha count
    stored = spark.read.parquet(os.path.join(path, "v2", "shas"))
    assert stored.count() == stored.distinct().count()
    assert stored.count() > band_index_sha_set(spark, path).count()
    assert band_index_sha_set(spark, path).count() == sha_count


def test_compact_filtered_ivf_index(spark, tmp_path):
    """Filtered-IVF compaction: one cells leg, centroids copied,
    probe results and partition pruning unchanged."""
    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivf_index,
        compact_index,
        ivf_index_probe,
        write_filtered_ivf_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivfc")
    write_filtered_ivf_index(docs, emb.filter(F.col("vec_id") % 2 == 0), path)
    append_to_ivf_index(docs, emb.filter(F.col("vec_id") % 2 == 1), path)

    q = emb.filter(F.col("vec_id") == 0)
    before = ivf_index_probe(spark, path, q, k=10, nprobe=2).collect()
    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and "appends" not in meta
    res = ivf_index_probe(spark, path, q, k=10, nprobe=2)
    assert sorted(map(tuple, res.collect())) == sorted(map(tuple, before))
    assert all("/appends/" not in str(s.metadata()) for s in _scan_nodes(res))


def test_append_refuses_wrong_layout_kind(spark, tmp_path):
    """Every append/probe must refuse a sibling layout (r9 review):
    append_to_ivf_index aimed at an IVF-PQ index passed every existing
    check (same builder signature, min_chars/lang/centroids all
    present) and committed a raw-embedding cells delta whose pq_code
    read back NULL — null-distance rows silently topping every probe."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivf_index,
        append_to_pq_index,
        ivf_index_probe,
        pq_index_probe,
        write_ivfpq_index,
        write_pq_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ivfpq_path = str(tmp_path / "kind_ivfpq")
    pq_path = str(tmp_path / "kind_pq")
    write_ivfpq_index(docs, emb, ivfpq_path, n_cells=8)
    write_pq_index(emb, pq_path)

    q1 = emb.filter(F.col("vec_id") == 0)
    with _pytest.raises(ValueError, match="'ivfpq' layout"):
        append_to_ivf_index(docs, emb, ivfpq_path)
    with _pytest.raises(ValueError, match="'ivfpq' layout"):
        append_to_pq_index(emb, ivfpq_path)
    with _pytest.raises(ValueError, match="'pq' layout"):
        ivf_index_probe(spark, pq_path, q1)
    with _pytest.raises(ValueError, match="'ivfpq' layout"):
        pq_index_probe(spark, ivfpq_path, q1)


def test_append_honors_build_retention(spark, tmp_path):
    """keep_versions is part of the committed state (r9 review): the
    first append used to re-commit with the DEFAULT retention (2),
    silently pruning versions a keep_versions=3 build promised to
    keep."""
    import os

    from goflow2clickhouse_spark.plans.storage import (
        append_to_pq_index,
        write_pq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "keepvers")
    for _ in range(3):  # v1, v2, v3 — all retained at keep_versions=3
        write_pq_index(emb, path, keep_versions=3)
    assert current_meta(spark, path)["keep_versions"] == 3
    assert os.path.isdir(os.path.join(path, "v1"))

    append_to_pq_index(emb.limit(5), path)
    # the re-commit honored the recorded retention: v1 survives
    assert os.path.isdir(os.path.join(path, "v1"))
    assert current_meta(spark, path)["keep_versions"] == 3


def test_ivfpq_batch_probe_matches_single_and_prunes(spark, tmp_path):
    """The batch IVF-PQ probe (r9) must serve each query exactly as
    the single probe would (same cells, codes, LUTs, tie-breaks), scan
    only the UNION of probed cell partitions reading codes (never
    floats), and bound the per-query top-k as WindowGroupLimit. Plus
    the batch guards (empty, dup qid) and the 1-query parity of the
    relational cell ranking."""
    import pytest as _pytest

    from goflow2clickhouse_spark.operators.similarity import (
        rank_probe_cells,
        rank_probe_cells_batch,
    )
    from goflow2clickhouse_spark.plans.storage import (
        ivfpq_batch_probe,
        ivfpq_probe,
        write_ivfpq_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_batch")
    write_ivfpq_index(docs, emb, path, n_cells=8)

    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    qs = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows],
        "qid long, qvec array<double>",
    )
    res = ivfpq_batch_probe(spark, path, qs, k=5, nprobe=2)
    rows = res.collect()
    assert {r["qid"] for r in rows} == {0, 1, 2}

    cents = spark.read.parquet(f"{path}/v1/centroids")
    probed_union = set()
    for qid in (0, 1, 2):
        q1 = emb.filter(F.col("vec_id") == qid)
        got = sorted(
            (r["rank"], r["vec_id"], r["pq_code"], r["adist"])
            for r in rows if r["qid"] == qid
        )
        want = [
            (i + 1, r["vec_id"], r["pq_code"], r["adist"])
            for i, r in enumerate(
                ivfpq_probe(spark, path, q1, k=5, nprobe=2).collect()
            )
        ]
        assert got == want, f"qid {qid} diverges from the single probe"
        # the relational per-qid cell ranking == the single form's
        single_cells = [
            int(r["probe_cell"])
            for r in rank_probe_cells(
                q1.select("embedding"), cents, 2
            ).collect()
        ]
        probed_union.update(single_cells)
    batch_cells = {
        (r["qid"], r["probe_cell"]): r
        for r in rank_probe_cells_batch(qs, cents, 2).collect()
    }
    assert len(batch_cells) == 6  # 3 qids x nprobe

    # ONE pruned scan of the union of probed cells, codes only
    idx_scans = [
        s for s in _scan_nodes(res)
        if s.metrics().contains("numPartitions")
    ]
    assert idx_scans
    read_parts = max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    )
    assert read_parts == len(probed_union), (read_parts, probed_union)
    for s in idx_scans:
        schema = s.schema().simpleString()
        assert "embedding" not in schema, f"probe read floats: {schema}"
        assert "pq_code" in schema
    assert "WindowGroupLimit" in (
        res._jdf.queryExecution().executedPlan().toString()
    )

    with _pytest.raises(ValueError, match="empty query batch"):
        ivfpq_batch_probe(spark, path, qs.filter(F.col("qid") < 0))
    with _pytest.raises(ValueError, match="unique qid"):
        ivfpq_batch_probe(spark, path, qs.unionByName(qs.limit(1)))
    # NULL / wrong-dim qvec: shared _require_unique_qids gate (r9
    # advice) — the IVF-PQ side would otherwise also mis-rank cells
    bad_q = spark.createDataFrame(
        [(99, None), (98, [1.0])], "qid long, qvec array<double>"
    )
    with _pytest.raises(ValueError, match="NULL or wrong-dimension"):
        ivfpq_batch_probe(spark, path, qs.unionByName(bad_q))
    with _pytest.raises(ValueError, match="built with"):
        ivfpq_batch_probe(spark, path, qs, expect={"n_cells": 4})


def test_ivfpq_residual_layout(spark, tmp_path):
    """Residual IVF-PQ (IVFADC, r9): codes are residual-encoded —
    parity against a direct recompute from the STORED artifacts,
    appended batches encode against the stored centroids+codebook with
    the residual flag honored, the probe prunes to nprobe cells
    reading codes only, compaction preserves the flag and the results,
    and the batch probe refuses the layout loudly."""
    import pytest as _pytest

    from goflow2clickhouse_spark.operators.similarity import (
        ivf_assign,
        ivf_residual,
        pq_encode,
    )
    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivfpq_index,
        compact_index,
        eligible_embeddings,
        ivfpq_batch_probe,
        ivfpq_probe,
        write_ivfpq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_res")
    write_ivfpq_index(
        docs, emb.filter(F.col("vec_id") % 2 == 0), path,
        n_cells=8, residual=True,
    )
    assert current_meta(spark, path)["residual"] is True

    # append the odd half; its codes must equal a direct residual
    # encode against the STORED centroids + codebook
    append_to_ivfpq_index(docs, emb.filter(F.col("vec_id") % 2 == 1), path)
    cents = spark.read.parquet(f"{path}/v1/centroids")
    cb = spark.read.parquet(f"{path}/v1/codebook")
    odd_eligible = eligible_embeddings(
        docs, emb.filter(F.col("vec_id") % 2 == 1)
    )
    want_codes = {
        (r["vec_id"], r["pq_code"], r["cell"])
        for r in pq_encode(
            ivf_residual(ivf_assign(odd_eligible, cents), cents),
            cb, "residual", keep=("cell",),
        ).collect()
    }
    from goflow2clickhouse_spark.versioned import current_meta

    delta1 = current_meta(spark, path)["delta_dirs"][0]
    got_codes = {
        (r["vec_id"], r["pq_code"], r["cell"])
        for r in spark.read.parquet(
            f"{path}/v1/appends/{delta1}/cells"
        ).collect()
    }
    assert got_codes == want_codes and got_codes

    q = emb.filter(F.col("vec_id") == 0)
    res = ivfpq_probe(
        spark, path, q, k=10, nprobe=2, expect={"residual": True}
    )
    rows = res.collect()
    assert 0 < len(rows) <= 10
    # pruning + code-only scan hold for the residual layout too
    idx_scans = [
        s for s in _scan_nodes(res)
        if s.metrics().contains("numPartitions")
    ]
    assert idx_scans
    assert max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    ) == 2
    for s in idx_scans:
        schema = s.schema().simpleString()
        assert "embedding" not in schema and "pq_code" in schema

    # residual codes differ from the raw layout's (the flag acts)
    raw_path = str(tmp_path / "ivfpq_raw")
    write_ivfpq_index(
        docs, emb.filter(F.col("vec_id") % 2 == 0), raw_path, n_cells=8
    )
    raw_codes = {
        (r["vec_id"], r["pq_code"])
        for r in spark.read.parquet(f"{raw_path}/v1/cells").collect()
    }
    res_codes = {
        (r["vec_id"], r["pq_code"])
        for r in spark.read.parquet(f"{path}/v1/cells").collect()
    }
    assert {v for v, _ in raw_codes} == {v for v, _ in res_codes}
    assert raw_codes != res_codes

    # the batch probe serves the residual layout: per-(qid, cell)
    # LUTs, each query's rows equal to its single residual probe
    qs3 = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch = ivfpq_batch_probe(spark, path, qs3, k=5, nprobe=2).collect()
    for qid in (0, 1, 2):
        got = sorted(
            (r["rank"], r["vec_id"], r["pq_code"], r["adist"])
            for r in batch if r["qid"] == qid
        )
        want = [
            (i + 1, r["vec_id"], r["pq_code"], r["adist"])
            for i, r in enumerate(ivfpq_probe(
                spark, path, emb.filter(F.col("vec_id") == qid),
                k=5, nprobe=2,
            ).collect())
        ]
        assert got == want, f"residual batch qid {qid} diverges"

    # compaction folds the delta and keeps the flag + results
    before = sorted(map(tuple, rows))
    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and meta["residual"] is True
    after = sorted(map(tuple, ivfpq_probe(
        spark, path, q, k=10, nprobe=2, expect={"residual": True}
    ).collect()))
    assert after == before


def test_artifact_cache_invalidated_by_wipe_and_rebuild(spark, tmp_path):
    """A wipe-and-rebuild at the SAME path restarts versions at v1, so
    version alone cannot invalidate the probe artifact cache — the
    commit token (_CURRENT mtime) must (r10 review: the cache served
    the old build's codebook against the new build's codes, silently
    wrong top-k, no error)."""
    import time as _time

    from goflow2clickhouse_spark.plans.storage import (
        pq_index_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_wipe")
    write_pq_index(emb.filter(F.col("vec_id") < 64), path)
    q = emb.filter(F.col("vec_id") == 0)
    first = pq_index_probe(spark, path, q, k=5).collect()  # warms cache
    assert first
    import shutil

    shutil.rmtree(path)
    _time.sleep(0.05)  # ensure a distinct _CURRENT mtime
    # rebuild at the SAME path over a DIFFERENT corpus: still v1
    write_pq_index(
        emb.filter((F.col("vec_id") >= 64) & (F.col("vec_id") < 128)), path
    )
    import json as _json
    import os as _os

    assert _json.load(open(_os.path.join(path, "_CURRENT")))["version"] == 1
    second = pq_index_probe(spark, path, q, k=5).collect()
    # every served id must come from the NEW corpus; a stale cached
    # codebook would still "work" silently, but the codes relation is
    # new — the real assertion is the adist values match a FRESH
    # process's answer, proxied here by ids and by re-deriving via a
    # new uncached path
    assert all(64 <= r["vec_id"] < 128 for r in second)
    path2 = str(tmp_path / "pq_wipe_ref")
    write_pq_index(
        emb.filter((F.col("vec_id") >= 64) & (F.col("vec_id") < 128)), path2
    )
    ref = pq_index_probe(spark, path2, q, k=5).collect()
    assert [tuple(r) for r in second] == [tuple(r) for r in ref]


def test_ivf_family_probes_serve_underpopulated_index(spark, tmp_path):
    """An index legally built from an eligible set SMALLER than the
    n_cells knob (ivf_centroids limit(n) yields len(eligible) structs)
    must still serve probes (r10 review: a meta['n_cells'] row-count
    equality check refused every probe of such an index with a
    misleading 'got 0 rows')."""
    from goflow2clickhouse_spark.plans.storage import (
        ivf_index_probe,
        ivfpq_probe,
        write_filtered_ivf_index,
        write_ivfpq_index,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .orderBy("doc_id")
        .limit(5)
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    small = emb.join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id")
    assert 0 < small.count() <= 5
    q = emb.filter(F.col("vec_id") == 0)

    p1 = str(tmp_path / "fivf_small")
    write_filtered_ivf_index(docs, emb, p1, n_cells=8, min_chars=0)
    rows = ivf_index_probe(spark, p1, q, k=3, nprobe=2).collect()
    assert rows  # served, not refused

    p2 = str(tmp_path / "ivfpq_small")
    write_ivfpq_index(docs, emb, p2, n_cells=8, min_chars=0)
    rows2 = ivfpq_probe(spark, p2, q, k=3, nprobe=2).collect()
    assert rows2


def test_batch_probe_rejects_null_element_qvec(spark, tmp_path):
    """A correct-SIZE query vector with one NULL element NULLs the
    whole LUT exactly like a NULL vector — the gate must catch it (r10
    review completing the r9-advice gate)."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        pq_index_batch_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_nullel")
    write_pq_index(emb.filter(F.col("vec_id") < 64), path)
    good = (
        emb.filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").cast("array<double>").alias("qvec"))
    )
    holed = spark.createDataFrame(
        [(99, [1.0] * 32 + [None] + [1.0] * 31)],
        "qid long, qvec array<double>",
    )
    with _pytest.raises(ValueError, match="NULL or wrong-dimension"):
        pq_index_batch_probe(spark, path, good.unionByName(holed))


def test_single_probe_rejects_null_query_vector(spark, tmp_path):
    """The single-query IVF probes must refuse a NULL / NULL-element
    query vector loudly instead of TypeError-ing in the driver or
    serving id-ranked garbage (r10 review)."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        ivf_index_probe,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fivf_nullq")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)
    nullq = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="NULL"):
        ivf_index_probe(spark, path, nullq, k=3)
    # duplicate IDENTICAL query rows: same _qv, so only the duplicated
    # cell ranking betrays them — must refuse, not silently serve
    dup = emb.filter(F.col("vec_id") == 0).unionByName(
        emb.filter(F.col("vec_id") == 0)
    )
    with _pytest.raises(ValueError, match="one query"):
        ivf_index_probe(spark, path, dup, k=3)


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized layout (r10)
# ---------------------------------------------------------------------------

def test_sq_index_probe_recall_and_scans_codes_only(spark, tmp_path):
    """The persisted SQ8 probe reads ONLY the index directories (never
    a float embedding column) and — fixture-pinned — reproduces the
    exact L2 top-10 for several queries: an 8-bit per-dim bucket's
    reconstruction error is far below inter-vector distances on this
    fixture, the property that earns the layout its place next to PQ
    (whose 4-bit gates read 0.3-0.4 recall on the same data)."""
    from goflow2clickhouse_spark.operators.similarity import (
        topk_l2_bruteforce,
    )
    from goflow2clickhouse_spark.plans.storage import (
        sq_index_probe,
        write_sq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "sqidx")
    write_sq_index(emb, path)

    # in-memory query row: the only parquet in the probe plan is the
    # index itself (the pq probe test pattern)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    q = spark.createDataFrame(
        [(list(qrow["embedding"]),)], "embedding array<double>"
    )
    res = sq_index_probe(spark, path, q, k=10)
    rows = res.collect()
    assert len(rows) == 10
    assert rows == sorted(rows, key=lambda r: (r["adist"], r["vec_id"]))

    scans = _scan_nodes(res)
    assert scans, "expected index file scans in the executed plan"
    for s in scans:
        meta = str(s.metadata())
        schema = s.schema().simpleString()
        assert path in meta, f"scan outside the index: {meta[:200]}"
        assert "embedding" not in schema, f"probe read floats: {schema}"
    assert any("sq_code" in s.schema().simpleString() for s in scans)

    for qid in (0, 7, 33):
        qd = emb.filter(F.col("vec_id") == qid)
        ap = {r["vec_id"] for r in sq_index_probe(spark, path, qd, k=10).collect()}
        ex = {r["vec_id"] for r in topk_l2_bruteforce(emb, qd, k=10).collect()}
        assert ap == ex, f"SQ8 missed exact neighbours for qid={qid}"


def test_sq_append_compact_and_gates(spark, tmp_path):
    """SQ layout lifecycle: appends encode against the STORED
    quantizer and serve the union; compact_index folds deltas into a
    single new-version leg with byte-identical probe results and a
    COPIED quantizer; the kind gate refuses cross-layout appends both
    ways; geometry/missing-index/single-query guards refuse loudly."""
    import json
    import os

    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        append_to_pq_index,
        append_to_sq_index,
        compact_index,
        sq_index_probe,
        write_pq_index,
        write_sq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "sqc")
    with _pytest.raises(FileNotFoundError, match="no committed"):
        sq_index_probe(spark, path, emb.filter(F.col("vec_id") == 0))
    with _pytest.raises(ValueError, match="empty"):
        write_sq_index(emb.filter(F.col("vec_id") < 0), path)
    write_sq_index(emb.filter(F.col("vec_id") % 3 == 0), path)

    q = emb.filter(F.col("vec_id") == 0)
    base_ids = {r["vec_id"] for r in sq_index_probe(spark, path, q, k=10).collect()}
    assert base_ids and all(v % 3 == 0 for v in base_ids)

    append_to_sq_index(emb.filter(F.col("vec_id") % 3 == 1), path)
    append_to_sq_index(emb.filter(F.col("vec_id") % 3 == 2), path)
    # empty append is a committed no-op
    append_to_sq_index(emb.filter(F.col("vec_id") < 0), path)
    assert current_meta(spark, path)["appends"] == 2
    before = sq_index_probe(spark, path, q, k=10).collect()
    assert {r["vec_id"] % 3 for r in before} != {0}, "append rows not served"
    quant_before = spark.read.parquet(
        os.path.join(path, "v1", "quantizer")
    ).collect()

    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and "appends" not in meta
    assert meta["sq_buckets"] == 256 and meta["dim"] == 64
    res = sq_index_probe(spark, path, q, k=10)
    assert sorted(map(tuple, res.collect())) == sorted(map(tuple, before))
    idx_scans = [
        m for m in (str(s.metadata()) for s in _scan_nodes(res))
        if path in m
    ]
    assert idx_scans and all("/appends/" not in m for m in idx_scans)
    quant_after = spark.read.parquet(
        os.path.join(path, "v2", "quantizer")
    ).collect()
    assert quant_after == quant_before  # copied, never re-derived
    assert compact_index(spark, path) is False

    # cross-layout kind gates, both directions
    with _pytest.raises(ValueError, match="layout"):
        append_to_pq_index(emb, path)
    pq_path = str(tmp_path / "pq_for_gate")
    write_pq_index(emb.filter(F.col("vec_id") % 4 == 0), pq_path)
    with _pytest.raises(ValueError, match="layout"):
        append_to_sq_index(emb, pq_path)
    with _pytest.raises(ValueError, match="built with"):
        sq_index_probe(spark, path, q, expect={"sq_buckets": 16})
    with _pytest.raises(Exception, match="one query"):
        sq_index_probe(spark, path, emb.filter(F.col("vec_id") < 3)).collect()


def test_sq_batch_probe_matches_single_and_plans_group_limit(spark, tmp_path):
    """The SQ batch probe serves each query exactly as the single
    probe would (same codes, same dequant/fold definitions, same
    tie-breaks), reads ONLY the index directories when the queries are
    in-memory rows, computes the dequantized centers ONCE per code row
    (a `_deq` projection BELOW the query join — pinned from the
    executed plan), and plans the per-query top-k as WindowGroupLimit;
    empty/duplicate/degenerate batches refuse loudly."""
    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        sq_index_batch_probe,
        sq_index_probe,
        write_sq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "sqb")
    write_sq_index(emb, path)

    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    qs = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "qid long, qvec array<double>",
    )
    out = sq_index_batch_probe(spark, path, qs, k=5)
    rows = out.collect()
    assert len(rows) == 15
    for qid in (0, 1, 2):
        single = sq_index_probe(
            spark, path,
            qs.filter(F.col("qid") == qid).select(
                F.col("qvec").alias("embedding")
            ),
            k=5,
        ).collect()
        batch = sorted(
            ((r["vec_id"], r["adist"]) for r in rows if r["qid"] == qid),
        )
        assert sorted((r["vec_id"], r["adist"]) for r in single) == batch

    plan = _plan(out)
    assert "WindowGroupLimit" in plan
    scans = _scan_nodes(out)
    assert scans and all(path in str(s.metadata()) for s in scans)
    assert all(
        "embedding" not in s.schema().simpleString() for s in scans
    )
    # dequant once per code row: _deq is produced by a projection whose
    # output carries it as a named column into the join
    assert "_deq" in plan

    with _pytest.raises(ValueError, match="empty query batch"):
        sq_index_batch_probe(spark, path, qs.filter(F.col("qid") < 0))
    with _pytest.raises(ValueError, match="unique qid"):
        sq_index_batch_probe(spark, path, qs.unionByName(qs))
    bad = spark.createDataFrame(
        [(9, [0.0, 1.0])], "qid long, qvec array<double>"
    )
    with _pytest.raises(ValueError, match="wrong-dimension"):
        sq_index_batch_probe(spark, path, bad)


def test_ivfsq_probe_prunes_cells_and_lifecycle(spark, tmp_path):
    """IVF-SQ8 (r10): the probe scan touches exactly nprobe cell
    partitions and reads only codes (never a float embedding); appends
    assign against the STORED centroids and serve the union; compaction
    folds to a single leg with byte-identical results and COPIED
    quantizer artifacts; kind gates refuse cross-layout operations."""
    import os

    import pytest as _pytest

    from goflow2clickhouse_spark.plans.storage import (
        append_to_ivfsq_index,
        append_to_sq_index,
        compact_index,
        ivfsq_probe,
        write_ivfsq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivfsq")
    q1 = emb.filter(F.col("vec_id") == 0)
    with _pytest.raises(FileNotFoundError, match="no committed"):
        ivfsq_probe(spark, path, q1)
    write_ivfsq_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_cells=8)

    res = ivfsq_probe(spark, path, q1, k=10, nprobe=2)
    rows = res.collect()
    assert 0 < len(rows) <= 10

    scans = [
        s for s in _scan_nodes(res)
        if "cells" in s.toString() or "cell" in str(s.metadata())
    ]
    idx_scans = [s for s in scans if s.metrics().contains("numPartitions")]
    assert idx_scans, "no partitioned file scan in executed plan"
    read_parts = max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    )
    assert read_parts == 2, f"probe read {read_parts} cell partitions"
    for s in idx_scans:
        schema = s.schema().simpleString()
        assert "embedding" not in schema, f"probe read floats: {schema}"
        assert "sq_code" in schema

    append_to_ivfsq_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    before = ivfsq_probe(spark, path, q1, k=10, nprobe=8).collect()
    assert {r["vec_id"] % 2 for r in before} == {0, 1}, "append not served"
    quant_before = spark.read.parquet(
        os.path.join(path, "v1", "quantizer")
    ).collect()
    cents_before = spark.read.parquet(
        os.path.join(path, "v1", "centroids")
    ).collect()

    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and "appends" not in meta
    assert meta["n_cells"] == 8 and meta["sq_buckets"] == 256
    after = ivfsq_probe(spark, path, q1, k=10, nprobe=8)
    assert sorted(map(tuple, after.collect())) == sorted(map(tuple, before))
    idx_paths = [
        m for m in (str(s.metadata()) for s in _scan_nodes(after))
        if path in m
    ]
    assert idx_paths and all("/appends/" not in m for m in idx_paths)
    assert spark.read.parquet(
        os.path.join(path, "v2", "quantizer")
    ).collect() == quant_before
    assert spark.read.parquet(
        os.path.join(path, "v2", "centroids")
    ).collect() == cents_before
    assert compact_index(spark, path) is False

    # kind gates, both directions
    with _pytest.raises(ValueError, match="layout"):
        append_to_sq_index(emb, path)
    with _pytest.raises(ValueError, match="built with"):
        ivfsq_probe(spark, path, q1, expect={"n_cells": 4})
    with _pytest.raises(
        ValueError, match="one query.*use ivfsq_batch_probe"
    ):
        ivfsq_probe(spark, path, emb.filter(F.col("vec_id") < 3))


def test_ivfsq_batch_probe_matches_single_and_prunes(spark, tmp_path):
    """The batch IVF-SQ8 probe (r11) must serve each query exactly as
    the single probe would (same cells, dequantized scoring,
    tie-breaks), scan only the UNION of probed cell partitions reading
    codes (never floats), and bound the per-query top-k as
    WindowGroupLimit. Plus the shared batch guards (empty, dup qid,
    NULL/wrong-dim qvec, geometry mismatch)."""
    import pytest as _pytest

    from goflow2clickhouse_spark.operators.similarity import (
        rank_probe_cells,
    )
    from goflow2clickhouse_spark.plans.storage import (
        ivfsq_batch_probe,
        ivfsq_probe,
        write_ivfsq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivfsq_batch")
    write_ivfsq_index(emb, path, n_cells=8)

    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    qs = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows],
        "qid long, qvec array<double>",
    )
    res = ivfsq_batch_probe(spark, path, qs, k=5, nprobe=2)
    rows = res.collect()
    assert {r["qid"] for r in rows} == {0, 1, 2}

    cents = spark.read.parquet(f"{path}/v1/centroids")
    probed_union = set()
    for qid in (0, 1, 2):
        q1 = emb.filter(F.col("vec_id") == qid)
        got = sorted(
            (r["rank"], r["vec_id"], r["adist"])
            for r in rows if r["qid"] == qid
        )
        want = [
            (i + 1, r["vec_id"], r["adist"])
            for i, r in enumerate(
                ivfsq_probe(spark, path, q1, k=5, nprobe=2).collect()
            )
        ]
        assert got == want, f"qid {qid} diverges from the single probe"
        probed_union.update(
            int(r["probe_cell"])
            for r in rank_probe_cells(
                q1.select("embedding"), cents, 2
            ).collect()
        )

    # ONE pruned scan of the union of probed cells, codes only
    idx_scans = [
        s for s in _scan_nodes(res)
        if s.metrics().contains("numPartitions")
    ]
    assert idx_scans
    read_parts = max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    )
    assert read_parts == len(probed_union), (read_parts, probed_union)
    for s in idx_scans:
        schema = s.schema().simpleString()
        assert "embedding" not in schema, f"probe read floats: {schema}"
        assert "sq_code" in schema
    assert "WindowGroupLimit" in (
        res._jdf.queryExecution().executedPlan().toString()
    )

    with _pytest.raises(ValueError, match="empty query batch"):
        ivfsq_batch_probe(spark, path, qs.filter(F.col("qid") < 0))
    with _pytest.raises(ValueError, match="unique qid"):
        ivfsq_batch_probe(spark, path, qs.unionByName(qs.limit(1)))
    bad_q = spark.createDataFrame(
        [(99, None), (98, [1.0])], "qid long, qvec array<double>"
    )
    with _pytest.raises(ValueError, match="NULL or wrong-dimension"):
        ivfsq_batch_probe(spark, path, qs.unionByName(bad_q))
    with _pytest.raises(ValueError, match="built with"):
        ivfsq_batch_probe(spark, path, qs, expect={"n_cells": 4})


def test_delete_from_index_vector_layouts(spark, tmp_path):
    """delete_from_index (r11): tombstoned ids vanish from every
    vector layout's probes without a rebuild, compaction physically
    drops them (probe parity across the fold, ids absent from the
    folded base, counter reset), and the guards refuse empty/multi-
    column id relations and uncommitted paths."""
    from goflow2clickhouse_spark.plans.storage import (
        compact_index,
        delete_from_index,
        ivf_index_probe,
        ivfpq_probe,
        ivfsq_probe,
        pq_index_probe,
        sq_index_probe,
        write_filtered_ivf_index,
        write_ivfpq_index,
        write_ivfsq_index,
        write_pq_index,
        write_sq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0)

    with pytest.raises(FileNotFoundError, match="no committed"):
        delete_from_index(emb.select("vec_id"), str(tmp_path / "nothing"))

    layouts = {
        "pq": (lambda p: write_pq_index(emb, p),
               lambda p: pq_index_probe(spark, p, q, k=10)),
        "sq": (lambda p: write_sq_index(emb, p),
               lambda p: sq_index_probe(spark, p, q, k=10)),
        "ivf": (lambda p: write_filtered_ivf_index(docs, emb, p, n_cells=8),
                lambda p: ivf_index_probe(spark, p, q, k=10, nprobe=8)),
        "ivfsq": (lambda p: write_ivfsq_index(emb, p, n_cells=8),
                  lambda p: ivfsq_probe(spark, p, q, k=10, nprobe=8)),
        "ivfpq": (lambda p: write_ivfpq_index(docs, emb, p, n_cells=8),
                  lambda p: ivfpq_probe(spark, p, q, k=10, nprobe=8)),
    }
    for tag, (build, probe) in layouts.items():
        path = str(tmp_path / f"del_{tag}")
        build(path)
        # victims: the two top-ranked served ids — guaranteed in the
        # index (the filtered layouts hold only eligible vectors, so a
        # fixed id might not be indexed at all)
        victims = [int(r["vec_id"]) for r in probe(path).collect()[:2]]
        dead = emb.filter(F.col("vec_id").isin(victims)).select("vec_id")

        with pytest.raises(ValueError, match="single-column"):
            delete_from_index(emb.select("vec_id", "label"), path)
        before = current_meta(spark, path)
        nothing = emb.filter(F.col("vec_id") < 0).select("vec_id")
        with pytest.raises(ValueError, match="deletes nothing"):
            delete_from_index(nothing, path)
        # refused: no commit, and no tombstones/ directory left behind
        assert current_meta(spark, path) == before, tag
        assert _delta_listing(path) == [], tag
        # an empty delete carrying `extra` advances only the gate
        gate = {"del_epoch": 4, "del_run": "ck-D"}
        delete_from_index(nothing, path, extra=gate)
        meta = current_meta(spark, path)
        assert {k: meta[k] for k in gate} == gate, tag
        assert "tombstones" not in meta and "tombstone_dirs" not in meta
        assert _delta_listing(path) == [], tag

        delete_from_index(dead, path)
        assert current_meta(spark, path)["tombstones"] == 1
        served = probe(path).collect()
        ids = {r["vec_id"] for r in served}
        assert len(served) == 10 and not ids & set(victims), tag

        # second takedown replays idempotently as a second delta
        delete_from_index(dead, path)
        assert current_meta(spark, path)["tombstones"] == 2
        assert {r["vec_id"] for r in probe(path).collect()} == ids, tag

        # compaction = the physical purge, probe-parity across it
        assert compact_index(spark, path) is True
        meta = current_meta(spark, path)
        assert meta["version"] == 2 and "tombstones" not in meta, tag
        assert "tombstone_dirs" not in meta, tag
        assert [tuple(r) for r in probe(path).collect()] == [
            tuple(r) for r in served
        ], tag
        leg = "codes" if tag in ("pq", "sq") else "cells"
        folded = spark.read.parquet(f"{path}/v2/{leg}")
        assert folded.filter(F.col("vec_id").isin(victims)).count() == 0, tag


def test_delete_from_index_band_layout(spark, tmp_path):
    """Band-layout deletion: a tombstoned doc stops appearing as a
    near-dup pair partner, its content hash leaves the exact-dup
    gate's sha set (the r11 (doc_id, _sha) linkage exists for exactly
    this), and compaction drops it from all three folded legs."""
    from goflow2clickhouse_spark.plans.storage import (
        band_index_sha_set,
        compact_index,
        delete_from_index,
        incremental_neardup_pairs_indexed,
        write_band_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 2 == 0)
    path = str(tmp_path / "band_del")
    write_band_index(old, path)

    # probe: near-dup variants of some indexed docs
    probe = old.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    before = incremental_neardup_pairs_indexed(probe, path).collect()
    assert before
    victim = int(before[0]["id_a"])  # an old-side pair partner
    vsha = old.filter(F.col("doc_id") == victim).select(
        F.sha2("text", 256).alias("_sha")
    ).first()["_sha"]
    assert vsha in {r["_sha"] for r in
                    band_index_sha_set(spark, path).collect()}

    delete_from_index(
        old.filter(F.col("doc_id") == victim).select("doc_id"), path
    )
    after = incremental_neardup_pairs_indexed(probe, path).collect()
    assert victim not in {int(r["id_a"]) for r in after}
    assert len(after) < len(before)
    assert vsha not in {r["_sha"] for r in
                        band_index_sha_set(spark, path).collect()}

    # physical purge at compaction: the doc is gone from every leg
    assert compact_index(spark, path) is True
    meta = current_meta(spark, path)
    assert meta["version"] == 2 and "tombstones" not in meta
    for leg in ("shingles", "bands", "shas"):
        folded = spark.read.parquet(f"{path}/v2/{leg}")
        assert folded.filter(F.col("doc_id") == victim).count() == 0, leg
    assert sorted(map(tuple, after)) == sorted(
        map(tuple, incremental_neardup_pairs_indexed(probe, path).collect())
    )


def test_compaction_refuses_all_tombstoned_index(spark, tmp_path):
    """Tombstoning EVERY row then compacting would commit a
    _SUCCESS-only data leg (the empty-build poison) — the fold must
    refuse loudly and point at a rebuild."""
    from goflow2clickhouse_spark.plans.storage import (
        compact_index,
        delete_from_index,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "allgone")
    write_pq_index(emb, path)
    delete_from_index(emb.select("vec_id"), path)
    with pytest.raises(ValueError, match="rebuild the index"):
        compact_index(spark, path)


def test_ivf_batch_probe_matches_single_and_prunes(spark, tmp_path):
    """The batch filtered-IVF probe (r11) must serve each query
    exactly as the single probe would (same cells, cosine scores,
    tie-breaks), scan only the UNION of probed cell partitions, and
    bound the per-query top-k as WindowGroupLimit; plus the shared
    batch guards."""
    import pytest as _pytest

    from goflow2clickhouse_spark.operators.similarity import (
        rank_probe_cells,
    )
    from goflow2clickhouse_spark.plans.storage import (
        ivf_batch_probe,
        ivf_index_probe,
        write_filtered_ivf_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf_batch")
    write_filtered_ivf_index(docs, emb, path, n_cells=8)

    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    qs = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows],
        "qid long, qvec array<double>",
    )
    res = ivf_batch_probe(spark, path, qs, k=5, nprobe=2)
    rows = res.collect()
    assert {r["qid"] for r in rows} == {0, 1, 2}

    cents = spark.read.parquet(f"{path}/v1/centroids")
    probed_union = set()
    for qid in (0, 1, 2):
        q1 = emb.filter(F.col("vec_id") == qid)
        got = sorted(
            (r["rank"], r["vec_id"], r["cos_sim"])
            for r in rows if r["qid"] == qid
        )
        want = [
            (i + 1, r["vec_id"], r["cos_sim"])
            for i, r in enumerate(
                ivf_index_probe(spark, path, q1, k=5, nprobe=2).collect()
            )
        ]
        assert got == want, f"qid {qid} diverges from the single probe"
        probed_union.update(
            int(r["probe_cell"])
            for r in rank_probe_cells(
                q1.select("embedding"), cents, 2
            ).collect()
        )

    idx_scans = [
        s for s in _scan_nodes(res)
        if s.metrics().contains("numPartitions")
    ]
    assert idx_scans
    read_parts = max(
        s.metrics().apply("numPartitions").value() for s in idx_scans
    )
    assert read_parts == len(probed_union), (read_parts, probed_union)
    assert "WindowGroupLimit" in (
        res._jdf.queryExecution().executedPlan().toString()
    )

    with _pytest.raises(ValueError, match="empty query batch"):
        ivf_batch_probe(spark, path, qs.filter(F.col("qid") < 0))
    with _pytest.raises(ValueError, match="unique qid"):
        ivf_batch_probe(spark, path, qs.unionByName(qs.limit(1)))
    with _pytest.raises(ValueError, match="built with"):
        ivf_batch_probe(spark, path, qs, expect={"n_cells": 4})


def test_meta_mutex_serializes_and_times_out(spark, tmp_path):
    """versioned.meta_mutex (r11 review): create-if-absent lock —
    a second acquire blocks until release, a held lock times out
    loudly naming the file, and release makes the path acquirable
    again."""
    import threading
    import time

    from goflow2clickhouse_spark.versioned import meta_mutex

    path = str(tmp_path / "locked")
    order = []
    entered = threading.Event()

    def holder():
        with meta_mutex(spark, path):
            order.append("a-in")
            entered.set()
            time.sleep(1.0)
            order.append("a-out")

    t = threading.Thread(target=holder)
    t.start()
    # event, not sleep (r12: a fresh thread's first py4j call can
    # take longer than any fixed nap under load)
    assert entered.wait(30)
    with meta_mutex(spark, path, timeout_sec=30):
        order.append("b-in")
    t.join()
    assert order == ["a-in", "a-out", "b-in"]

    # a lock nobody releases times out with an actionable message
    with meta_mutex(spark, path):
        with pytest.raises(TimeoutError, match="_LOCK"):
            with meta_mutex(spark, path, timeout_sec=0.3, poll_sec=0.05):
                pass


def test_acquire_rename_refuses_live_lock(spark, tmp_path):
    """The atomic-acquire foundation (r12 advice): acquisition is
    rename(tmp, _LOCK), and the WHOLE mutual-exclusion argument rests
    on rename refusing an existing destination — a writer stalled
    just before its acquire rename must not clobber the holder that
    won meanwhile (the failure the old createNewFile-then-stamp pair
    allowed between its two steps). Pin the filesystem semantics:
    rename onto a live lock returns False, the destination's token is
    untouched, and the loser's tmp survives for its next attempt."""
    import posixpath

    from goflow2clickhouse_spark.versioned import _fs, read_small_bytes

    path = str(tmp_path / "rename_sem")
    fs, hpath = _fs(spark, path)
    fs.mkdirs(hpath)
    jvm = spark._jvm
    lock = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_LOCK"))
    tmp = jvm.org.apache.hadoop.fs.Path(
        posixpath.join(path, "_LOCK.tmp.loser")
    )
    for p, tok in ((lock, b"winner"), (tmp, b"loser")):
        out = fs.create(p, True)
        try:
            out.write(bytearray(tok))
        finally:
            out.close()
    assert not fs.rename(tmp, lock)
    assert read_small_bytes(
        spark, posixpath.join(path, "_LOCK")
    ) == b"winner"
    assert fs.exists(tmp)


def test_concurrent_append_and_takedown_lose_no_updates(spark, tmp_path):
    """The r11 review's lost-update race: an append stream and a
    takedown stream interleave read-modify-write metadata cycles on
    ONE index. With _meta_locked every counter survives — N appends
    and M takedowns from two racing threads end with appends == N,
    tombstones == M, every appended id served, every deleted id
    gone. (Without the lock a stale-snapshot recommit reverts the
    other writer's counter, orphaning its delta.)"""
    import threading

    from goflow2clickhouse_spark.plans.storage import (
        append_to_sq_index,
        delete_from_index,
        sq_index_probe,
        write_sq_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 100)
    path = str(tmp_path / "race")
    write_sq_index(base, path)

    batches = [
        emb.filter((F.col("vec_id") >= 100 + 50 * i)
                   & (F.col("vec_id") < 150 + 50 * i))
        for i in range(3)
    ]
    dead_ids = [[5 + i, 60 + i] for i in range(3)]
    errs = []

    def appender():
        try:
            for b in batches:
                append_to_sq_index(b, path)
        except Exception as ex:  # pragma: no cover - surfaced below
            errs.append(ex)

    def deleter():
        try:
            for ids in dead_ids:
                delete_from_index(
                    emb.filter(F.col("vec_id").isin(ids)).select("vec_id"),
                    path,
                )
        except Exception as ex:  # pragma: no cover - surfaced below
            errs.append(ex)

    ta, td = threading.Thread(target=appender), threading.Thread(
        target=deleter
    )
    ta.start(); td.start(); ta.join(); td.join()
    assert not errs, errs

    meta = current_meta(spark, path)
    assert meta["appends"] == 3, meta
    assert meta["tombstones"] == 3, meta
    q = emb.filter(F.col("vec_id") == 200)  # an appended vector
    served = {
        r["vec_id"]
        for r in sq_index_probe(spark, path, q, k=250).collect()
    }
    assert 200 in served  # its own code is its nearest neighbor
    gone = {i for ids in dead_ids for i in ids}
    assert not served & gone


def _jobs_started(spark, fn) -> int:
    """The Spark jobs `fn()` starts, counted by the status tracker over
    a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted calls")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_rerank_exact_tier_guards_plan_and_full_R_equivalence(
    spark, tmp_path
):
    """IVFADC+R (r12, plans/storage._rerank_exact): the guards refuse
    a missing source and R < k before any job runs; the candidate
    fetch pushes the id list into the raw-vector parquet scan
    (PushedFilters — never a second full corpus scan); the output is ordered by exact distance
    with the topk_l2_bruteforce tie-break; and with R = |corpus| the
    re-ranked top-k EQUALS the exact brute-force top-k (the refine
    tier's correctness limit)."""
    from goflow2clickhouse_spark.operators import similarity as S
    from goflow2clickhouse_spark.plans.storage import (
        pq_index_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_rr")
    write_pq_index(emb, path)
    q = emb.filter(F.col("vec_id") == 0)

    def guards():
        with pytest.raises(ValueError, match="rerank_source"):
            pq_index_probe(spark, path, q, k=10, rerank=20)
        with pytest.raises(ValueError, match="must be >= k"):
            pq_index_probe(spark, path, q, k=10, rerank=5,
                           rerank_source=emb)

    assert _jobs_started(spark, guards) == 0

    res = pq_index_probe(spark, path, q, k=10, rerank=20,
                         rerank_source=emb)
    rows = res.collect()
    assert len(rows) == 10
    assert [r["dist"] for r in rows] == sorted(r["dist"] for r in rows)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "In(vec_id" in plan  # candidate ids reach the scan

    n = emb.count()
    full = pq_index_probe(spark, path, q, k=10, rerank=int(n),
                          rerank_source=emb)
    exact = S.topk_l2_bruteforce(emb, q, k=10)
    assert [r["vec_id"] for r in full.collect()] == [
        r["vec_id"] for r in exact.collect()
    ]


def test_meta_mutex_stale_lock_takeover(spark, tmp_path):
    """A crashed holder's lock (no heartbeat → mtime older than the
    lease) is taken over automatically — no manual _LOCK deletion, no
    timeout (the r11 verdict's operational sharp edge)."""
    import posixpath
    import time

    from goflow2clickhouse_spark.versioned import _fs, meta_mutex

    path = str(tmp_path / "stale_lock")
    fs, hpath = _fs(spark, path)
    fs.mkdirs(hpath)
    jvm = spark._jvm
    lock = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_LOCK"))
    assert fs.createNewFile(lock)
    fs.setTimes(lock, int((time.time() - 3600) * 1000), -1)
    t0 = time.monotonic()
    with meta_mutex(spark, path, timeout_sec=10, lease_sec=0.5):
        pass
    assert time.monotonic() - t0 < 5.0


def test_meta_mutex_heartbeat_blocks_takeover(spark, tmp_path):
    """A LIVE holder is never stolen from, even when it holds the
    lock far longer than the lease: the heartbeat thread keeps the
    mtime fresh, so liveness is judged by lock age, not caller wait
    time (the r11 advice's point about long compactions)."""
    import threading
    import time

    from goflow2clickhouse_spark.versioned import meta_mutex

    path = str(tmp_path / "live_lock")
    order = []
    entered = threading.Event()

    def holder():
        with meta_mutex(spark, path, lease_sec=0.6):
            order.append("a-in")
            entered.set()
            time.sleep(2.5)  # >4 leases — heartbeats keep it fresh
            order.append("a-out")

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(30)  # event, not sleep — the startup rule
    with meta_mutex(spark, path, timeout_sec=30, lease_sec=0.6):
        order.append("b-in")
    t.join()
    assert order == ["a-in", "a-out", "b-in"]


def test_killed_holder_taken_over_without_losing_counters(
    spark, tmp_path
):
    """The r11 verdict's done-criterion for the lease: a killed
    writer's orphaned _LOCK does not block the index, and the
    subsequent writers' counters all land — append once, delete once,
    both through a takeover of the stale lock."""
    import posixpath
    import time

    from goflow2clickhouse_spark.plans.storage import (
        append_to_sq_index,
        delete_from_index,
        sq_index_probe,
        write_sq_index,
    )
    from goflow2clickhouse_spark.versioned import _fs, current_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "killed")
    write_sq_index(emb.filter(F.col("vec_id") < 30), path)
    # simulate a holder killed mid-cycle: its lock survives, stale
    fs, _ = _fs(spark, path)
    jvm = spark._jvm
    lock = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_LOCK"))
    assert fs.createNewFile(lock)
    fs.setTimes(lock, int((time.time() - 3600) * 1000), -1)

    append_to_sq_index(
        emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40)), path
    )
    delete_from_index(
        emb.filter(F.col("vec_id") == 5).select("vec_id"), path
    )
    meta = current_meta(spark, path)
    assert int(meta["appends"]) == 1
    assert int(meta["tombstones"]) == 1
    q = emb.filter(F.col("vec_id") == 0)
    served = {r["vec_id"] for r in
              sq_index_probe(spark, path, q, k=40).collect()}
    assert 35 in served and 5 not in served


def test_fencing_refuses_stale_snapshot_commit(spark, tmp_path):
    """versioned.fence_snapshot (r12): a writer whose lock lease was
    lost mid-cycle must not revert the interloper's commit — the
    recommit from the stale snapshot raises FencingError and the
    interloper's counters survive."""
    from goflow2clickhouse_spark.plans.storage import (
        delete_from_index,
        write_sq_index,
    )
    from goflow2clickhouse_spark.versioned import (
        FencingError,
        current_meta,
        recommit_meta,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "fenced")
    write_sq_index(emb.filter(F.col("vec_id") < 30), path)
    snap = current_meta(spark, path)  # this cycle's snapshot
    # interloper commits while the snapshot holder is paused
    delete_from_index(
        emb.filter(F.col("vec_id") == 3).select("vec_id"), path
    )
    with pytest.raises(FencingError, match="another writer"):
        recommit_meta(spark, path, snap, appends=7)
    meta = current_meta(spark, path)
    assert int(meta["tombstones"]) == 1
    assert int(meta.get("appends", 0)) == 0


def test_delete_from_index_type_gates(spark, tmp_path):
    """delete_from_index's id-type diagnostics (r11 advice): a
    non-integral id relation refuses BEFORE casting (a string
    relation silently nulled into the misleading 'empty relation'
    error), and an index whose stored id column is not BIGINT refuses
    with a type-specific message instead of a type-mismatched
    anti-join."""
    from goflow2clickhouse_spark.plans.storage import (
        delete_from_index,
        write_band_index,
        write_sq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "typed")
    write_sq_index(emb.filter(F.col("vec_id") < 30), path)
    sids = spark.createDataFrame([("5",)], "vec_id string")
    with pytest.raises(TypeError, match="integral ids"):
        delete_from_index(sids, path)

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"),
                "text")
        .limit(20)
    )
    bpath = str(tmp_path / "band_str")
    write_band_index(docs, bpath)
    with pytest.raises(TypeError, match="long-typed ids"):
        delete_from_index(
            spark.createDataFrame([(1,)], "doc_id bigint"), bpath
        )


def test_batch_rerank_relational_guards_and_plan(spark, tmp_path):
    """ivfpq_batch_probe(rerank=R) — the batch refine tier stays
    relational: candidate selection plans as WindowGroupLimit (no
    driver collect of Q x R rows), the guards refuse a missing
    source and R < k before any job runs (the single IVF-PQ probe's
    guards too), per-query output is k rows ordered by exact
    distance, and the RESIDUAL layout composes too (pinned below at
    nprobe=n_cells, R=N against the exact batch top-k)."""
    from goflow2clickhouse_spark.plans.storage import (
        ivfpq_batch_probe,
        ivfpq_probe,
        write_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "ivfpq_br")
    write_ivfpq_index(docs, emb, path, n_cells=4)
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    q = emb.filter(F.col("vec_id") == 0)

    def guards():
        with pytest.raises(ValueError, match="rerank_source"):
            ivfpq_batch_probe(spark, path, qs, k=5, rerank=10).collect()
        with pytest.raises(ValueError, match="must be >= k"):
            ivfpq_batch_probe(spark, path, qs, k=5, rerank=3,
                              rerank_source=emb)
        # the single probe's guards, before its ranked-cells collect
        with pytest.raises(ValueError, match="rerank_source"):
            ivfpq_probe(spark, path, q, k=5, rerank=10)
        with pytest.raises(ValueError, match="must be >= k"):
            ivfpq_probe(spark, path, q, k=5, rerank=3, rerank_source=emb)

    # refused before the batch is persisted or its contract aggregated
    assert _jobs_started(spark, guards) == 0
    res = ivfpq_batch_probe(spark, path, qs, k=5, nprobe=2,
                            rerank=10, rerank_source=emb)
    rows = res.collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["dist"]))
    assert set(by_qid) == {0, 1}
    for qid, rs in by_qid.items():
        rs.sort()
        assert [x[0] for x in rs] == [1, 2, 3, 4, 5]
        assert [x[1] for x in rs] == sorted(x[1] for x in rs)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan

    # residual layout: the rerank tier composes (candidates via the
    # per-(qid, cell) residual LUTs, exact tier on raw vectors) and
    # with R = |corpus| the per-query result equals the exact top-k
    # over the probed cells' members — pinned via nprobe = n_cells
    # (every cell probed), where it must equal the global exact top-k
    from goflow2clickhouse_spark.operators import similarity as S

    rpath = str(tmp_path / "ivfpq_br_res")
    write_ivfpq_index(docs, emb, rpath, n_cells=4, residual=True)
    n = emb.count()
    full = ivfpq_batch_probe(spark, rpath, qs, k=5, nprobe=4,
                             rerank=int(n), rerank_source=emb)
    got = {}
    for r in full.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    from goflow2clickhouse_spark.plans.storage import eligible_embeddings

    exact = S.topk_l2_bruteforce_batch(
        eligible_embeddings(docs, emb, 200, "en"), qs, k=5
    )
    want = {}
    for r in exact.collect():
        want.setdefault(r["qid"], []).append(r["vec_id"])
    for qid in want:
        assert [v for _, v in sorted(got[qid])] == want[qid], qid


def test_pq_batch_rerank_full_R_equals_exact(spark, tmp_path):
    """pq_index_batch_probe(rerank=R) — flat-PQ batch refine: with
    R = |corpus| the per-query re-ranked top-k EQUALS the exact batch
    top-k (no cell pruning in this layout, so R bounds the only
    error), and the guards refuse a missing source and R < k."""
    from goflow2clickhouse_spark.operators import similarity as S
    from goflow2clickhouse_spark.plans.storage import (
        pq_index_batch_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_brr")
    write_pq_index(emb, path)
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    def guards():
        with pytest.raises(ValueError, match="rerank_source"):
            pq_index_batch_probe(spark, path, qs, k=5, rerank=10).collect()
        with pytest.raises(ValueError, match="must be >= k"):
            pq_index_batch_probe(spark, path, qs, k=5, rerank=3,
                                 rerank_source=emb)

    assert _jobs_started(spark, guards) == 0
    n = emb.count()
    full = pq_index_batch_probe(spark, path, qs, k=5, rerank=int(n),
                                rerank_source=emb)
    got = {}
    for r in full.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    exact = S.topk_l2_bruteforce_batch(emb, qs, k=5)
    want = {}
    for r in exact.collect():
        want.setdefault(r["qid"], []).append(r["vec_id"])
    for qid in want:
        assert [v for _, v in sorted(got[qid])] == want[qid], qid


def test_rerank_missing_candidate_refuses_loudly(spark, tmp_path):
    """_rerank_exact (r12 review): a candidate id absent from
    rerank_source must raise, not silently shrink the top-k — the
    wrong-source failure (eligible-only relation for a full-corpus
    index) surfaces at the first action."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from goflow2clickhouse_spark.plans.storage import (
        pq_index_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_miss")
    write_pq_index(emb, path)
    q = emb.filter(F.col("vec_id") == 0)
    holey = emb.filter(F.col("vec_id") % 7 != 1)  # drop some corpus ids
    res = pq_index_probe(spark, path, q, k=5, rerank=20,
                         rerank_source=holey)
    with pytest.raises(SparkRuntimeException,
                       match="missing from rerank_source"):
        res.collect()


def test_batch_rerank_missing_candidate_refuses_loudly(spark, tmp_path):
    """_batch_rerank_exact (r13, the r12 advice's asymmetry): the
    BATCH path shares the single probe's contract — a candidate id
    absent from rerank_source raises at the first action instead of
    silently shrinking that query's pool (the earlier inner-join
    fetch promoted worse vectors with no error). Same fixture shape
    as the single-path test; a complete source still serves."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from goflow2clickhouse_spark.plans.storage import (
        pq_index_batch_probe,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_batch_miss")
    write_pq_index(emb, path)
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    holey = emb.filter(F.col("vec_id") % 7 != 1)  # drop some corpus ids
    res = pq_index_batch_probe(spark, path, qs, k=5, rerank=20,
                               rerank_source=holey)
    with pytest.raises(SparkRuntimeException,
                       match="missing from rerank_source"):
        res.collect()
    ok = pq_index_batch_probe(spark, path, qs, k=5, rerank=20,
                              rerank_source=emb)
    assert ok.count() == 2 * 5


def test_release_after_takeover_spares_new_lock(spark, tmp_path):
    """meta_mutex release is ownership-checked (r12 review): a holder
    whose lock was taken over must NOT delete the new holder's lock
    on exit — mutual exclusion holds for a third writer."""
    import posixpath
    import time

    from goflow2clickhouse_spark.versioned import (
        _fs,
        meta_mutex,
        read_small_bytes,
    )

    path = str(tmp_path / "owned")
    fs, hpath = _fs(spark, path)
    fs.mkdirs(hpath)
    jvm = spark._jvm
    lockp = posixpath.join(path, "_LOCK")
    lock = jvm.org.apache.hadoop.fs.Path(lockp)
    with meta_mutex(spark, path, lease_sec=0.5):
        # simulate a takeover while "paused": replace the lock with
        # another holder's (different owner token)
        out = fs.create(lock, True)
        out.write(bytearray(b"someone-else"))
        out.close()
    # the overtaken holder exited WITHOUT deleting the usurper's lock
    assert read_small_bytes(spark, lockp) == b"someone-else"
    fs.delete(lock, False)
    # and normal acquire/release still deletes its own lock
    with meta_mutex(spark, path, lease_sec=0.5):
        pass
    assert read_small_bytes(spark, lockp) is None


def test_delete_accepts_scale0_decimal_ids(spark, tmp_path):
    """JDBC/ClickHouse feeds deliver DECIMAL(n,0) ids; they cast to
    long losslessly and must pass the type gate (r12 review: the
    first gate draft refused them — a regression for working
    callers)."""
    from goflow2clickhouse_spark.plans.storage import (
        delete_from_index,
        sq_index_probe,
        write_sq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "dec_ids")
    write_sq_index(emb.filter(F.col("vec_id") < 30), path)
    ids = spark.createDataFrame([(3,), (7,)], "vec_id long").select(
        F.col("vec_id").cast("decimal(10,0)").alias("vec_id")
    )
    delete_from_index(ids, path)
    q = emb.filter(F.col("vec_id") == 0)
    served = {r["vec_id"] for r in
              sq_index_probe(spark, path, q, k=30).collect()}
    assert 3 not in served and 7 not in served and 5 in served


def test_zombie_data_write_cannot_clobber_committed_delta(spark, tmp_path):
    """Nonce-unique delta dirs (r13 — closing the meta_mutex residual
    hazard the r12 docstring sketched): a holder whose cycle was
    overtaken and that resumes MID-DATA-WRITE lands in its OWN
    never-committed directory. Simulated end to end: snapshot the
    metadata, let a second writer append batch W and commit, then
    replay the zombie's data write from the stale snapshot's slot
    allocation — the committed delta's contents are untouched, the
    zombie's dir is invisible to readers, and its recommit is fenced."""
    import posixpath

    import pytest

    from goflow2clickhouse_spark.operators.similarity import pq_encode
    from goflow2clickhouse_spark.plans.storage import (
        _alloc_delta,
        _read_index_codes,
        append_to_pq_index,
        write_pq_index,
    )
    from goflow2clickhouse_spark.versioned import (
        FencingError,
        current_meta,
        recommit_meta,
        version_dir,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_zombie")
    write_pq_index(emb.filter(F.col("vec_id") < 30), path)
    snap = current_meta(spark, path)  # the zombie's stale snapshot

    # the live writer (waiter that took over) commits batch W
    w_batch = emb.filter(
        (F.col("vec_id") >= 30) & (F.col("vec_id") < 40)
    )
    append_to_pq_index(w_batch, path)
    meta = current_meta(spark, path)
    assert meta["appends"] == 1 and len(meta["delta_dirs"]) == 1

    # the zombie resumes its data write from the STALE snapshot: same
    # j, different nonce -> a disjoint directory
    zdelta, zj, _ = _alloc_delta(version_dir(path, 1), snap, "appends")
    assert zj == 1 and not zdelta.endswith(meta["delta_dirs"][0])
    cb = spark.read.parquet(f"{path}/v1/codebook")
    z_batch = emb.filter(
        (F.col("vec_id") >= 40) & (F.col("vec_id") < 45)
    )
    pq_encode(z_batch, cb).write.mode("overwrite").parquet(
        posixpath.join(zdelta, "codes")
    )

    # committed view: base + W only; the zombie's rows never surface
    served = {
        r["vec_id"]
        for r in _read_index_codes(
            spark, path, version_dir(path, 1), current_meta(spark, path)
        ).select("vec_id").collect()
    }
    assert served == set(range(40))
    # and the zombie's metadata commit is refused by the fence
    with pytest.raises(FencingError, match="another writer"):
        recommit_meta(spark, path, snap, appends=1)


def test_zombie_delete_cannot_resurface_taken_down_ids(
    spark, tmp_path, monkeypatch
):
    """A takedown whose holder lost its lock lease and resumes from a
    stale snapshot writes its tombstones into its own never-committed
    directory. Simulated end to end: snapshot `_CURRENT`, let a live
    delete commit tombstones for ids A, then run the zombie's
    delete_from_index from the stale snapshot (its first metadata read
    returns the snapshot), so it writes along the path the code
    allocates for it. A stays hidden from the probe, the zombie's ids
    are not served as deletions, and its recommit is fenced."""
    from goflow2clickhouse_spark import versioned
    from goflow2clickhouse_spark.plans.storage import (
        delete_from_index,
        pq_index_probe,
        write_pq_index,
    )
    from goflow2clickhouse_spark.versioned import FencingError, current_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_zombie_delete")
    write_pq_index(emb.filter(F.col("vec_id") < 40), path)
    snap = current_meta(spark, path)  # the zombie's stale snapshot

    def ids(lo, hi):
        return emb.filter(F.col("vec_id").between(lo, hi - 1)).select("vec_id")

    delete_from_index(ids(0, 5), path)  # the live writer's takedown: A

    real, stale = versioned.current_meta, [snap]

    def first_read_stale(spark_, path_):
        return stale.pop() if stale else real(spark_, path_)

    monkeypatch.setattr(versioned, "current_meta", first_read_stale)
    with pytest.raises(FencingError, match="another writer"):
        delete_from_index(ids(10, 15), path)
    monkeypatch.undo()

    q = emb.filter(F.col("vec_id") == 0)
    served = {
        r["vec_id"] for r in pq_index_probe(spark, path, q, k=100).collect()
    }
    assert served == set(range(5, 40))  # A hidden, zombie's ids served
    assert current_meta(spark, path)["tombstones"] == 1


def test_delta_dirs_backward_compat_counter_rule(spark, tmp_path):
    """Indexes that predate the recorded directory lists hold only the
    `appends` / `tombstones` counters with plain `a{j}` / `t{j}` dirs.
    The readers fall back to the counter rule for them, and the FIRST
    new append (delete) migrates the recorded list while keeping the
    old dirs served."""
    import os

    from goflow2clickhouse_spark.plans.storage import (
        _read_index_codes,
        append_to_pq_index,
        delete_from_index,
        write_pq_index,
    )
    from goflow2clickhouse_spark.versioned import (
        commit_version,
        current_meta,
        version_dir,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "pq_compat")

    def ids(lo, hi):
        return emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))

    write_pq_index(ids(0, 20), path)
    append_to_pq_index(ids(20, 30), path)
    delete_from_index(ids(0, 2).select("vec_id"), path)
    # rewrite the index's metadata and delta layout to the counter-only
    # shape: plain a1 and t1 dirs, no recorded lists
    meta = current_meta(spark, path)
    base = version_dir(path, 1)
    for family, listed, old in (("appends", "delta_dirs", "a1"),
                                ("tombstones", "tombstone_dirs", "t1")):
        os.rename(
            os.path.join(base, family, meta[listed][0]),
            os.path.join(base, family, old),
        )
    legacy = {k: v for k, v in meta.items()
              if k not in ("version", "delta_dirs", "tombstone_dirs",
                           "commit_nonce")}
    commit_version(spark, path, 1, extra=legacy)

    def served(meta):
        rel = _read_index_codes(spark, path, base, meta).select("vec_id")
        return {r["vec_id"] for r in rel.collect()}

    # counter rule still serves a1 and still hides t1's ids
    assert served(current_meta(spark, path)) == set(range(2, 30))

    # first post-migration append records BOTH dirs in the list
    append_to_pq_index(ids(30, 35), path)
    meta2 = current_meta(spark, path)
    assert meta2["appends"] == 2
    assert meta2["delta_dirs"][0] == "a1"
    assert meta2["delta_dirs"][1].startswith("a2.")
    assert served(meta2) == set(range(2, 35))

    # and the first post-migration delete records both tombstone dirs
    delete_from_index(ids(2, 3).select("vec_id"), path)
    meta3 = current_meta(spark, path)
    assert meta3["tombstones"] == 2
    assert meta3["tombstone_dirs"][0] == "t1"
    assert meta3["tombstone_dirs"][1].startswith("t2.")
    assert served(meta3) == set(range(3, 35))


def test_staged_version_claim_two_claimants_one_wins(spark, tmp_path):
    """_stage_version/_commit_staged_version (r13): two fully-written
    staging directories racing for the same v{N} — exactly ONE
    publishes (a claim over a COMMITTED version refuses loudly), an
    UNCOMMITTED leftover (crashed/overtaken writer's orphan) is
    recovered by deletion + re-claim, and the published directory
    always carries the winner's stamp."""
    import os

    import pytest

    from goflow2clickhouse_spark.plans.storage import (
        _commit_staged_version,
        _stage_version,
    )
    from goflow2clickhouse_spark.versioned import (
        current_meta,
        read_small_bytes,
        version_dir,
    )

    path = str(tmp_path / "claims")
    s1, t1 = _stage_version(spark, path)
    s2, t2 = _stage_version(spark, path)
    _commit_staged_version(spark, path, s1, 1, t1, extra={"k": "w1"})
    assert current_meta(spark, path)["k"] == "w1"
    with pytest.raises(RuntimeError, match="already committed"):
        _commit_staged_version(spark, path, s2, 1, t2, extra={"k": "w2"})
    assert current_meta(spark, path)["k"] == "w1"

    # uncommitted leftover at v2 (a crashed writer's orphan): the next
    # claimant deletes it, re-claims with its own stamp, publishes
    s3, _t3 = _stage_version(spark, path)
    os.rename(s3, version_dir(path, 2))  # claimed, never committed
    s4, t4 = _stage_version(spark, path)
    _commit_staged_version(spark, path, s4, 2, t4, extra={"k": "w4"})
    assert current_meta(spark, path)["k"] == "w4"
    assert read_small_bytes(
        spark, os.path.join(version_dir(path, 2), "_writer")
    ).decode() == t4


def test_staged_version_stamp_verify_refuses_replaced_dir(
    spark, tmp_path, monkeypatch
):
    """The stamp re-verify is the LAST line before the metadata
    commit: if the claimed v{N} was replaced between this writer\'s
    rename and its commit (a zombie\'s delete + re-claim), the read
    stamp no longer matches and the publish refuses — simulated by
    intercepting the stamp read, since the real race window is
    milliseconds wide."""
    import pytest

    from goflow2clickhouse_spark import versioned as V
    from goflow2clickhouse_spark.plans.storage import (
        _commit_staged_version,
        _stage_version,
    )

    path = str(tmp_path / "stampv")
    s, t = _stage_version(spark, path)
    real = V.read_small_bytes

    def usurped(spark_, p):
        if p.endswith("/_writer"):
            return b"usurper"
        return real(spark_, p)

    monkeypatch.setattr(V, "read_small_bytes", usurped)
    with pytest.raises(RuntimeError, match="stamp"):
        _commit_staged_version(spark, path, s, 1, t)
    monkeypatch.undo()
    assert V.current_meta(spark, path) == {}  # nothing was published


def test_gc_scratch_deletes_only_stale_orphans(spark, tmp_path):
    """versioned.gc_scratch (r13): stale `_LOCK.tmp.*` / `_LOCK.stale.*`
    files and `_v.tmp.*` staging directories are deleted past the age
    threshold; a staging dir whose TREE has a recent leaf (a live
    builder still writing under a leg subdir — the directory's own
    mtime can be old) survives, and committed artifacts are never
    touched."""
    import os
    import time

    from goflow2clickhouse_spark.plans.storage import (
        sq_index_probe,
        write_sq_index,
    )
    from goflow2clickhouse_spark.versioned import gc_scratch

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "gc")
    write_sq_index(emb.filter(F.col("vec_id") < 20), path)

    old = time.time() - 7200
    # stale orphans
    for name in ("_LOCK.tmp.deadbeef", "_LOCK.stale.cafe"):
        p = os.path.join(path, name)
        with open(p, "w") as f:
            f.write("x")
        os.utime(p, (old, old))
    stale_dir = os.path.join(path, "_v.tmp.aaaa")
    os.makedirs(os.path.join(stale_dir, "codes"))
    with open(os.path.join(stale_dir, "_writer"), "w") as f:
        f.write("t")
    for root, _dirs, files in os.walk(stale_dir, topdown=False):
        for fn in files:
            os.utime(os.path.join(root, fn), (old, old))
        os.utime(root, (old, old))
    # a LIVE staging dir: old root mtime, fresh leaf deep inside
    live_dir = os.path.join(path, "_v.tmp.bbbb")
    os.makedirs(os.path.join(live_dir, "codes"))
    with open(os.path.join(live_dir, "codes", "part-0"), "w") as f:
        f.write("fresh")
    os.utime(live_dir, (old, old))
    os.utime(os.path.join(live_dir, "codes"), (old, old))

    deleted = gc_scratch(spark, path, older_than_sec=3600)
    assert sorted(os.path.basename(d) for d in deleted) == [
        "_LOCK.stale.cafe", "_LOCK.tmp.deadbeef", "_v.tmp.aaaa",
    ]
    assert os.path.exists(live_dir)  # fresh leaf kept it alive
    # the committed index still serves
    q = emb.filter(F.col("vec_id") == 0)
    assert sq_index_probe(spark, path, q, k=5).count() == 5
    # nothing stale left: a second pass is a no-op for the stale set
    assert gc_scratch(spark, path, older_than_sec=3600) == []


def test_gc_scratch_sweeps_nested_staging_orphans(spark, tmp_path):
    """gc_scratch's `v*/_v.tmp.*` sweep (r14, r13 advice): a losing
    claimant's rename onto an existing version directory NESTS its
    staging tree at v{N}/_v.tmp.* on the local FS — those orphans are
    one level below the top-level listing the r13 gc covered. Stale
    nested orphans are reclaimed; fresh ones and the version's real
    legs survive."""
    import os
    import time

    from goflow2clickhouse_spark.plans.storage import (
        sq_index_probe,
        write_sq_index,
    )
    from goflow2clickhouse_spark.versioned import gc_scratch

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "gcn")
    write_sq_index(emb.filter(F.col("vec_id") < 20), path)

    old = time.time() - 7200
    vdir = os.path.join(path, "v1")
    assert os.path.isdir(vdir)
    stale = os.path.join(vdir, "_v.tmp.loser1")
    os.makedirs(os.path.join(stale, "codes"))
    with open(os.path.join(stale, "_writer"), "w") as f:
        f.write("t")
    for root, _dirs, files in os.walk(stale, topdown=False):
        for fn in files:
            os.utime(os.path.join(root, fn), (old, old))
        os.utime(root, (old, old))
    fresh = os.path.join(vdir, "_v.tmp.loser2")
    os.makedirs(fresh)
    with open(os.path.join(fresh, "_writer"), "w") as f:
        f.write("t")

    deleted = gc_scratch(spark, path, older_than_sec=3600)
    assert [os.path.basename(d) for d in deleted] == ["_v.tmp.loser1"]
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # under the age gate
    # the committed index still serves — real legs untouched
    q = emb.filter(F.col("vec_id") == 0)
    assert sq_index_probe(spark, path, q, k=5).count() == 5


# ---------------------------------------------------------------------------
# Persisted pHash band index (r14) — the seventh layout
# ---------------------------------------------------------------------------


def _phash_sigs(spark, ids_and_hashes):
    return spark.createDataFrame(
        ids_and_hashes, "doc_id long, phash long"
    )


def test_phash_index_probe_equals_recompute_and_scans_only_index(
    spark, tmp_path
):
    """The persisted pHash probe is result-equal to the in-memory
    phash_near_pairs form restricted to old x new, and the executed
    plan's file scans read ONLY the index directories — the old
    corpus's hashes come from the index, its blobs from nowhere."""
    from goflow2clickhouse_spark.operators import multimodal as M
    from goflow2clickhouse_spark.plans.storage import (
        incremental_phash_pairs_indexed,
        write_phash_index,
    )

    import random

    rng = random.Random(7)
    planes = {i: bytes(rng.randrange(20, 220) for _ in range(64))
              for i in range(20)}
    old_rows = [(i, M.phash64(planes[i], 8, 8)) for i in range(20)]
    # new: brightness twins of 0..4 (hamming 0), one distinct
    new_rows = [
        (1000000 + i,
         M.phash64(bytes(v + 6 for v in planes[i]), 8, 8))
        for i in range(5)
    ] + [(1000099, M.phash64(bytes(rng.randrange(20, 220)
                                   for _ in range(64)), 8, 8))]
    old = _phash_sigs(spark, old_rows)
    new = _phash_sigs(spark, new_rows)
    path = str(tmp_path / "phidx")
    write_phash_index(old, path)

    got = sorted(map(tuple,
                     incremental_phash_pairs_indexed(new, path).collect()))
    # recompute form: near pairs over the union, old x new only
    all_pairs = M.phash_near_pairs(old.unionByName(new))
    want = sorted(
        map(tuple,
            all_pairs.filter(
                (F.col("id_a") < 1000000) & (F.col("id_b") >= 1000000)
            ).collect())
    )
    assert got == want and len(got) >= 5  # the 5 planted twins found

    res = incremental_phash_pairs_indexed(new, path)
    res.collect()
    scans = _scan_nodes(res)
    assert scans, "expected index file scans in the executed plan"
    for s in scans:
        assert path in str(s.metadata()), "scan outside the index"


def test_phash_index_lifecycle_append_delete_compact(spark, tmp_path):
    """The full lifecycle on the seventh layout, all shared verbs:
    build + append serve together; delete_from_index suppresses the
    tombstoned id from candidates AND verify; compact_index folds the
    delta and physically purges the tombstones; the probe's answer is
    identical before and after the fold; wrong-layout operations
    refuse."""
    from goflow2clickhouse_spark.plans.storage import (
        append_to_band_index,
        append_to_phash_index,
        compact_index,
        delete_from_index,
        incremental_phash_pairs_indexed,
        write_phash_index,
    )
    from goflow2clickhouse_spark.versioned import current_meta

    # ids 1..4 share hash H (clique); 5 unique; batch pairs with all
    H, H2 = 0x0123456789ABCDE, 0x7000000000000001
    old1 = _phash_sigs(spark, [(1, H), (2, H)])
    old2 = _phash_sigs(spark, [(3, H), (4, H ^ 1), (5, H2)])
    path = str(tmp_path / "phlife")
    write_phash_index(old1, path)
    append_to_phash_index(old2, path)
    new = _phash_sigs(spark, [(1000001, H), (1000002, H2 ^ 2)])

    def probe():
        return sorted(map(tuple,
                          incremental_phash_pairs_indexed(new, path)
                          .collect()))

    assert probe() == [
        (1, 1000001, 0), (2, 1000001, 0), (3, 1000001, 0),
        (4, 1000001, 1), (5, 1000002, 1),
    ]
    # takedown: id 2 (base) and id 5 (delta) disappear everywhere
    delete_from_index(
        spark.createDataFrame([(2,), (5,)], "doc_id long"), path
    )
    after_del = [(1, 1000001, 0), (3, 1000001, 0), (4, 1000001, 1)]
    assert probe() == after_del
    # compact: physical purge + delta fold; answers identical
    assert compact_index(spark, path, min_appends=1)
    meta = current_meta(spark, path)
    assert int(meta["version"]) == 2
    assert int(meta.get("appends", 0)) == 0
    assert int(meta.get("tombstones", 0)) == 0
    assert probe() == after_del
    # wrong-layout gates: the band-layout verb refuses this index
    with pytest.raises(ValueError, match="'phash' layout"):
        append_to_band_index(
            spark.createDataFrame([(9, "some text here")],
                                  "doc_id long, text string"),
            path,
        )


def test_phash_index_refusals(spark, tmp_path):
    """Loud edges: empty build; probe with no committed index; the
    pigeonhole radius cap."""
    from goflow2clickhouse_spark.plans.storage import (
        incremental_phash_pairs_indexed,
        write_phash_index,
    )

    path = str(tmp_path / "phedge")
    sigs = _phash_sigs(spark, [(1, 42)])
    with pytest.raises(FileNotFoundError, match="no committed"):
        incremental_phash_pairs_indexed(sigs, path)
    with pytest.raises(ValueError, match="empty"):
        write_phash_index(_phash_sigs(spark, []), path)
    write_phash_index(sigs, path)
    with pytest.raises(ValueError, match="max_hamming"):
        incremental_phash_pairs_indexed(sigs, path, max_hamming=4)
