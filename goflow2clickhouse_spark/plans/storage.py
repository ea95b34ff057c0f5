"""Storage layouts — how the engine persists the flows fact table and
the IVF index so that Catalyst prunes at the directory level.

The reference's ClickHouse table is ENGINE=Null (a funnel,
create_tables.sql:35); the persisted artifacts live in operator-attached
materialized views. Here the equivalents are explicit parquet layouts:

- flows: partitioned by event date (epoch seconds → date), so any
  time-ranged query (the dominant flow-analytics predicate) scans only
  the matching day directories — PartitionFilters, zero data read
  outside the range.
- IVF index: embeddings + assigned cell, partitioned by cell, so an
  nprobe probe reads nprobe directories of ~N/K vectors each.
"""

from __future__ import annotations

from types import SimpleNamespace
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as _dedup
from ..operators import similarity as _sim
from ..schema import local_rel as _local_rel


def _meta_locked(fn):
    """Serialize an index's metadata read-modify-write cycle under
    `versioned.meta_mutex`: every append /
    delete / compaction is a current_meta snapshot → artifact write →
    recommit, and two such cycles overlapping in time lose one side's
    update — a stale-snapshot recommit reverts the other writer's
    just-committed `appends`/`tombstones` counter (orphaning its
    delta, or resurfacing deleted ids) and its (run_id, epoch) replay
    gate. Applied to every mutating index operation so the
    maintenance fold and the takedown fold can run CONCURRENTLY on
    one index, as their docstrings promise. Readers stay wait-free:
    probes never take the lock (`_CURRENT` is still one atomic
    rename). The index path is the `path`/`index_path` parameter; the
    session comes from the explicit `spark` parameter or the first
    DataFrame argument."""
    import functools
    import inspect

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        from ..versioned import meta_mutex

        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        path = bound.arguments.get("path") or bound.arguments.get(
            "index_path"
        )
        spark = bound.arguments.get("spark")
        if spark is None:
            spark = next(
                v.sparkSession
                for v in bound.arguments.values()
                if isinstance(v, DataFrame)
            )
        with meta_mutex(spark, path):
            return fn(*args, **kwargs)

    return wrapper


def write_flows_partitioned(flows: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist flows partitioned by event date. At 100 TB add a second
    level (hour) if day directories exceed a few hundred GB."""
    (
        flows.withColumn(
            "event_date", F.to_date(F.timestamp_seconds(F.col("time_received")))
        )
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def read_flows(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    partition_by: list[str] | None = None,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Cluster-on-write: range-partition by `cluster_cols`, sort within
    each partition, write parquet — the Spark analog of a ClickHouse
    MergeTree ORDER BY key (what the reference deployment's MV target
    tables would declare; create_tables.sql:35 funnels into them).

    Why it matters at 100 TB: parquet footers carry per-row-group
    min/max for every column. After this layout each row group owns a
    narrow, nearly disjoint range of the cluster key, so a point or
    range predicate on it prunes almost every row group AT THE SCAN —
    data-skipping without an index, the same mechanism MergeTree's
    primary key provides (and Delta/Iceberg call clustering /
    Z-ordering in the single-key case). Unclustered, every row group
    spans the whole key domain and nothing prunes; the effectiveness
    delta is asserted from the real footers in
    tests/test_storage.py. `repartitionByRange` samples the key
    distribution, so skewed keys still yield balanced files.

    `n_files` pins the range-partition count (and thus file count);
    leave None to let AQE size the exchange — but note AQE happily
    coalesces a small relation into ONE file, which erases the
    row-group disjointness this layout exists for, so pin it when
    clustering small reference/dimension tables."""
    if n_files is not None:
        out = df.repartitionByRange(n_files, *cluster_cols)
    else:
        out = df.repartitionByRange(*cluster_cols)
    out = out.sortWithinPartitions(*cluster_cols)
    w = out.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def zorder_value(cols: list, bits: int = 16):
    """Morton/Z-order key: interleave the low `bits` bits of each
    column into one long — the multi-column generalization of the
    single-key sort in `write_clustered`. Sorting by the z-value gives
    EVERY interleaved column locality in the file layout, so parquet
    row-group min/max stats prune on predicates over any of them (the
    mechanism behind Delta/Iceberg Z-ORDER BY, built here from plain
    column arithmetic — shifts, masks, adds; whole-stage codegen, no
    UDF). Inputs are masked to `bits` bits; callers scale/offset
    beforehand (ports and /16 prefixes already fit 16 bits).
    Constraint: len(cols) * bits <= 63 — the interleaved key must fit
    a signed long without the sign bit (enforced; the DuckDB replay
    would otherwise widen to hugeint and diverge).

    Deterministic + engine-portable: the DuckDB oracle for
    `flows_zorder_tiles` replays the identical expression."""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    mask = (1 << bits) - 1
    n = len(cols)
    if n * bits > 63:
        raise ValueError(
            f"z-order key needs {n * bits} bits but a signed long holds "
            "63 — lower `bits` (e.g. bits=15 for 4 columns) so the "
            "interleaved key fits without touching the sign bit"
        )
    terms = []
    for j, c in enumerate(cols):
        c = (F.col(c) if isinstance(c, str) else c).cast("long").bitwiseAND(
            F.lit(mask)
        )
        for i in range(bits):
            terms.append(
                F.shiftright(c, i).bitwiseAND(F.lit(1))
                * F.lit(1 << (i * n + j)).cast("long")
            )
    return reduce(add, terms)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Cluster-on-write along a Z-curve over `zorder_cols`: compute the
    interleaved key, range-partition + sort by it, drop it, write.
    Use over `write_clustered` when queries filter on MORE THAN ONE
    column and no single sort key serves them all."""
    if "__z" in df.columns:
        # withColumn would silently REPLACE (then drop) the caller's
        # column — data loss with no error; the repo's clash-guard
        # convention (operators/sampling._no_clash) is to refuse loudly
        raise ValueError(
            "write_zordered uses '__z' as its scratch key column but "
            "the input already has one — rename it before clustering"
        )
    z = df.withColumn("__z", zorder_value(zorder_cols, bits))
    if n_files is not None:
        out = z.repartitionByRange(n_files, "__z")
    else:
        out = z.repartitionByRange("__z")
    out.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)


def eligible_embeddings(
    documents: DataFrame,
    embeddings: DataFrame,
    min_chars: int = 200,
    lang: str = "en",
) -> DataFrame:
    """The filtered-search eligibility gate: metadata predicate over
    `documents`, applied to the vectors via an id-keyed LEFT SEMI join.
    ONE implementation — extension_queries._filtered_eligible and the
    persisted index build both route here, so the index can never
    silently hold a different eligible set than the query/oracle it
    materializes (one statement of the predicate, not three)."""
    ok = documents.filter(
        (F.col("n_chars") >= min_chars) & (F.col("lang") == lang)
    ).select(F.col("doc_id").alias("vec_id"))
    return embeddings.join(ok, "vec_id", "left_semi")


def write_filtered_ivf_index(
    documents: DataFrame,
    embeddings: DataFrame,
    path: str,
    n_cells: int = 8,
    min_chars: int = 200,
    lang: str = "en",
    keep_versions: int = 2,
    coarse_train_iterations: int = 0,
) -> None:
    """Persist the FILTERED IVF index `filtered_ann_ivf` promises
    (extension_queries.py): eligibility (eligible_embeddings — the
    same gate the query uses) bounds the vectors BEFORE the index is
    built — seed centroids come from the eligible set, every written
    row is eligible — and the assigned vectors land partitioned by
    cell, so a probe is a partition-pruned scan of nprobe directories
    of eligible data only. The centroid relation is stored alongside
    because probes must rank cells with exactly the centroids the
    build used. The filter pays once at build, not per query.

    ATOMIC builds: cells + centroids land under `<path>/v{N}/` and
    `<path>/_CURRENT` commits LAST via atomic rename (_build). A build
    that dies mid-write leaves _CURRENT on the previous complete
    version, so a probe can never pair one build's centroids with
    another build's cell assignments (a torn index silently degrades
    recall: cells were argmax-assigned against DIFFERENT centroids).
    Versions beyond `keep_versions` are pruned.

    `coarse_train_iterations` > 0 Lloyd-refines the seed centroids
    over the eligible corpus (one eligible scan per iteration, build
    time only); it is recorded so probes can pin the regime. The
    build parameters are recorded so probes can refuse a mismatched
    index. An empty eligible set refuses. Shared build contract:
    _build."""
    _build(
        "ivf", embeddings, path, keep_versions,
        {"n_cells": n_cells, "min_chars": min_chars, "lang": lang,
         "coarse_train_iters": int(coarse_train_iterations)},
        documents=documents,
    )


def append_to_ivf_index(
    documents: DataFrame,
    embeddings: DataFrame,
    path: str,
    extra: dict | None = None,
) -> None:
    """Fold a new embedding batch into the filtered-IVF index: gate it
    with the RECORDED min_chars/lang, assign it against the STORED
    centroids, and commit one cell-partitioned delta
    (`appends/a{j}.{8-hex}/cells/cell=*/`). Appended vectors join
    cells seeded from the original build's centroids; after heavy
    drift, rebuild (write_filtered_ivf_index). An eligible-empty batch
    counts as empty. Shared append contract: _append."""
    _append("ivf", embeddings, path, extra, documents=documents)


def _stage_version(spark: SparkSession, path: str) -> tuple[str, str]:
    """A unique scratch directory for a new version's artifacts,
    pre-stamped with this writer's claim token (the version-dir
    sibling of the nonce-unique delta dirs): were builders and
    compactions to write legs DIRECTLY into the deterministic `v{N+1}`
    directory, a holder paused past its lock lease and resumed
    mid-write could interleave its legs with a successor's —
    committing a TORN artifact pair (one writer's codebook under the
    other's codes) that the metadata fence alone cannot catch,
    because the fence checks commit lineage, not data-directory
    identity. Staging dirs
    are `<path>/_v.tmp.{hex}`; `_commit_staged_version` claims the
    real `v{N}` name by rename and verifies the stamp before
    committing. A crashed writer's staging dir is an orphan — never
    referenced, safe to delete once no build is running."""
    import posixpath
    import uuid

    from ..versioned import _fs

    token = uuid.uuid4().hex
    staged = posixpath.join(path, f"_v.tmp.{token[:12]}")
    fs, _ = _fs(spark, path)
    jvm = spark._jvm  # noqa: SLF001
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(staged))
    stamp = jvm.org.apache.hadoop.fs.Path(
        posixpath.join(staged, "_writer")
    )
    out = fs.create(stamp, True)
    try:
        out.write(bytearray(token.encode("ascii")))
    finally:
        out.close()
    return staged, token


def _commit_staged_version(
    spark: SparkSession,
    path: str,
    staged: str,
    ver: int,
    token: str,
    extra: dict | None = None,
    keep_versions: int = 2,
    fence_meta: dict | None = None,
) -> None:
    """Claim `v{ver}` for a fully-written staging directory, verify
    the claim, and commit — the write-side completion of
    _stage_version:

      1. delete an UNCOMMITTED leftover `v{ver}` (the committed
         version is < ver while the lock is held, so a leftover is a
         crashed or overtaken writer's orphan; a COMMITTED v{ver}
         refuses loudly — another writer already won);
      2. plain-rename staging -> v{ver}. NOTE: for
         DIRECTORY destinations the local FS does NOT refuse an
         existing target — it "succeeds" by NESTING the staging dir
         inside it — so the rename result alone proves nothing;
      3. the REAL mutual-exclusion guard: re-read `v{ver}/_writer`
         and refuse to commit unless it still carries THIS writer's
         token. Even if a racer's delete+rename replaced (or our
         rename nested under) the directory between our rename and
         our commit, we never publish metadata over another writer's
         data (and the racer, committing its OWN complete artifact
         set with its own metadata, publishes a consistent pair — one
         side loses loudly, nothing is ever torn). On a lost claim we
         best-effort delete our nested staging orphan (gc_scratch's
         `v*/_v.tmp.*` sweep covers the crashed-loser case);
      4. fence on `fence_meta`'s commit nonce when given (the
         compaction path), then commit_version."""
    import posixpath

    from ..versioned import (
        _fs,
        commit_version,
        current_version,
        fence_snapshot,
        read_small_bytes,
    )
    from ..versioned import version_dir as _vdir

    fs, _ = _fs(spark, path)
    jvm = spark._jvm  # noqa: SLF001
    target = jvm.org.apache.hadoop.fs.Path(_vdir(path, ver))
    if fs.exists(target):
        if current_version(spark, path) >= ver:
            raise RuntimeError(
                f"cannot claim {_vdir(path, ver)}: that version is "
                "already committed — another writer finished first; "
                "retry from a fresh snapshot"
            )
        fs.delete(target, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(staged), target):
        raise RuntimeError(
            f"could not claim {_vdir(path, ver)}: another writer "
            "created it concurrently — retry from a fresh snapshot"
        )
    stamp = read_small_bytes(
        spark, posixpath.join(_vdir(path, ver), "_writer")
    )
    if stamp is None or stamp.decode("ascii", "replace") != token:
        # a lost race may have NESTED our whole staging tree at
        # v{ver}/_v.tmp.{...} (see step 2's note); reclaim it now
        # while we still know our token — best-effort, gc_scratch
        # sweeps whatever a crash leaves behind
        nested = jvm.org.apache.hadoop.fs.Path(
            posixpath.join(
                _vdir(path, ver), posixpath.basename(staged)
            )
        )
        try:
            if fs.exists(nested):
                fs.delete(nested, True)
        except Exception:  # noqa: BLE001 — cleanup must not mask
            pass
        raise RuntimeError(
            f"refusing to commit {_vdir(path, ver)}: the claimed "
            "version directory no longer carries this writer's stamp "
            "— mutual exclusion was broken and another writer "
            "replaced it; its own commit will publish a consistent "
            "pair"
        )
    if fence_meta is not None:
        fence_snapshot(spark, path, fence_meta)
    commit_version(
        spark, path, ver, extra=extra, keep_versions=keep_versions
    )


_DELTA_LISTS = {"appends": "delta_dirs", "tombstones": "tombstone_dirs"}


def _delta_names(meta: dict, family: str) -> list[str]:
    """The committed delta directory names of `family` (`appends` or
    `tombstones`): the names recorded in `delta_dirs` /
    `tombstone_dirs`, or the counter rule `a{1..appends}` /
    `t{1..tombstones}` for indexes that predate the recorded list.
    Directories not named here are torn, uncommitted or zombie writes,
    and no reader sees them."""
    names = meta.get(_DELTA_LISTS[family])
    if names is None:
        names = [
            f"{family[0]}{j}" for j in range(1, int(meta.get(family, 0)) + 1)
        ]
    return list(names)


def _alloc_delta(base: str, meta: dict, family: str) -> tuple[str, int, dict]:
    """Allocate a delta slot of `family`: (delta_dir, j, commit_extra).
    Directory names are nonce-unique (`a{j}.{8-hex}`, `t{j}.{8-hex}`)
    and the commit records the exact names, not just the counter: a
    writer that lost its lock lease and resumes mid-write lands in its
    own directory, which no committed list references, instead of
    overwriting a committed or a successor's delta. An index that
    predates the recorded list migrates it on its first new delta."""
    import posixpath
    import uuid

    j = int(meta.get(family, 0)) + 1
    names = _delta_names(meta, family)
    names.append(f"{family[0]}{j}.{uuid.uuid4().hex[:8]}")
    dx = {family: j, _DELTA_LISTS[family]: names}
    return posixpath.join(base, family, names[-1]), j, dx


def _delta_dirs(base: str, meta: dict) -> list[str]:
    """The committed version's artifact directories: the base dir plus
    every committed append delta (_delta_names). The one statement of
    the append-visibility rule, shared by every reader."""
    import posixpath

    names = _delta_names(meta, "appends")
    return [base] + [posixpath.join(base, "appends", n) for n in names]


def _committed_index(
    spark: SparkSession,
    path: str,
    kind: str | None = None,
    geometry: dict | None = None,
    expect: dict | None = None,
):
    """The one metadata gate of every index operation: committed
    version (loud when none), layout kind, the layout's UNCONDITIONAL
    geometry pin (encode and scoring run with the CURRENT module
    constants, so a recorded mismatch would garble codes silently),
    then the caller's `expect`. `kind=None` serves the layout-generic
    verbs (delete, compact), which infer the layout themselves.
    Returns (meta, version dir)."""
    from ..versioned import check_meta, current_meta, version_dir

    meta = current_meta(spark, path)
    ver = int(meta.get("version", 0))
    if ver == 0:
        label = f"{_LAYOUTS[kind].label} " if kind else ""
        raise FileNotFoundError(f"no committed {label}index under {path}")
    if kind is not None:
        _require_kind(meta, kind, path)
    if geometry:
        check_meta(meta, geometry, path)
    if expect:
        check_meta(meta, expect, path)
    return meta, version_dir(path, ver)


def _observed(df: DataFrame):
    """(df', count): df' carries a row-count observation at its root,
    and count() returns the rows df' produced once its first action
    has run. The observation rides the write the caller makes anyway,
    so no check costs a job of its own. Nothing above df' may be
    pruned for emptiness: an observed node below a join with an empty
    side is optimized away, and its count never arrives. The joins
    the layout writers put above it are with committed one-row
    artifacts (centroids, codebook, quantizer), never empty."""
    from pyspark.sql import Observation

    obs = Observation()
    counted = df.observe(obs, F.count(F.lit(1)).alias("n"))
    return counted, lambda: obs.get["n"]


def _write_leg(
    rel: DataFrame, out: str, leg: str, part_col: str | None = None
) -> None:
    """Write one leg of an index version or delta to `<out>/<leg>/`,
    hive-partitioned by `part_col` when given."""
    import posixpath

    w = rel.write.mode("overwrite")
    if part_col is not None:
        w = w.partitionBy(part_col)
    w.parquet(posixpath.join(out, leg))


def _write_delta(
    spark: SparkSession, path: str, meta: dict, base: str, family: str,
    extra: dict | None, rows: DataFrame, write,
) -> int:
    """The one write-then-commit path of index appends (`appends`) and
    deletes (`tombstones`); returns the row count it observed.

      1. allocate a nonce-unique delta directory (_alloc_delta);
      2. `write(rows, meta, base, delta_dir)` writes the delta's legs,
         counting `rows` as they are written (_observed);
      3. rows written: `_CURRENT` re-commits with the family's counter,
         its recorded directory names and `extra`;
      4. no rows: the directory is deleted (an empty write still
         leaves a `_SUCCESS`-only or schema-only directory) and only
         `extra` commits, if given.

    A torn write (delta written, commit lost) stays invisible, since
    readers follow the recorded names, and its retry lands in a fresh
    directory. `extra` commits atomically with the delta: the
    streaming folds record their (run_id, epoch) replay gate there, so
    the gate advances with the delta it guards, and also for an empty
    batch."""
    from ..versioned import _fs, recommit_meta

    delta, _, dx = _alloc_delta(base, meta, family)
    counted, count = _observed(rows)
    write(counted, meta, base, delta)
    n = count()
    if n:
        recommit_meta(spark, path, meta, extra={**(extra or {}), **dx})
        return n
    fs, hdelta = _fs(spark, delta)
    fs.delete(hdelta, True)
    family_dir = hdelta.getParent()
    if len(fs.listStatus(family_dir)) == 0:
        fs.delete(family_dir, False)
    if extra:
        recommit_meta(spark, path, meta, extra=extra)
    return 0


def _read_tombstones(
    spark: SparkSession, base: str, meta: dict, id_col: str
) -> DataFrame | None:
    """The committed version's tombstoned-id relation: the union of
    the committed `tombstones/<name>/ids` deltas (_delta_names). None
    when the index has no deletions, so undeleted indexes keep their
    exact pre-deletion plans. The schema is a literal (ids are always
    written as one BIGINT column named after the layout's id column),
    so the read never pays an inference footer pass."""
    import posixpath

    legs = [
        posixpath.join(base, "tombstones", n, "ids")
        for n in _delta_names(meta, "tombstones")
    ]
    if not legs:
        return None
    return spark.read.schema(f"{id_col} bigint").parquet(*legs).distinct()


def _drop_tombstoned(
    spark: SparkSession, rel: DataFrame, base: str, meta: dict
) -> DataFrame:
    """Anti-join a data-leg relation against the committed tombstones
    (delete_from_index) — THE single statement of the deletion-
    visibility rule, applied by every reader. A broadcast: takedown
    lists are small by nature, and a tombstone set large enough to
    matter is the operational signal to compact (which physically
    drops the rows and resets the counter). No-op (plan unchanged)
    when the index has no deletions."""
    idc = str(meta.get("id_col", "vec_id"))
    tombs = _read_tombstones(spark, base, meta, idc)
    if tombs is None:
        return rel
    return rel.join(F.broadcast(tombs), idc, "left_anti")


def _read_index_codes(
    spark: SparkSession, path: str, base: str, meta: dict
) -> DataFrame:
    """The committed version's full PQ-code relation (base + committed
    deltas, minus committed tombstones) with the per-commit cached
    schema — _read_index_cells' codes-leg twin, shared by the single
    and batch probes of the code layouts."""
    import posixpath

    legs = [posixpath.join(d, "codes") for d in _delta_dirs(base, meta)]
    rel = _union_parquet(
        spark, legs, schema=_leg_schema(spark, path, meta, "codes", legs[0])
    )
    return _drop_tombstoned(spark, rel, base, meta)


def _read_index_cells(
    spark: SparkSession, path: str, base: str, meta: dict
) -> DataFrame:
    """The committed version's full cell relation (base + committed
    deltas, minus committed tombstones). Each leg is a
    cell-partitioned parquet scan, so a `cell` filter partition-prunes
    every leg of the union. The schema comes from the per-commit cache
    (_leg_schema) so repeat probes skip the eager inference footer
    read."""
    import posixpath

    legs = [posixpath.join(d, "cells") for d in _delta_dirs(base, meta)]
    rel = _union_parquet(
        spark, legs, schema=_leg_schema(spark, path, meta, "cells", legs[0])
    )
    return _drop_tombstoned(spark, rel, base, meta)


# ---------------------------------------------------------------------------
# vector index probes: one single-query and one batch pipeline for the
# five vector layouts, driven by the layout table (_LAYOUTS)
# ---------------------------------------------------------------------------


def _collect_single_probe_cells(
    op: str, query: DataFrame, cents: DataFrame, nprobe: int,
    batch_hint: str, vec_col: str,
) -> tuple[list[int], list[float]]:
    """The cell layouts' driver-side step of a single probe: collect
    ALL ranked cells for the query (bounded — one row per stored
    centroid per query row), validate the single-query contract from
    that same collect, and return the top-nprobe cells
    (top_probe_cells — the relational ordering's driver twin) plus the
    query vector as Python floats, so pruning and scoring use the SAME
    vector.

    Contract checks, all jobless (they read the pruning collect):
      * 0 rows            -> empty query relation, refuse;
      * >1 distinct _qv   -> two different query vectors interleaved,
                             refuse (collecting WITHOUT a limit is what
                             makes this complete — an in-plan
                             limit(nprobe) would hide a second query
                             whose cells all ranked below the first's);
      * duplicate cell id -> the same vector submitted twice (identical
                             _qv, so the distinct check can't see it),
                             refuse;
      * NULL vector / NULL element -> every score is NULL and the
                             'top-k' would rank purely by id, refuse
                             loudly (the _require_unique_qids rule).
    A legally-built index with FEWER centroids than the requested
    n_cells (eligible set smaller than the knob) serves normally: the
    row count is whatever the centroid array holds, never compared
    against the recorded knob."""
    qrows = _sim.rank_probe_cells(query, cents, None, vec_col).collect()
    if not qrows:
        raise ValueError(
            f"{op} serves exactly one query vector, got 0 rows"
        )
    qvs = {
        None if r["_qv"] is None else tuple(r["_qv"]) for r in qrows
    }
    cells_all = [r["probe_cell"] for r in qrows]
    if len(qvs) > 1 or len(set(cells_all)) != len(cells_all):
        raise ValueError(
            f"{op} serves exactly one query vector, got multiple query "
            f"rows — use {batch_hint} for query batches"
        )
    qv_raw = qrows[0]["_qv"]
    if qv_raw is None or any(x is None for x in qv_raw):
        raise ValueError(
            f"{op}: the query vector is NULL or has NULL elements — "
            "every distance would be NULL and the top-k would rank "
            "purely by id"
        )
    probed = _sim.top_probe_cells(qrows, nprobe)
    return probed, [float(x) for x in qv_raw]


# The layouts' scoring functions. Each takes the probe state `p` built
# by _probe / _batch_probe and the (pruned) data leg, and returns the
# relation to score with its distance expression; the shared path
# projects, rounds and ranks. Single-query scorers read `p.qrel`, one
# `_qv` row; batch scorers read `p.queries` (qid, qvec) and, on the
# cell layouts, `p.qcells`, each query's ranked (qid, probe_cell) rows.


def _cell_side(p, rel: DataFrame) -> DataFrame:
    """A per-qid relation joined onto each query's ranked cells: the
    Q x nprobe broadcast side of a cell layout's batch scan."""
    return p.qcells.join(rel, p.qid).withColumnRenamed("probe_cell", "cell")


def _ivf_one(p, data):
    cos = _sim.cosine(_sim.as_double("embedding"), _sim.as_double("_qv"))
    return data.join(F.broadcast(p.qrel)), cos  # bcast bound: 1 row


def _ivf_batch(p, data):
    cos = _sim.cosine(_sim.as_double("embedding"), _sim.as_double(p.qvec))
    return data.join(F.broadcast(_cell_side(p, p.queries)), "cell"), cos


def _pq_one(p, data):
    # the query's PQ_M x PQ_K lookup table against the stored codebook
    lut = p.qrel.join(F.broadcast(p.arts["codebook"])).select(
        _sim._pq_lut_array().alias("_lut")
    )
    return data.join(F.broadcast(lut)), _sim.pq_adc_dist()


def _pq_batch(p, data):
    luts = _sim.pq_lut_rows(p.queries, p.arts["codebook"], p.qvec, p.qid)
    return data.join(F.broadcast(luts)), _sim.pq_adc_dist()  # Q rows


def _sq_one(p, data):
    qrow = p.qrel.join(F.broadcast(p.arts["quantizer"]))
    return data.join(F.broadcast(qrow)), _sim.sq_adc_dist()


def _sq_l2(p):
    """Squared L2 of the raw query against the dequantized `_deq`."""
    qv = F.col(p.qvec).cast("array<double>")
    return _sim._l2sq(qv, F.col("_deq"))


def _sq_batch(p, data):
    # each code row is dequantized ONCE, below the query join, so only
    # the DIM-element squared-diff fold pays per (code, query) pair
    deq = data.join(F.broadcast(p.arts["quantizer"])).select(
        F.col(p.idc), _sim.sq_dequant().alias("_deq")
    )
    return deq.join(F.broadcast(p.queries)), _sq_l2(p)


def _ivfsq_one(p, data):
    rel = data.join(F.broadcast(p.qrel)).join(
        F.broadcast(p.arts["quantizer"])
    )
    return rel, _sim.sq_adc_dist()


def _ivfsq_batch(p, data):
    deq = data.join(F.broadcast(p.arts["quantizer"])).select(
        "cell", F.col(p.idc), _sim.sq_dequant().alias("_deq")
    )
    return deq.join(F.broadcast(_cell_side(p, p.queries)), "cell"), _sq_l2(p)


def _ivfpq_one(p, data):
    if not p.meta.get("residual"):
        return _pq_one(p, data)
    # IVFADC (Jégou §V): residual codes score against one LUT per
    # probed cell, built from the query's residual to that cell's
    # centroid by the same ivf_residual the encode side uses
    qrel = _local_rel(
        p.spark, [(c, p.qv) for c in p.probed],
        "cell bigint, _qv array<double>",
    )
    qres = _sim.ivf_residual(
        qrel, p.arts["centroids"], "_qv", "_qres"
    ).select("cell", "_qres")
    luts = _sim.pq_lut_rows(qres, p.arts["codebook"], "_qres", "cell")
    return data.join(F.broadcast(luts), "cell"), _sim.pq_adc_dist()


def _ivfpq_batch(p, data):
    cb = p.arts["codebook"]
    if p.meta.get("residual"):
        # one LUT per (qid, probed cell), from that cell's residual
        qres = _sim.ivf_residual(
            _cell_side(p, p.queries), p.arts["centroids"], p.qvec, "_qres"
        ).select(p.qid, "cell", "_qres")
        side = _sim.pq_lut_rows(qres, cb, "_qres", p.qid, keep=("cell",))
    else:
        side = _cell_side(p, _sim.pq_lut_rows(p.queries, cb, p.qvec, p.qid))
    return data.join(F.broadcast(side), "cell"), _sim.pq_adc_dist()


# The layouts' codecs: one rows/train/encode triple per layout, shared
# by its build (_build, into the staged version) and its append
# (_append, into a delta directory), so each leg's encoding exists once.
#
#   rows(batch, meta, **cols) -> the caller's batch normalized with the
#       recorded (or, at build, to-be-recorded) metadata: the
#       eligibility gate, the id column, the vector/text/hash column;
#   train(rows, meta, put) -> False for an empty input, checked before
#       training; each quantizer leg goes through `put(leg, rel)`, which
#       writes it and returns its read-back. Band and pHash have no
#       quantizers and no train;
#   encode(rows, arts, meta, out) -> writes the data legs under `out`
#       against the quantizers `arts`; band and pHash return the row
#       count of their first leg, which a build refuses at 0.

PHASH_BANDS = 4  # four 16-bit bands: pigeonhole-complete for hamming <= 3


def _idc(meta: dict, default: str = "vec_id") -> str:
    return str(meta.get("id_col", default))


def _gated_rows(batch, meta, documents):
    """IVF, IVF-PQ: the batch's vectors that pass the recorded
    min_chars/lang gate (eligible_embeddings)."""
    return eligible_embeddings(
        documents, batch, int(meta["min_chars"]), str(meta["lang"])
    )


def _vector_rows(batch, meta, vec_col="embedding"):
    """PQ, SQ, IVF-SQ: the recorded id column and the vectors, named
    `embedding` for the codecs."""
    return batch.select(F.col(_idc(meta)), F.col(vec_col).alias("embedding"))


def _band_rows(batch, meta, text_col="text", id_col="doc_id"):
    return batch.select(
        F.col(id_col).alias(_idc(meta, "doc_id")),
        F.col(text_col).alias("text"),
    )


def _phash_rows(batch, meta, id_col="doc_id", hash_col="phash"):
    return batch.select(
        F.col(id_col).alias(_idc(meta, "doc_id")),
        F.col(hash_col).cast("long").alias("phash"),
    )


def _coarse_centroids(rows, meta, seeds):
    """The IVF coarse quantizer: the lowest-id vectors of `seeds`, or
    with `coarse_train_iters` > 0 Lloyd-refined over all of `rows`
    (one scan per iteration, build time only)."""
    n, iters = meta["n_cells"], int(meta["coarse_train_iters"])
    if iters > 0:
        return _sim.ivf_centroids_trained(
            rows, n, iters, "embedding", _idc(meta)
        )
    return _sim.ivf_centroids(seeds, n, "embedding", _idc(meta))


def _ivf_train(rows, meta, put) -> bool:
    from ..operators.dedup import _ckpt_rdd_ids, _release_rdds

    # checkpointed, so the eligible subtree runs once for the centroids
    # and once for the assignment
    cents = _coarse_centroids(rows, meta, rows).localCheckpoint(eager=True)
    try:
        # read off the materialized centroid row: an isEmpty() would
        # evaluate the eligibility semi-join once more
        if not cents.first()["_cents"]:
            return False
        put("centroids", cents)
    finally:
        _release_rdds(rows.sparkSession.sparkContext, _ckpt_rdd_ids(cents))
    return True


def _pq_train(rows, meta, put) -> bool:
    if rows.isEmpty():
        return False
    iters, idc = int(meta["pq_train_iters"]), _idc(meta)
    put("codebook", (
        _sim.pq_codebook_trained(rows, iters, "embedding", idc)
        if iters > 0
        else _sim.pq_codebook(rows, "embedding", idc)
    ))
    return True


def _sq_train(rows, meta, put) -> bool:
    if rows.isEmpty():
        return False
    put("quantizer", _sim.sq_quantizer(rows))
    return True


def _ivfsq_train(rows, meta, put) -> bool:
    if rows.isEmpty():
        return False
    put("centroids", _coarse_centroids(rows, meta, rows))
    put("quantizer", _sim.sq_quantizer(rows))
    return True


def _ivfpq_train(rows, meta, put) -> bool:
    from ..operators.dedup import _ckpt_rdd_ids, _release_rdds

    # both seed relations derive from the lowest-id prefix of the
    # eligible set, so one TakeOrdered pass materializes it for both
    low = (
        rows.orderBy("vec_id")
        .limit(max(meta["n_cells"], _sim.PQ_K))
        .localCheckpoint(eager=True)
    )
    try:
        if low.isEmpty():
            return False
        cents = put("centroids", _coarse_centroids(rows, meta, low))
        iters = int(meta["pq_train_iters"])
        if iters > 0:
            # Lloyd-refined over the distribution the codes quantize
            # (Jégou §II-B), seeded from the same lowest-id prefix
            rel, vec = _ivfpq_input(rows, cents, meta)
            cb = _sim.pq_codebook_trained(rel, iters, vec)
        else:
            rel, vec = (
                _ivfpq_input(low, cents, meta) if meta["residual"]
                else (low, "embedding")
            )
            cb = _sim.pq_codebook(rel, vec)
        put("codebook", cb)
    finally:
        _release_rdds(rows.sparkSession.sparkContext, _ckpt_rdd_ids(low))
    return True


def _ivf_encode(rows, arts, meta, out) -> None:
    cells = _sim.ivf_assign(rows, arts["centroids"])
    _write_leg(cells, out, "cells", "cell")


def _pq_encode(rows, arts, meta, out) -> None:
    codes = _sim.pq_encode(rows, arts["codebook"], "embedding", _idc(meta))
    _write_leg(codes, out, "codes")


def _sq_encode(rows, arts, meta, out) -> None:
    codes = _sim.sq_encode(rows, arts["quantizer"], "embedding", _idc(meta))
    _write_leg(codes, out, "codes")


def _ivfsq_encode(rows, arts, meta, out) -> None:
    codes = _sim.sq_encode(
        _sim.ivf_assign(rows, arts["centroids"]), arts["quantizer"],
        "embedding", _idc(meta), keep=("cell",),
    )
    _write_leg(codes, out, "cells", "cell")


def _ivfpq_input(rows, cents, meta):
    """(relation, vector column) the IVF-PQ codes quantize: the
    cell-assigned vectors, or with `residual` (IVFADC, Jégou §V) their
    residuals to the assigned centroid, which centers the 4-bit budget
    on the within-cell distribution."""
    cells = _sim.ivf_assign(rows, cents)
    if meta.get("residual"):
        return _sim.ivf_residual(cells, cents), "residual"
    return cells, "embedding"


def _ivfpq_encode(rows, arts, meta, out) -> None:
    rel, vec = _ivfpq_input(rows, arts["centroids"], meta)
    codes = _sim.pq_encode(rel, arts["codebook"], vec, keep=("cell",))
    _write_leg(codes, out, "cells", "cell")


def _band_encode(rows, arts, meta, out) -> int:
    import posixpath

    idc = _idc(meta, "doc_id")
    shingles, count = _observed(
        _dedup.shingle_arrays(rows, "text", idc, int(meta["n"]))
    )
    _write_leg(shingles, out, "shingles")
    # bands derive from the written shingles, never from a second text
    # scan; shas carry the doc id so deletion can address a doc's hash
    sh = rows.sparkSession.read.parquet(posixpath.join(out, "shingles"))
    bands = _dedup.band_key_rows(_dedup.array_minhash_sigs(sh, idc), idc)
    _write_leg(bands, out, "bands", "band_no")
    shas = rows.select(F.col(idc), F.sha2(F.col("text"), 256).alias("_sha"))
    _write_leg(shas.distinct(), out, "shas")
    return count()


def _phash_encode(rows, arts, meta, out) -> int:
    import posixpath

    hashes, count = _observed(rows)
    _write_leg(hashes, out, "hashes")
    hs = rows.sparkSession.read.parquet(posixpath.join(out, "hashes"))
    _write_leg(_phash_band_rows(hs, _idc(meta, "doc_id")), out, "bands",
               "band_no")
    return count()


class _Layout(NamedTuple):
    """One row of the layout table: what the generic index verbs need
    to know about a layout. A new layout adds one row.

    `data` lists the data legs as (leg, partition column, re-dedup):
    compaction unions each over base + deltas into the new base, and
    probes scan the first. `quantizers` are the 1-row artifacts
    compaction copies verbatim and probes read through
    _version_artifacts. `geometry` is the unconditional pin every
    append and probe checks and every build records. The probe fields
    exist on the vector layouts only: the probe names (the batch name
    is also the single probe's hint for query batches), the query
    dimension `dim`, the score column and its order, the extra output
    `cols`, and the single and batch scorers.

    The write fields: the `rows`/`train`/`encode` codec, the build's
    refusal reason for an empty input (`empty`, formatted with the
    metadata), whether appends read the quantizers through the
    per-commit cache (`cached_arts`) instead of parquet, and whether
    an append caches its batch (`cache`: the band codec reads it
    twice). `maintain` names the maintenance path of a layout whose
    batches are not vectors; the vector layouts leave it empty and
    are folded by streaming/indexing.index_maintenance_fold."""

    label: str
    data: tuple
    quantizers: tuple = ()
    geometry: dict | None = None
    probe: str = ""
    batch: str = ""
    dim: int = 0
    score: str = "adist"
    desc: bool = False
    cols: tuple = ()
    score_one: Callable | None = None
    score_batch: Callable | None = None
    rows: Callable = _vector_rows
    train: Callable | None = None
    encode: Callable | None = None
    empty: str = "corpus is empty"
    cached_arts: bool = False
    cache: bool = False
    maintain: str = ""

    @property
    def cells(self) -> bool:
        """The data leg is partitioned by IVF cell: probes rank cells
        and partition-prune the scan to the probed ones."""
        return self.data[0][1] == "cell"

    @property
    def gated(self) -> bool:
        """Rows pass the recorded eligibility gate, so a build or an
        append needs the `documents` side."""
        return self.rows is _gated_rows

    @property
    def order(self):
        """The score ordering, NULL scores last."""
        by = F.desc_nulls_last if self.desc else F.asc_nulls_last
        return by(self.score)


_CELLS = (("cells", "cell", False),)
_CODES = (("codes", None, False),)
_PQ_PIN = {"pq_m": _sim.PQ_M, "pq_sub": _sim.PQ_SUB, "pq_k": _sim.PQ_K}
_SQ_PIN = {"sq_buckets": _sim.SQ_BUCKETS, "dim": _sim.DIM}
_NO_ELIGIBLE = "eligible set is empty (min_chars={min_chars}, lang={lang!r})"

_LAYOUTS = {
    "band": _Layout(
        "band",
        (("shingles", None, False), ("bands", "band_no", False),
         ("shas", None, True)),
        geometry={"num_perm": _dedup.NUM_PERM, "bands": _dedup.BANDS},
        rows=_band_rows, encode=_band_encode, cache=True,
        empty="corpus produced no shingles (every doc shorter than "
              "n={n} words?)",
        maintain="streaming/dedupe.py's streaming_incremental_dedup",
    ),
    "phash": _Layout(
        "pHash band", (("hashes", None, False), ("bands", "band_no", False)),
        geometry={"phash_bands": PHASH_BANDS},
        rows=_phash_rows, encode=_phash_encode,
        empty="the hash relation is empty", maintain="append_to_phash_index",
    ),
    "ivf": _Layout(
        "IVF", _CELLS, ("centroids",),
        probe="ivf_index_probe", batch="ivf_batch_probe", dim=_sim.DIM,
        score="cos_sim", desc=True,
        score_one=_ivf_one, score_batch=_ivf_batch,
        rows=_gated_rows, train=_ivf_train, encode=_ivf_encode,
        empty=_NO_ELIGIBLE,
    ),
    "pq": _Layout(
        "PQ", _CODES, ("codebook",), _PQ_PIN,
        probe="pq_index_probe", batch="pq_index_batch_probe",
        dim=_sim.PQ_M * _sim.PQ_SUB, cols=("pq_code",),
        score_one=_pq_one, score_batch=_pq_batch,
        train=_pq_train, encode=_pq_encode,
    ),
    "sq": _Layout(
        "SQ", _CODES, ("quantizer",), _SQ_PIN,
        probe="sq_index_probe", batch="sq_index_batch_probe", dim=_sim.DIM,
        score_one=_sq_one, score_batch=_sq_batch,
        train=_sq_train, encode=_sq_encode, cached_arts=True,
    ),
    "ivfsq": _Layout(
        "IVF-SQ", _CELLS, ("centroids", "quantizer"), _SQ_PIN,
        probe="ivfsq_probe", batch="ivfsq_batch_probe", dim=_sim.DIM,
        score_one=_ivfsq_one, score_batch=_ivfsq_batch,
        train=_ivfsq_train, encode=_ivfsq_encode, cached_arts=True,
    ),
    "ivfpq": _Layout(
        "IVF-PQ", _CELLS, ("centroids", "codebook"), _PQ_PIN,
        probe="ivfpq_probe", batch="ivfpq_batch_probe",
        dim=_sim.PQ_M * _sim.PQ_SUB, cols=("pq_code",),
        score_one=_ivfpq_one, score_batch=_ivfpq_batch,
        rows=_gated_rows, train=_ivfpq_train, encode=_ivfpq_encode,
        empty=_NO_ELIGIBLE,
    ),
}


@_meta_locked
def _build(
    kind: str, batch: DataFrame, path: str, keep_versions: int,
    params: dict, **cols,
) -> None:
    """The one build path of the seven layouts: a full new version,
    written under a staging directory and committed last.

      1. the version bump and the staging directory (_stage_version);
      2. the metadata to record, `{**row.geometry, **params}` (params
         hold the id column where the layout has one and the build
         parameters); `rows` normalizes the batch with it;
      3. `train` writes the quantizer legs, each read back (with the
         schema it was written with, so no inference job) so codes
         and cells pair only with this build's quantizers;
      4. `encode` writes the data legs;
      5. an empty input (train's verdict, or encode's count of 0)
         deletes the staging directory and refuses, since a committed
         empty build would poison every reader until a rebuild;
      6. `_commit_staged_version` claims `v{N}` and commits `_CURRENT`.

    A build that dies mid-write leaves `_CURRENT` on the previous
    complete version."""
    import posixpath

    from ..versioned import _fs, current_version

    lay = _LAYOUTS[kind]
    spark = batch.sparkSession
    meta = {**(lay.geometry or {}), **params}
    rows = lay.rows(batch, meta, **cols)
    ver = current_version(spark, path) + 1
    base, token = _stage_version(spark, path)
    arts = {}

    def put(leg: str, rel: DataFrame) -> DataFrame:
        _write_leg(rel, base, leg)
        arts[leg] = spark.read.schema(rel.schema).parquet(
            posixpath.join(base, leg)
        )
        return arts[leg]

    if (lay.train and not lay.train(rows, meta, put)) or (
        lay.encode(rows, arts, meta, base) == 0
    ):
        fs, staged = _fs(spark, base)
        fs.delete(staged, True)
        raise ValueError(
            f"{lay.label} index build over {path}: "
            f"{lay.empty.format(**meta)} — nothing to index"
        )
    _commit_staged_version(
        spark, path, base, ver, token, extra=meta,
        keep_versions=keep_versions,
    )


@_meta_locked
def _append(
    kind: str, batch: DataFrame, path: str, extra: dict | None, **cols
) -> None:
    """The one append path of the seven layouts: fold a batch into the
    committed version as a delta, never reading or rewriting the
    existing legs. The metadata gate (layout kind and the row's
    geometry pin) runs first; `rows` builds the batch's rows from the
    RECORDED metadata (eligibility gate, id column, shingle width —
    never caller arguments); _write_delta counts them as `encode`
    writes the layout's legs against the committed quantizers, and
    commits.

    Quantizers and centroids are read from the committed version,
    never re-derived; a rebuild bumps the version and resets the
    counter, and compact_index folds the deltas into a new base.
    Dedup across batches is the caller's contract."""
    import posixpath

    lay = _LAYOUTS[kind]
    spark = batch.sparkSession
    meta, base = _committed_index(spark, path, kind, lay.geometry)

    def write(rows, meta, base, delta):
        if lay.cached_arts:
            arts = _version_artifacts(spark, path, meta, lay.quantizers)
        else:
            arts = {
                q: spark.read.parquet(posixpath.join(base, q))
                for q in lay.quantizers
            }
        rows = rows.persist() if lay.cache else rows
        try:
            lay.encode(rows, arts, meta, delta)
        finally:
            if lay.cache:
                rows.unpersist()

    _write_delta(
        spark, path, meta, base, "appends", extra,
        lay.rows(batch, meta, **cols), write,
    )


def _check_rerank(op: str, k: int, rerank: int, source) -> None:
    """The exact tier's argument checks, made before a probe starts
    any job (artifact collect, query persist, contract aggregate)."""
    if rerank and rerank < k:
        raise ValueError(
            f"{op}: rerank={rerank} must be >= k={k} — fewer "
            "candidates than requested results"
        )
    if rerank and source is None:
        raise ValueError(
            f"{op}: rerank requires rerank_source (the raw corpus "
            "relation the index was built from)"
        )


def _probed_cells(spark, path, base, meta, probed) -> DataFrame:
    """The cell leg partition-pruned to the probed `cell=` dirs."""
    rel = _read_index_cells(spark, path, base, meta)
    return rel.filter(F.col("cell").isin(probed))


def _probe(
    kind: str,
    spark: SparkSession,
    path: str,
    query: DataFrame,
    k: int,
    nprobe: int | None = None,
    vec_col: str = "embedding",
    expect: dict | None = None,
    rerank: int = 0,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """The single-query probe of the five vector layouts; the layout's
    row in _LAYOUTS supplies everything that differs.

      1. the rerank arguments are checked before any job runs;
      2. gate: committed version, layout kind, the row's geometry pin
         (scoring runs with the CURRENT module constants, so a recorded
         mismatch would garble every distance silently), then the
         caller's `expect`;
      3. quantizer artifacts through the per-commit cache
         (_version_artifacts), so a warm probe reads no artifact file;
      4. the query side. Cell layouts collect the ranked cells once
         (_collect_single_probe_cells): that bounded collect validates
         the single-query contract, drives partition pruning, and
         returns the query vector, which then feeds scoring as a
         LITERAL. Code layouts scan every code and guard the query
         in-plan (_single_query: a correct call costs zero extra
         jobs); with rerank they collect the validated vector once, so
         the LUT and the exact tier score one vector even for a
         nondeterministic query relation;
      5. the row's scorer joins the query side onto the data leg; the
         score is rounded to 6 places and ordered by the row's order
         (NULLs last), ties to the smaller id;
      6. top-k, or with `rerank=R` the exact tier over the top-R
         candidates (_rerank_exact).

    Returns (id, *cols, score); with rerank, (id, adist, dist)."""
    lay = _LAYOUTS[kind]
    _check_rerank(lay.probe, k, rerank, rerank_source)
    meta, base = _committed_index(spark, path, kind, lay.geometry, expect)
    arts = _version_artifacts(spark, path, meta, lay.quantizers)
    p = SimpleNamespace(
        spark=spark, meta=meta, arts=arts,
        idc=str(meta.get("id_col", "vec_id")),
    )
    if lay.cells:
        p.probed, p.qv = _collect_single_probe_cells(
            lay.probe, query, arts["centroids"], nprobe, lay.batch, vec_col
        )
        data = _probed_cells(spark, path, base, meta, p.probed)
        p.qrel = _local_rel(spark, [(p.qv,)], "_qv array<double>")
    else:
        data = _read_index_codes(spark, path, base, meta)
        p.qrel = _sim._single_query(
            query, lay.probe, _qv=_sim.as_double(vec_col)
        )
        if rerank:
            # bounded: the guard's aggregate is one row, and its
            # in-plan assert fires on this very collect
            qv = p.qrel.first()["_qv"]
            p.qrel = _local_rel(spark, [(qv,)], "_qv array<double>")
    rel, dist = lay.score_one(p, data)
    ranked = rel.select(
        F.col(p.idc), *lay.cols, F.round(dist, 6).alias(lay.score)
    ).orderBy(lay.order, p.idc)
    if rerank:
        return _rerank_exact(
            spark, ranked.limit(rerank), p.qrel, rerank_source, k,
            lay.probe, id_col=p.idc, vec_col=vec_col,
        )
    return ranked.limit(k)


def _batch_probe(
    kind: str,
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int | None,
    qvec_col: str,
    qid_col: str,
    expect: dict | None,
    rerank: int = 0,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """The batch probe of the five vector layouts: one corpus pass
    serves Q queries, reading only the stored codes (or, on IVF, the
    cell leg).

      1. the rerank arguments are checked before any job runs;
      2. the batch is normalized to (qid, qvec), persisted, and its
         contract enforced (_batch_probe_queries: an empty batch, a
         duplicated qid and a NULL, NULL-element or wrong-dimension
         qvec all refuse loudly);
      3. the gate and artifacts as in _probe;
      4. cell layouts rank each query's cells relationally
         (rank_probe_cells_batch: Q x nprobe WindowGroupLimit rows, no
         per-query collect loop); the only driver-side materialization
         is the distinct probed-cell list (<= n_cells integers), which
         prunes the ONE shared scan of the union of probed cells;
      5. the row's batch scorer joins the broadcast query side (Q LUT
         rows, Q x nprobe cell rows, or the Q raw vectors);
      6. per-query top-k as a row_number over the row's order, which
         Spark plans as WindowGroupLimit, so the shuffle carries at
         most Q x k rows per input partition (_batch_topk); or with
         `rerank=R` the relational exact tier (_batch_rerank_exact).

    Returns (qid, id, *cols, score, rank); with rerank
    (qid, id, adist, dist, rank)."""
    lay = _LAYOUTS[kind]
    _check_rerank(lay.batch, k, rerank, rerank_source)
    queries = _batch_probe_queries(
        queries, lay.batch, qid_col, qvec_col, lay.dim
    )
    try:
        meta, base = _committed_index(
            spark, path, kind, lay.geometry, expect
        )
        p = SimpleNamespace(
            meta=meta, queries=queries, qid=qid_col, qvec=qvec_col,
            arts=_version_artifacts(spark, path, meta, lay.quantizers),
            idc=str(meta.get("id_col", "vec_id")), qcells=None,
        )
        if lay.cells:
            p.qcells = _sim.rank_probe_cells_batch(
                queries, p.arts["centroids"], nprobe, qvec_col, qid_col
            ).select(qid_col, "probe_cell")
            probed = sorted({
                int(r["probe_cell"]) for r in p.qcells.collect()
            })
            data = _probed_cells(spark, path, base, meta, probed)
        else:
            data = _read_index_codes(spark, path, base, meta)
        rel, dist = lay.score_batch(p, data)
        scored = rel.select(
            F.col(qid_col), F.col(p.idc), *lay.cols,
            F.round(dist, 6).alias(lay.score),
        )
        if rerank:
            return _batch_rerank_exact(
                scored, queries, rerank_source, k, rerank, lay.batch,
                qid_col=qid_col, qvec_col=qvec_col, id_col=p.idc,
            )
        return _batch_topk(
            scored, queries, qid_col, [lay.order, p.idc],
            [p.idc, *lay.cols, lay.score], k,
        )
    except BaseException:
        queries.unpersist()
        raise


def _rerank_exact(
    spark: SparkSession,
    adc_topr: DataFrame,
    qrel: DataFrame,
    source: DataFrame,
    k: int,
    op: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The exact re-rank tier of the single PQ-family probes —
    IVFADC+R (Jégou et al. 2011 §V-D): take the top-R ADC candidates
    (`adc_topr`), fetch their RAW vectors from `source` by id, and
    re-order by exact squared L2 against the query. Recovers most of
    the 4-bit quantization loss for R extra vector reads per query
    (the cell-pruning loss is untouched — candidates only ever come
    from the probed cells).

    Plan shape at 100 TB: the candidate collect is bounded (<= R
    rows — the probed-cells precedent), and the candidate ids are
    pushed into `source`'s parquet scan as a literal id predicate
    (PushedFilters: In/range on the id column), so a corpus clustered
    or sorted by id serves the fetch from O(R) row groups — never
    a second full corpus scan. The exact distance reuses _l2sq (the
    topk_l2_bruteforce arithmetic: round-6 before ordering, ties to
    id, NULLs last) so the re-ranked order replays in any engine.
    `source` must be unique on `id_col` (the corpus relation the index
    was built from); a duplicated id would duplicate its candidate
    row, and a candidate id MISSING from the source refuses loudly
    instead of under-delivering or promoting worse vectors. Returns
    (id, adist, dist) — the ADC score is carried through from the
    candidate collect, not recomputed."""
    # bounded driver materialization: <= R (id, adist) rows
    rows = adc_topr.collect()
    cand = _local_rel(
        spark,
        [
            (
                int(r[0]),
                None if r["adist"] is None else float(r["adist"]),
            )
            for r in rows
        ],
        f"{id_col} bigint, adist double",
    )
    ids = [int(r[0]) for r in rows]
    # the pushed-down filter bounds the scan output at <= R rows, so
    # the SOURCE side is the broadcastable one — which lets the
    # candidates drive a LEFT join whose unmatched rows prove a
    # missing id in-plan (assert_true wraps the distance, so any
    # action over the top-k raises; a correct call costs zero jobs)
    src = source.filter(F.col(id_col).isin(ids)).select(
        F.col(id_col), _sim.as_double(vec_col).alias("_v")
    )
    return (
        cand.join(F.broadcast(src), id_col, "left")  # bcast: <= R rows
        .join(F.broadcast(qrel))  # bcast bound: 1 row
        .select(id_col, "adist", _exact_dist(op, id_col).alias("dist"))
        .orderBy(F.asc_nulls_last("dist"), id_col)
        .limit(k)
    )


def _exact_dist(op: str, id_col: str):
    """The exact tier's distance: squared L2 of the fetched raw vector
    `_v` against the query `_qv`, rounded to 6 places, wrapped in an
    assert_true that names a candidate id missing from the source."""
    missing_msg = F.concat(
        F.lit(f"{op}: rerank candidate id "),
        F.col(id_col).cast("string"),
        F.lit(" is missing from rerank_source — pass the corpus "
              "relation the index was built from"),
    )
    return F.when(
        F.assert_true(F.col("_v").isNotNull(), missing_msg).isNull(),
        F.round(_sim._l2sq(F.col("_v"), F.col("_qv")), 6),
    )


def _require_unique_qids(
    queries: DataFrame,
    qid_col: str,
    op: str,
    qvec_col: str | None = None,
    dim: int | None = None,
) -> None:
    """The single-probe n!=1 rule in batch form: an EMPTY batch raises
    (silently returning nothing hides an upstream bug), and a
    duplicated qid (an at-least-once upstream redelivering a query
    row, or two vectors colliding on one id) emits two LUT rows for
    one qid — the unkeyed broadcast join then scores every code twice
    and the 'top-k' silently interleaves duplicate ranks.

    When (qvec_col, dim) are given, also rejects NULL,
    wrong-dimension, or NULL-ELEMENT query vectors: a degenerate qvec
    yields an all-NULL LUT, so that qid would still return k rows with
    NULL adist ranked purely by id — silent garbage for one batch
    member. Same single aggregate, no extra job."""
    aggs = [
        F.count("*").alias("_n"),
        F.count_distinct(F.col(qid_col)).alias("_nd"),
    ]
    if qvec_col is not None:
        aggs.append(
            F.count_if(
                F.col(qvec_col).isNull()
                | (F.size(F.col(qvec_col)) != F.lit(int(dim)))
                | F.exists(F.col(qvec_col), lambda x: x.isNull())
            ).alias("_bad")
        )
    counts = queries.agg(*aggs).first()
    if counts["_n"] == 0:
        raise ValueError(f"{op} got an empty query batch — nothing to serve")
    if counts["_n"] != counts["_nd"]:
        raise ValueError(
            f"{op} requires unique {qid_col} per query row, got "
            f"{counts['_n']} rows over {counts['_nd']} distinct ids"
        )
    if qvec_col is not None and counts["_bad"] != 0:
        raise ValueError(
            f"{op} got {counts['_bad']} query row(s) with NULL or "
            f"wrong-dimension {qvec_col} (expected size {dim}, no "
            "NULL elements) — a NULL LUT would rank that qid's top-k "
            "purely by id"
        )


def _batch_probe_queries(
    queries: DataFrame, op: str, qid_col: str, qvec_col: str, dim: int
) -> DataFrame:
    """The batch probe's prologue: normalize to (qid, qvec), persist —
    the probe's cached query relation — and enforce the batch contract
    (_require_unique_qids). On a contract failure the cache is
    released HERE; after a successful return the caller owns the
    except-BaseException unpersist until tie_cache takes ownership on
    success."""
    q = queries.select(
        F.col(qid_col).alias(qid_col), F.col(qvec_col).alias(qvec_col)
    ).persist()
    try:
        _require_unique_qids(q, qid_col, op, qvec_col=qvec_col, dim=dim)
    except BaseException:
        q.unpersist()
        raise
    return q


def _batch_topk(
    scored: DataFrame,
    queries: DataFrame,
    qid_col: str,
    order_exprs: list,
    keep: list,
    k: int,
) -> DataFrame:
    """The batch probe's epilogue: per-query top-k as row_number over
    the layout's ordering — Spark plans it as WindowGroupLimit, a
    per-partition top-k heap BEFORE the exchange, so the shuffle
    carries at most Q x k rows per input partition, never the Q x N
    scored relation. Output (qid, *keep, rank); tie_cache takes
    ownership of the persisted query relation."""
    from ..operators.dedup import tie_cache
    from pyspark.sql import Window

    w = Window.partitionBy(qid_col).orderBy(*order_exprs)
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(qid_col, *keep, F.col("_rn").cast("int").alias("rank"))
    )
    return tie_cache(out, queries)


def _batch_rerank_exact(
    scored: DataFrame,
    queries: DataFrame,
    source: DataFrame,
    k: int,
    rerank: int,
    op: str,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The batch probe's IVFADC+R tier: per-query top-R ADC candidates
    via the same WindowGroupLimit shape the final top-k uses (Q x R
    rows, never collected), raw vectors fetched through ONE broadcast
    join against `source`, exact squared-L2 re-ranked per query
    (round-6, ties to id, NULLs last). Output
    (qid, id, adist, dist, rank) ranked by `dist`.

    Source-completeness is enforced IN-PLAN, as in the single tier: the
    corpus pass is pruned by a broadcast SEMI join on the candidate
    ids (the batch form of the single tier's pushed-down isin), the
    pruned <= Q x R fetch result is broadcast back onto the candidates
    as a LEFT join, and the exact distance is wrapped in an
    assert_true missing-id proof — any action raises, naming the id,
    while a correct call keeps one corpus pass and ONE index codes
    scan (the candidate relation is persisted — it feeds both the
    prune and the final join; tie_cache owns its lifetime). Pass the
    corpus relation the index was built from. At 100 TB pair the fetch
    with an id-clustered corpus + runtime bloom-filter join pruning so
    the scan skips non-candidate row groups."""
    from pyspark.sql import Window

    from ..operators.dedup import tie_cache

    wr = Window.partitionBy(qid_col).orderBy(
        F.asc_nulls_last("adist"), id_col
    )
    cand = (  # WindowGroupLimit: Q x R rows, never collected
        scored.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= rerank)
        .select(qid_col, id_col, "adist")
        # persisted: cand feeds BOTH the semi-join prune of the fetch
        # AND the final left join — without the cache each reference
        # re-runs the whole ADC pipeline (index codes scan + LUT join
        # + window top-R), doubling the dominant I/O. Lifetime ties to
        # the returned result (tie_cache below).
        .persist()
    )
    src = (
        source.select(F.col(id_col), _sim.as_double(vec_col).alias("_v"))
        # one corpus pass, pruned to <= Q x R rows before it is
        # broadcast back onto the candidates
        .join(F.broadcast(cand.select(id_col)), id_col, "semi")
    )
    qv = queries.select(qid_col, _sim.as_double(qvec_col).alias("_qv"))
    exact = (
        cand.join(F.broadcast(src), id_col, "left")  # bcast: <= Q x R
        .join(F.broadcast(qv), qid_col)  # bcast: Q rows
        .select(
            qid_col, id_col, "adist", _exact_dist(op, id_col).alias("dist")
        )
    )
    return tie_cache(
        _batch_topk(
            exact, queries, qid_col,
            [F.asc_nulls_last("dist"), id_col],
            [id_col, "adist", "dist"], k,
        ),
        cand,
    )


def ivf_index_probe(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    expect: dict | None = None,
) -> DataFrame:
    """Serve a top-k query from a persisted (filtered) IVF index: rank
    the stored centroids against the query vector, then scan ONLY the
    nprobe winning `cell=` directories of the CURRENT committed
    version (Catalyst partition-prunes the isin filter — tests assert
    the executed scan's partition count), scoring the raw stored
    floats by cosine. Cell ranking is the shared `rank_probe_cells` —
    identical tie-breaks to the in-memory ivf_topk, which the layout
    test pins result-equal. `expect`, e.g. {"n_cells": 8, "lang":
    "en"}, refuses a build with a different geometry or eligibility
    than the caller's oracle assumes. Returns (vec_id, cos_sim);
    shared contract: _probe."""
    return _probe("ivf", spark, path, query, k, nprobe, expect=expect)


def ivf_batch_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    qvec_col: str = "qvec",
    qid_col: str = "qid",
    expect: dict | None = None,
) -> DataFrame:
    """Serve a Q-query top-k batch from the persisted filtered-IVF
    layout: relational per-query cell ranking, ONE partition-pruned
    scan of the union of probed `cell=` directories for the whole
    batch, cosine scoring of the raw stored floats against the
    Q x nprobe broadcast query side. Returns (qid, vec_id, cos_sim,
    rank) with the single probe's ordering rule (cos_sim desc, vec_id
    asc); shared contract: _batch_probe."""
    return _batch_probe(
        "ivf", spark, path, queries, k, nprobe, qvec_col, qid_col, expect
    )


def write_band_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep_versions: int = 2,
) -> None:
    """Materialize the persisted MinHash band index that
    `incremental_neardup_pairs` promises ("production materializes
    those once as the persisted index", operators/dedup.py) — the
    artifact that makes daily-crawl dedup scale with the BATCH: the
    old corpus is shingled and banded ONCE here; every subsequent
    increment probes the index instead of re-shingling 100 TB of
    already-ingested text.

    Two artifacts per version, both derived from ONE corpus scan:

      <path>/v{N}/shingles/              (doc_id, shs) — the packed
                                          shingle arrays, needed by the
                                          exact-Jaccard verify
      <path>/v{N}/bands/band_no=*/       (doc_id, band_key) — 16-byte
                                          band keys, the equi-join side
      <path>/v{N}/shas/                  (_sha) — the DISTINCT sha2-256
                                          set, the exact-dup gate's old
                                          side (64-byte keys)

    The band relation is re-derived FROM the written shingles parquet
    (read-back), not from a second text scan — the corpus text is read
    at most twice per build (shingling + hashing), and the probe never
    reads it at all: band keys, shingle sets AND the exact-hash set all
    come from the index, so a full incremental-dedup increment (exact
    gate + near gate) runs without touching old corpus text.
    Versioned-atomic via versioned.py (`v{N}/` + `_CURRENT` OVERWRITE
    rename through the Hadoop FileSystem API): a build that dies
    mid-write leaves `_CURRENT` on the previous complete version, so a
    probe can never pair one build's bands with another's shingle sets.
    `_CURRENT` records the shingle width `n` and the LSH geometry
    (num_perm, bands); the probe REFUSES an index whose parameters
    differ from the caller's — a silent geometry mismatch would simply
    produce near-zero candidates (recall collapse, no error).

    100 TB notes: `bands` is partitioned by band_no (BANDS small fixed
    dirs); the per-increment probe joins on (band_no, band_key) and AQE
    broadcasts the batch side when small. `shingles` is corpus-sized
    but column-pruned at probe time (doc_id + shs only) and fetched by
    a candidate-id semi-join."""
    _build(
        "band", corpus, path, keep_versions, {"id_col": id_col, "n": n},
        text_col=text_col, id_col=id_col,
    )


def append_to_band_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra: dict | None = None,
) -> None:
    """Fold an ingested batch INTO the band index — the second half of
    the daily-crawl loop: each increment first dedups against the index
    (`incremental_neardup_pairs_indexed` + `band_index_sha_set`), then
    the kept docs are appended here so TOMORROW'S batch dedups against
    them too, as one `appends/a{j}.{8-hex}/{shingles,bands,shas}`
    delta. Shingle width, id column and LSH geometry come from the
    RECORDED metadata; the num_perm/bands gate is unconditional, since
    banding runs with the CURRENT module constants and a mismatched
    delta would never match a probe again. The batch is cached for the
    write: the codec reads it twice (shingles, shas). A batch whose
    docs are all shorter than the shingle width commits an empty
    `bands` leg, which `_union_parquet` reads with the base leg's
    schema. Shared append contract: _append."""
    _append(
        "band", batch, path, extra, text_col=text_col, id_col=id_col
    )


def _band_index_parts(spark: SparkSession, index_path: str):
    """(meta, [artifact dirs]) of the committed band index: the base
    version directory plus every COMMITTED append delta."""
    meta, base = _committed_index(spark, index_path, "band")
    return meta, _delta_dirs(base, meta)


_ARTIFACT_CACHE: dict = {}


def _version_artifacts(
    spark: SparkSession, path: str, meta: dict, legs: tuple[str, ...]
) -> dict[str, DataFrame]:
    """1-row quantizer artifacts (codebook / centroids) cached per
    (path, version, leg) — the probe meta-cache: uncached, the
    persisted probes spent ~95% of their ~1 s per query on
    guard/meta/quantizer reads while the pruned 8-byte code scan
    itself cost 0.06 s. Each leg's parquet is read and collected ONCE
    per committed version; later probes rebuild it as a LOCAL relation
    from the cached rows + schema (exact round-trip — Row values are
    the parquet values), skipping the file listing, footer read and
    scan job entirely. Local relations hold no executor state, so the
    cache is session-independent and never pins persistent RDDs (a
    localCheckpoint variant broke the probes' no-cache-leak
    invariants).

    Invalidation: `_CURRENT` is still read on EVERY probe (tiny, and
    the single source of truth) — the cache key carries both the
    committed VERSION and the commit TOKEN (versioned.commit_token —
    the `commit_nonce` recorded in `_CURRENT`, so reading it costs
    nothing; mtime fallback for pre-nonce indexes): a rebuild or
    compaction bumps the version, and a wipe-and-rebuild that RESTARTS
    at v1 still gets a fresh nonce (version alone would serve the old
    build's codebook against the new build's codes, silently; an
    mtime-only token aliases on second-granularity filesystems).
    Appends never touch these legs (quantizers are copied, never
    re-derived) but re-commit `_CURRENT` with a fresh nonce — an
    acceptable miss: the artifacts are re-read once per append, still
    never per probe. Memory bound: one artifact set per
    live (path, commit); every stale (path, *) entry — version OR
    token mismatch, schema entries included — is pruned on the spot."""
    import posixpath

    from ..versioned import commit_token, version_dir

    ver = int(meta["version"])
    tok = commit_token(spark, path, meta)
    base = version_dir(path, ver)
    out = {}
    for leg in legs:
        key = (path, ver, tok, leg)
        hit = _ARTIFACT_CACHE.get(key)
        if hit is None:
            df = spark.read.parquet(posixpath.join(base, leg))
            hit = (df.schema, df.collect())
            _ARTIFACT_CACHE[key] = hit
        out[leg] = _local_rel(spark, hit[1], hit[0])
    _prune_artifact_cache(path, ver, tok)
    return out


def _prune_artifact_cache(path: str, ver: int, tok: int) -> None:
    """Drop every cached entry for `path` whose (version, token)
    doesn't match the current commit — shared by the artifact and
    schema caches so neither accumulates across rebuilds."""
    for k in [
        k for k in _ARTIFACT_CACHE
        if k[0] == path and (k[1], k[2]) != (ver, tok)
    ]:
        del _ARTIFACT_CACHE[k]


def _union_parquet(
    spark: SparkSession, paths: list[str], schema=None
) -> DataFrame:
    """Union the base leg with every delta leg, reading the deltas with
    the BASE leg's schema: a committed delta whose partitioned relation
    happens to be empty (e.g. a folded batch where every doc is shorter
    than the shingle width — non-empty shas, empty bands) holds only
    `_SUCCESS`, and a plain read of it throws UNABLE_TO_INFER_SCHEMA
    With an explicit schema the same
    directory reads as a valid empty relation.

    `schema`: read EVERY leg (base included) with the given
    schema — schema inference is an EAGER footer read per
    spark.read.parquet call, which dominated warm-probe plan
    construction (profiled ~0.9 s of a 1.4 s probe at sf0.1); the
    probes pass the per-version cached schema (_leg_schema) instead."""
    if schema is not None:
        out = spark.read.schema(schema).parquet(paths[0])
    else:
        out = spark.read.parquet(paths[0])
        schema = out.schema
    for p in paths[1:]:
        out = out.unionByName(spark.read.schema(schema).parquet(p))
    return out


def _leg_schema(
    spark: SparkSession, path: str, meta: dict, leg: str, first_path: str
):
    """Data-leg schema cached under the same (path, version, token)
    keying and pruning as _version_artifacts (base-dir keys would
    never be pruned and would survive a wipe-and-rebuild that reuses
    the version dir). Partition columns (cells' `cell`) are part of
    the inferred schema and Spark honors user-specified partition
    columns, the same contract the delta legs rely on."""
    from ..versioned import commit_token

    ver = int(meta["version"])
    tok = commit_token(spark, path, meta)
    key = (path, ver, tok, "schema:" + leg)
    hit = _ARTIFACT_CACHE.get(key)
    if hit is None:
        hit = spark.read.parquet(first_path).schema
        _ARTIFACT_CACHE[key] = hit
    _prune_artifact_cache(path, ver, tok)
    return hit


def incremental_neardup_pairs_indexed(
    new: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """`operators/dedup.incremental_neardup_pairs` served from the
    persisted band index (`write_band_index`) instead of the old-side
    DataFrame: the old corpus is never re-shingled — its text is never
    even SCANNED (tests/test_storage.py asserts the executed plan's
    file scans touch only the index directories and the new batch).
    Returns the same (id_a, id_b, jaccard) relation, pinned
    result-equal to the recompute form by a differential test.

    Plan shape: band keys for the BATCH only (shingle → minhash →
    band, batch-sized), one equi-join against the index's band
    relation on (band_no, band_key), then the shared exact-Jaccard
    verify fetching shingle sets per side — the old side's sets come
    from the index's shingles parquet via a candidate-id semi-join
    (column-pruned to (doc_id, shs); candidate ids are
    dup-fraction-sized). Work per increment scales with the batch and
    the candidate count, never the corpus."""
    import posixpath

    from ..operators.dedup import _incremental_pairs, shingle_arrays, tie_cache
    from ..versioned import check_meta

    spark = new.sparkSession
    meta, dirs = _band_index_parts(spark, index_path)
    # a silent geometry mismatch would collapse recall with no error
    check_meta(meta, {"n": n, **_LAYOUTS["band"].geometry}, index_path)
    idx_id = str(meta.get("id_col", "doc_id"))

    # only the OLD sides differ from the recompute form — both route
    # through the one shared pipeline (operators/dedup._incremental_
    # pairs), so the two forms cannot drift. The old side
    # is base + committed append deltas (append_to_band_index).
    sh_new = shingle_arrays(new, text_col, id_col, n).persist()
    try:
        # the delta-leg reads do eager file listing, so they stay
        # INSIDE the protected region: a leg read raising between
        # persist and tie_cache
        # would orphan the cache with no owner to unpersist it
        # committed tombstones (delete_from_index) drop out of both
        # old sides — a deleted doc can never resurface as a
        # candidate or a verified pair partner
        tombs = _read_tombstones(spark, dirs[0], meta, idx_id)
        bk_old = _union_parquet(
            spark, [posixpath.join(d, "bands") for d in dirs]
        )
        old_sets = _union_parquet(
            spark, [posixpath.join(d, "shingles") for d in dirs]
        )
        if tombs is not None:
            bk_old = bk_old.join(F.broadcast(tombs), idx_id, "left_anti")
            old_sets = old_sets.join(
                F.broadcast(tombs), idx_id, "left_anti"
            )
        bk_old = bk_old.select(
            F.col(idx_id).alias("id_a"), "band_no", "band_key"
        )
        old_sets = old_sets.select(F.col(idx_id).alias("id_a"), "shs")
        result, cands = _incremental_pairs(
            sh_new, bk_old, old_sets, id_col, threshold
        )
        return tie_cache(result, sh_new, cands)
    except BaseException:
        sh_new.unpersist()
        raise


# ---------------------------------------------------------------------------
# Persisted pHash band index: the IMAGE
# family's crawl-loop artifact — the seventh persisted layout, the
# band index's shape applied to the 63-bit DCT perceptual hash. A
# multimodal pipeline hashes each ingested image once (map-only
# codec+phash64), then every increment probes this index instead of
# re-hashing (or even re-reading) the already-ingested corpus.
# ---------------------------------------------------------------------------

def _phash_band_rows(
    sigs: DataFrame, id_col: str, hash_col: str = "phash"
) -> DataFrame:
    """(id, band_no, band_key): the four 16-bit band keys of each
    63-bit pHash — the SAME split phash_near_pairs joins on
    (operators/multimodal), factored relationally so the index build
    and the probe cannot drift."""
    legs = [
        sigs.select(
            F.col(id_col),
            F.lit(j).alias("band_no"),
            F.shiftright(F.col(hash_col), 16 * j)
            .bitwiseAND(F.lit(65535))
            .alias("band_key"),
        )
        for j in range(PHASH_BANDS)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def write_phash_index(
    sigs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    keep_versions: int = 2,
) -> None:
    """Materialize the persisted pHash band index from a hash relation
    (id, phash) — phash64 outputs, typically from the map-only
    decode+hash stage. Two artifacts per version, both tiny relative
    to the blobs they summarize (ONE long per image):

      <path>/v{N}/hashes/             (id, phash) — the exact-verify
                                       side (bit_count(xor))
      <path>/v{N}/bands/band_no=*/    (id, band_key) — four 16-bit
                                       band keys, the equi-join side

    The band relation derives FROM the written hashes parquet
    (read-back), so a probe can never pair one build's bands with
    another's hashes. Versioned-atomic through the shared build path
    (_build); `_CURRENT` records the
    band geometry (`phash_bands`) and the probe refuses a mismatch.

    100 TB notes: `bands` is partitioned by band_no (4 small fixed
    dirs); the per-increment probe joins on (band_no, band_key) and
    AQE broadcasts the batch side when small. Appends, takedown
    (delete_from_index), compaction (compact_index) and gc
    (gc_scratch) reuse the shared lifecycle verbs — this layout adds
    no new crash-safety machinery, only a _LAYOUTS row."""
    _build(
        "phash", sigs, path, keep_versions, {"id_col": id_col},
        id_col=id_col, hash_col=hash_col,
    )


def append_to_phash_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    extra: dict | None = None,
) -> None:
    """Fold an ingested image batch's hashes INTO the pHash index — the
    crawl loop's second half: one `appends/a{j}.{8-hex}/{hashes,bands}`
    delta, bands derived from the written hashes. The band geometry
    gate is unconditional. Shared append contract: _append."""
    _append("phash", batch, path, extra, id_col=id_col, hash_col=hash_col)


def _phash_index_parts(spark: SparkSession, index_path: str):
    """(meta, [artifact dirs]) of the committed pHash index."""
    meta, base = _committed_index(spark, index_path, "phash")
    return meta, _delta_dirs(base, meta)


def incremental_phash_pairs_indexed(
    new_sigs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup candidates of a NEW batch against the persisted
    pHash index — phash_near_pairs' join served index-side, the image
    analog of incremental_neardup_pairs_indexed: band keys for the
    batch only (four per image, in-frame), one equi-join against the
    index's band relation on (band_no, band_key), then the exact
    hamming verify joining the index's stored hashes (old side) with
    the batch's (new side). Returns (id_a, id_b, hamming) with id_a
    from the INDEX and id_b from the batch — old-old pairs are never
    generated, and committed tombstones (delete_from_index) drop out
    of both old legs, so a deleted image can neither surface as a
    candidate nor verify as a pair partner. Work per increment scales
    with the batch and the candidate count, never the corpus.

    Raises for max_hamming > 3 — the 4-band pigeonhole rule
    (operators/multimodal.phash_near_pairs)."""
    import posixpath

    from ..operators.dedup import tie_cache
    from ..versioned import check_meta

    if max_hamming > 3:
        raise ValueError(
            "4-band pigeonhole is only complete for max_hamming <= 3; "
            f"got {max_hamming}"
        )
    spark = new_sigs.sparkSession
    meta, dirs = _phash_index_parts(spark, index_path)
    check_meta(meta, _LAYOUTS["phash"].geometry, index_path)
    idx_id = str(meta.get("id_col", "doc_id"))

    # the batch side is referenced twice (band keys + verify); if it
    # came off an expensive codec map each reference would re-decode —
    # persist it, lifetime tied to the result (the sh_new rule)
    sigs_new = new_sigs.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).cast("long").alias("sig_b"),
    ).persist()
    try:
        tombs = _read_tombstones(spark, dirs[0], meta, idx_id)
        bk_old = _union_parquet(
            spark, [posixpath.join(d, "bands") for d in dirs]
        )
        h_old = _union_parquet(
            spark, [posixpath.join(d, "hashes") for d in dirs]
        )
        if tombs is not None:
            bk_old = bk_old.join(F.broadcast(tombs), idx_id, "left_anti")
            h_old = h_old.join(F.broadcast(tombs), idx_id, "left_anti")
        bk_new = _phash_band_rows(sigs_new, "id_b", "sig_b")
        cand = (
            bk_old.select(
                F.col(idx_id).alias("id_a"), "band_no", "band_key"
            )
            .join(bk_new, ["band_no", "band_key"])
            .select("id_a", "id_b")
            .distinct()
        )
        ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        result = (
            cand.join(
                h_old.select(
                    F.col(idx_id).alias("id_a"),
                    F.col("phash").alias("sig_a"),
                ),
                "id_a",
            )
            .join(sigs_new, "id_b")
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
        return tie_cache(result, sigs_new)
    except BaseException:
        sigs_new.unpersist()
        raise


def semdedup_prune_persisted(
    spark: SparkSession,
    index_path: str,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    expect: dict | None = None,
) -> DataFrame:
    """SemDeDup served from the persisted filtered-IVF layout
    (`write_filtered_ivf_index`) — the production shape: the in-memory
    form recomputes centroids + assignment
    per run; here both are READ from the committed index, and the
    prune proceeds cell-partition-by-cell-partition — the self-join on
    `cell` aligns with the layout's `cell=` directory partitioning, so
    each join task compares one cell directory's vectors against
    itself and the index is scanned once, column-pruned.

    ccos (distance-to-own-centroid, the dominance key) is recomputed
    from the STORED centroid row with the same hoisted-norm try_divide
    arithmetic as `_best_centroid` — FP-identical to the in-memory
    assignment score, which the parity test pins (result-equal to
    `semdedup_prune` over the same eligible set). Returns the same
    (id, cell, ccos, is_pruned) relation."""

    from ..operators.similarity import (
        _semdedup_from_assignment,
        as_double,
        centroid_score,
        norm,
    )

    meta, base = _committed_index(spark, index_path, "ivf", expect=expect)
    cents_row = _version_artifacts(
        spark, index_path, meta, ("centroids",)
    )["centroids"]
    cells = _read_index_cells(spark, index_path, base, meta)
    # one (cid, cvec, cn) row per centroid, norm folded once — joined
    # to each vector's OWN cell (broadcast: n_cells rows)
    cent_tbl = cents_row.select(F.explode("_cents").alias("c")).select(
        F.col("c.cid").alias("cell"),
        F.col("c.cvec").alias("_cvec"),
        norm(F.col("c.cvec")).alias("_cn"),
    )
    m = (
        cells.select(F.col(id_col), F.col("cell"), as_double(vec_col).alias("_v"))
        .withColumn("_n", norm(F.col("_v")))
        .join(F.broadcast(cent_tbl), "cell")
        .select(
            F.col(id_col),
            # parquet partition-column inference reads cell as int; the
            # in-memory form emits long — pin the contract's schema
            F.col("cell").cast("long").alias("cell"),
            # ccos via the ONE shared score definition (similarity.
            # centroid_score) — FP-identical to _best_centroid's
            # assignment score by construction, not by coincidence
            centroid_score(
                F.col("_cvec"), F.col("_v"), F.col("_n"), F.col("_cn")
            ).alias("ccos"),
            "_v",
            "_n",
        )
    )
    return _semdedup_from_assignment(
        m, tau, id_col, n_cells=int(meta.get("n_cells", 8)),
        size_hint_df=cells,
    )


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_versions: int = 2,
    train_iterations: int = 0,
) -> None:
    """Persist the product-quantization artifact pq_adc_topk's
    docstring promises (operators/similarity.py, Jégou et al. 2011):
    the corpus is encoded ONCE here — every subsequent probe reads the
    8-byte packed codes, never the float vectors, so the per-query
    scan is 32x less IO than the embedding column and the codebook
    derivation + full-corpus encode pay at build time, not per query
    (the in-query form re-encodes the corpus per probe, so its timing
    measures the build, not the serving path).

    Two artifacts per version:

      <path>/v{N}/codebook/   ONE row, `_cb` — the PQ_M x PQ_K entry
                              table (the broadcast side of every LUT)
      <path>/v{N}/codes/      (id, pq_code) — one packed BIGINT per
                              vector, the relation probes scan

    Codes are derived from the READ-BACK codebook parquet, so a probe
    can never pair one build's codes with another's entries.
    Versioned-atomic via _build; `_CURRENT` records PQ_M/PQ_SUB/
    PQ_K and the id column, and the probe REFUSES a geometry mismatch
    (wrong block count silently mis-unpacks every nibble — degraded
    results, no error). Incremental maintenance: new batches can be
    encoded against the stored codebook and appended (codes are
    row-independent); rebuild = re-derived codebook = the compaction,
    same contract as the IVF/band layouts.

    `train_iterations`: when > 0 the codebook is Lloyd-trained on the
    corpus subvector distribution for that many iterations
    (operators/similarity.pq_codebook_trained — deterministic seeds +
    fixed iteration count, so the oracle replays training exactly);
    recorded in `_CURRENT` as `pq_train_iters` so a probe can pin the
    training regime it expects. Appends/probes are untouched either
    way — they encode/score against the STORED codebook. An empty
    corpus refuses before training. Shared build contract: _build."""
    _build(
        "pq", embeddings, path, keep_versions,
        {"id_col": id_col, "pq_train_iters": int(train_iterations)},
        vec_col=vec_col,
    )


def append_to_pq_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    extra: dict | None = None,
) -> None:
    """Fold a new embedding batch into the PQ index: encode it against
    the STORED codebook into one `appends/a{j}.{8-hex}/codes` delta.
    The PQ geometry gate is unconditional (pq_encode packs with the
    CURRENT module constants), and the layout gate comes first: an
    IVF-PQ index records the same geometry, and a codes-only delta
    there would break every probe. Rebuild is the moment to re-derive
    the codebook after drift. Shared append contract: _append."""
    _append("pq", batch, path, extra, vec_col=vec_col)


def pq_index_probe(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    expect: dict | None = None,
    rerank: int = 0,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Serve an ADC top-k from the persisted PQ index: the query
    builds its PQ_M x PQ_K lookup table against the STORED codebook
    (one broadcast row), and the scan reads ONLY the codes parquet —
    8 bytes per vector, the 100 TB serving shape (tests/test_storage.py
    pins the executed plan's file scans to the index directories). LUT
    construction and the nibble-unpack scoring go through the SAME
    definitions as the in-memory form (operators/similarity.
    _pq_lut_array / pq_adc_dist), which the parity test pins
    result-equal. Returns (id, pq_code, adist).

    `rerank=R`: exact re-rank of the top-R ADC candidates against raw
    vectors from `rerank_source` (_rerank_exact) — with no cell
    pruning in this layout, R bounds the only serving error, so
    recall@k approaches 1.0 as R grows; output becomes
    (id, adist, dist) ranked by `dist`. Shared contract: _probe."""
    return _probe(
        "pq", spark, path, query, k, vec_col=vec_col, expect=expect,
        rerank=rerank, rerank_source=rerank_source,
    )


def pq_index_batch_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    qvec_col: str = "qvec",
    qid_col: str = "qid",
    expect: dict | None = None,
    rerank: int = 0,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Serve a Q-query ADC top-k batch from the persisted PQ index:
    per-query LUT rows (operators/similarity.pq_lut_rows — the shared
    `_pq_lut_array` definition) are broadcast against ONE codes scan
    for the whole batch, which still reads only the stored 8-byte
    codes, never the float embeddings the in-memory `batch_topk`
    scans. Both the code-only scan and the WindowGroupLimit top-k are
    pinned by executed-plan tests. Returns (qid, id, pq_code, adist,
    rank); Q is bounded by the caller's batch (Q LUT rows, ~1 KiB
    each).

    `rerank=R`: the flat-PQ batch refine tier — per-query top-R ADC
    candidates exact-re-ranked against raw vectors from
    `rerank_source` (_batch_rerank_exact); with no cell pruning in
    this layout, per-query recall approaches 1.0 as R grows
    (unit-pinned at R=N ≡ the exact batch top-k). Output becomes
    (qid, id, adist, dist, rank). Shared contract: _batch_probe."""
    return _batch_probe(
        "pq", spark, path, queries, k, None, qvec_col, qid_col, expect,
        rerank, rerank_source,
    )


def write_sq_index(
    embeddings: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_versions: int = 2,
) -> None:
    """Persist a scalar-quantization (SQ8) index: 8 bits PER
    DIMENSION instead of PQ's 4 bits per 8-dim block, i.e. 16x more
    code budget for 8x the code size. The
    capacity/recall trade sits between raw floats and PQ (Faiss's
    ScalarQuantizer tier): near-exact recall at 4-8x less probe IO
    than the embedding column, where PQ4 is 32x less IO at real
    recall loss — a corpus team picks per collection, and the recall
    gates (sq_recall vs pq_index_recall) put driver-checked numbers
    on the choice at the same fixture.

    Two artifacts per version, the PQ layout's contract verbatim:

      <path>/v{N}/quantizer/  ONE row — per-dim `lo`/`hi` arrays
                              (operators/similarity.sq_quantizer)
      <path>/v{N}/codes/      (id, sq_code array<int>) — 0..255 per
                              dim, dictionary/bit-packed by parquet

    Codes are encoded against the READ-BACK quantizer parquet (a probe
    can never pair one build's codes with another's ranges), commits
    are versioned-atomic, `_CURRENT` records the geometry
    (`sq_buckets`, `dim`, `id_col`) and probes refuse a mismatch.
    min/max ranges are exact aggregates, so rebuild determinism needs
    no sampling tricks. Appends encode new batches against the STORED
    quantizer (out-of-range values saturate — sq_encode's clamp);
    compaction folds deltas like every other layout. An empty
    corpus refuses before training. Shared build contract: _build."""
    _build("sq", embeddings, path, keep_versions, {"id_col": id_col},
           vec_col=vec_col)


def append_to_sq_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    extra: dict | None = None,
) -> None:
    """Fold a new embedding batch into the SQ index: encode it against
    the STORED quantizer into one `appends/a{j}.{8-hex}/codes` delta.
    Values drifting outside the recorded ranges saturate at the clamp;
    rebuild (a new quantizer) is the remedy. Shared append contract:
    _append."""
    _append("sq", batch, path, extra, vec_col=vec_col)


def sq_index_probe(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    expect: dict | None = None,
) -> DataFrame:
    """Serve an asymmetric top-k from the persisted SQ index: the raw
    query vector is scored against DEQUANTIZED bucket centers
    (operators/similarity.sq_adc_dist — shared with the recall gate
    and the oracles), reading ONLY the packed codes parquet. Returns
    (id, adist). The geometry gate matters here: a mismatched DIM
    would zip_with to NULL distances silently, ranking purely by id.
    Shared contract: _probe."""
    return _probe("sq", spark, path, query, k, vec_col=vec_col, expect=expect)


def sq_index_batch_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    qvec_col: str = "qvec",
    qid_col: str = "qid",
    expect: dict | None = None,
) -> DataFrame:
    """Serve a Q-query top-k batch from the persisted SQ index: one
    code-only corpus pass for the whole batch. SQ needs no LUT — the
    per-query 'quantizer artifact' IS the raw query vector — so the
    scan dequantizes each code row ONCE (a projection before the query
    join, not per (code, query) pair) and the Q-row broadcast join
    only pays the DIM-element squared-diff fold per pair. Returns
    (qid, id, adist, rank). Shared contract: _batch_probe."""
    return _batch_probe(
        "sq", spark, path, queries, k, None, qvec_col, qid_col, expect
    )


def write_ivfsq_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_versions: int = 2,
    coarse_train_iterations: int = 0,
) -> None:
    """Persist an IVF-SQ8 index — Faiss's
    IVFScalarQuantizer shape and the last cell of the quantization
    matrix ({flat, SQ8, PQ4, residual-PQ4} x {exhaustive, IVF}): the
    inverted file prunes WHICH vectors are scored (nprobe/n_cells of
    the corpus), the GLOBAL per-dim scalar quantizer compresses WHAT
    is read to score them (one byte per dim — near-exact recall where
    PQ4 trades accuracy for 8x less still). The production pick when
    the recall target is strict but the corpus no longer fits raw
    floats.

    Three artifacts per version:

      <path>/v{N}/centroids/  ONE row — the coarse quantizer
                              (operators/similarity.ivf_centroids)
      <path>/v{N}/quantizer/  ONE row — per-dim lo/hi (sq_quantizer,
                              global — Faiss's default for IVF-SQ;
                              a per-cell quantizer is a residual-style
                              refinement this layout deliberately
                              skips)
      <path>/v{N}/cells/      (id, sq_code) PARTITIONED BY cell — the
                              probe partition-prunes to nprobe dirs

    Codes are encoded against the READ-BACK quantizer and cells
    assigned against the READ-BACK centroids (a probe can never pair
    one build's codes with another's ranges); `_CURRENT` records both
    geometries and probes refuse a mismatch. Build cost: one corpus
    scan for the two 1-row quantizer artifacts + one assignment+encode
    projection pass — no shuffle wider than the partitioned write.
    `coarse_train_iterations` > 0 Lloyd-refines the coarse quantizer
    (one corpus scan per iteration, recorded so probes can pin the
    regime). An empty corpus refuses before training. Shared build
    contract: _build."""
    _build(
        "ivfsq", embeddings, path, keep_versions,
        {"n_cells": n_cells, "id_col": id_col,
         "coarse_train_iters": int(coarse_train_iterations)},
        vec_col=vec_col,
    )


def append_to_ivfsq_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    extra: dict | None = None,
) -> None:
    """Fold a new embedding batch into the IVF-SQ index: assign it
    against the STORED centroids, encode it against the STORED
    quantizer, and commit one cell-partitioned
    `appends/a{j}.{8-hex}/cells/cell=*/` delta. Shared append
    contract: _append."""
    _append("ivfsq", batch, path, extra, vec_col=vec_col)


def ivfsq_probe(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    expect: dict | None = None,
) -> DataFrame:
    """Serve a top-k from the persisted IVF-SQ index: rank the stored
    centroids for the query (the shared rank_probe_cells definition —
    identical tie-breaks to every IVF-family probe), partition-prune
    to the nprobe winning `cell=` directories, and score the raw query
    against DEQUANTIZED bucket centers (sq_adc_dist — the same shared
    expression as the flat SQ probe and the oracles). Returns
    (id, adist). Serving IO: nprobe/n_cells of ~1-byte-per-dim codes —
    the strict-recall sibling of ivfpq_probe's 8-byte rows. Shared
    contract: _probe."""
    return _probe(
        "ivfsq", spark, path, query, k, nprobe, vec_col, expect=expect
    )


def ivfsq_batch_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    qvec_col: str = "qvec",
    qid_col: str = "qid",
    expect: dict | None = None,
) -> DataFrame:
    """Serve a Q-query top-k batch from the IVF-SQ8 index: relational
    per-query cell ranking x the SQ batch scoring shape (each code row
    in the probed cells is dequantized ONCE in a projection BELOW the
    query join; only the DIM-element squared-diff fold pays per
    (code, query) pair). ONE partition-pruned scan of the union of
    probed `cell=` directories serves the whole batch, where a Q-loop
    over ivfsq_probe reads overlapping cells Q times. Returns
    (qid, id, adist, rank). Shared contract: _batch_probe."""
    return _batch_probe(
        "ivfsq", spark, path, queries, k, nprobe, qvec_col, qid_col, expect
    )


def write_ivfpq_index(
    documents: DataFrame,
    embeddings: DataFrame,
    path: str,
    n_cells: int = 8,
    min_chars: int = 200,
    lang: str = "en",
    keep_versions: int = 2,
    residual: bool = False,
    train_iterations: int = 0,
    coarse_train_iterations: int = 0,
) -> None:
    """IVF-PQ — the composed coarse-quantizer + product-quantization
    layout (Jégou et al. 2011 §V: the inverted file prunes WHICH
    vectors are scored, PQ compresses WHAT is read to score them).
    This is the canonical billion-scale ANN serving shape: at 100 TB
    the probe reads nprobe/n_cells of the corpus AND only 8 bytes per
    vector in those cells — the two savings multiply.

    Artifacts per version (one eligible-set scan feeds all three):

      <path>/v{N}/centroids/            1 row — the coarse quantizer
      <path>/v{N}/codebook/             1 row — the global PQ entries
      <path>/v{N}/cells/cell=*/         (id, pq_code) — packed codes
                                        hive-partitioned by cell

    Eligibility (the filtered-IVF gate, eligible_embeddings) bounds
    everything before the build; the PQ codebook is derived from the
    ELIGIBLE set (lowest-PQ_K ids — the deterministic seed pattern)
    and codes are encoded against the READ-BACK codebook so cells can
    never pair with a different build's entries. `_CURRENT` records
    both geometries (n_cells + pq_m/pq_sub/pq_k + the gate) and the
    probe refuses any mismatch. Versioned-atomic via _build;
    rebuild = new version = compaction.

    Build cost: both seed relations (centroids, codebook)
    derive from the LOWEST-id prefix of the eligible set, so one
    TakeOrdered pass materializes a tiny localCheckpoint'ed prefix
    that feeds both; codes and cell assignments are then computed in
    ONE projection over one more eligible scan (pq_encode keep=cell —
    no corpus-wide vec_id re-join). Two eligible scans total, zero
    shuffles. An EMPTY eligible set (wrong lang / min_chars too high)
    fails the build loudly — committing it would write a cells/ dir
    holding only _SUCCESS, poisoning every probe until a rebuild.

    `train_iterations`: when > 0, the PQ codebook is
    Lloyd-trained on the full encode relation's subvector distribution
    (residuals when `residual`, raw otherwise — the distribution the
    codes quantize; Jégou §II-B) instead of stopping at the
    deterministic seeds; adds one eligible scan per iteration, paid at
    build time only, and is recorded as `pq_train_iters` so probes can
    pin the training regime. `coarse_train_iterations` > 0 likewise
    Lloyd-refines the coarse quantizer over the full eligible set.
    Shared build contract: _build."""
    _build(
        "ivfpq", embeddings, path, keep_versions,
        {"n_cells": n_cells, "min_chars": min_chars, "lang": lang,
         "residual": residual, "pq_train_iters": int(train_iterations),
         "coarse_train_iters": int(coarse_train_iterations)},
        documents=documents,
    )


def append_to_ivfpq_index(
    documents: DataFrame,
    embeddings: DataFrame,
    path: str,
    extra: dict | None = None,
) -> None:
    """Fold a new embedding batch into the IVF-PQ index: gate it with
    the RECORDED eligibility parameters, assign it against the STORED
    centroids, encode it against the STORED codebook (residual codes
    when the index records `residual`), and commit one
    cell-partitioned `appends/a{j}.{8-hex}/cells/cell=*/` delta. The
    PQ geometry gate is unconditional. An eligible-empty batch counts
    as empty. Rebuild is the moment to refresh both quantizers after
    drift. Shared append contract: _append."""
    _append("ivfpq", embeddings, path, extra, documents=documents)


def ivfpq_probe(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    expect: dict | None = None,
    rerank: int = 0,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Serve an ADC top-k from the IVF-PQ index: rank the stored
    centroids against the query (rank_probe_cells — identical
    tie-breaks to every other IVF consumer), partition-prune-scan the
    nprobe winning `cell=` directories, and score ONLY their packed
    codes via the query's LUT (_pq_lut_array / pq_adc_dist — the
    shared definitions, so scoring cannot drift from pq_index_probe
    or the in-memory form). A residual index builds one LUT per probed
    cell from the query's residual to that cell's centroid. Returns
    (vec_id, pq_code, adist).

    Plan shape at 100 TB: two 1-row broadcasts (LUT; centroid ranking
    is O(n_cells)), one pruned scan of nprobe/n_cells x
    8-byte-per-vector data, one TakeOrdered. The executed-scan test
    pins both prunings (partition count AND no-float-column) from
    real scan metadata.

    `rerank=R` adds the IVFADC+R exact re-rank tier: the top-R ADC
    candidates are re-ordered by exact squared L2 against their raw
    vectors fetched from `rerank_source` by pushed-down id predicate
    (_rerank_exact — R extra vector reads per query, never a second
    corpus scan); output becomes (vec_id, adist, dist) ranked by
    `dist`. Shared contract: _probe."""
    return _probe(
        "ivfpq", spark, path, query, k, nprobe, expect=expect,
        rerank=rerank, rerank_source=rerank_source,
    )


def _index_kind(meta: dict) -> str:
    """Layout inference from the committed metadata's geometry keys —
    each layout records a distinct key set, so this is total and
    unambiguous over the seven shipped layouts."""
    if "phash_bands" in meta:
        return "phash"
    if "bands" in meta:
        return "band"
    if "sq_buckets" in meta:
        return "ivfsq" if "n_cells" in meta else "sq"
    if "pq_m" in meta:
        return "ivfpq" if "n_cells" in meta else "pq"
    if "n_cells" in meta:
        return "ivf"
    raise ValueError(
        f"unrecognized index layout (meta keys {sorted(meta)}) — "
        "compaction knows the band/pHash/IVF/PQ/SQ/IVF-SQ/IVF-PQ layouts"
    )


def _require_kind(meta: dict, kind: str, path: str) -> None:
    """Refuse an operation aimed at the wrong index layout: the
    builders share call signatures, and a mistaken append could PASS
    its geometry gate on a sibling layout — e.g. append_to_ivf_index
    against an IVF-PQ index (whose meta also has
    min_chars/lang/centroids) would commit a raw-embedding cells delta
    whose pq_code reads back NULL, silently filling every probe's
    top-k with null-distance rows."""
    got = _index_kind(meta)
    if got != kind:
        raise ValueError(
            f"index at {path} is a '{got}' layout; this operation "
            f"serves '{kind}' — wrong path or wrong operator"
        )


@_meta_locked
def delete_from_index(
    ids: DataFrame, path: str, extra: dict | None = None
) -> None:
    """Tombstone deletion from any of the seven persisted layouts:
    takedown/opt-out removal of ids without a rebuild. `ids` is a
    one-column relation of ids to remove (any column name; vector
    layouts delete by their recorded `id_col`, the band layout by its
    doc id). The distinct non-NULL ids commit as one tombstone delta
    through the appends' write-then-commit path (_write_delta): a
    nonce-unique `v{N}/tombstones/t{j}.{8-hex}/ids` directory, recorded
    in `_CURRENT` (`tombstones`, `tombstone_dirs`), so a torn or
    zombie write is invisible and never overwrites a committed one.
    Every reader anti-joins the committed tombstone union
    (_drop_tombstoned — a broadcast; takedown lists are small, and a
    tombstone set that has grown large is the signal to compact).
    `compact_index` physically drops tombstoned rows into the new base
    and resets the counter.

    Contract notes: a tombstoned id is suppressed from EVERY
    committed leg, including appends folded AFTER the deletion —
    re-adding a deleted id requires a compaction (or rebuild) first,
    the same caller-owns-id-lifecycle contract as the appends' dedup
    rule. An EMPTY `ids` relation refuses loudly UNLESS `extra` is
    given: interactively, a takedown that deletes nothing is a caller
    bug, not a no-op; but the streaming takedown fold passes its
    (run_id, epoch) replay gate as `extra`, and an empty micro-batch
    must still advance that gate — deltalessly, the appends' rule.
    `extra` entries merge into `_CURRENT` atomically with the
    tombstone counter. Ids absent from the index are tolerated
    (idempotent takedown replays)."""
    import posixpath

    spark = ids.sparkSession
    meta, base = _committed_index(spark, path)
    kind = _index_kind(meta)  # refuse unrecognized layouts first
    idc = str(meta.get("id_col", "vec_id"))
    if len(ids.columns) != 1:
        raise ValueError(
            f"delete_from_index expects a single-column id relation, "
            f"got columns {ids.columns}"
        )
    # type gates: tombstones are stored as one BIGINT column
    # (_read_tombstones' literal schema), so both sides must actually
    # BE integral — a string id relation would cast
    # non-numeric values to NULLs (misreported as "empty id
    # relation"), and a non-long stored id column (id_col is
    # caller-chosen on the band layout) would type-mismatch the
    # readers' anti-join. Refuse each with its own diagnostic.
    # Scale-0 decimals are admitted (JDBC/ClickHouse feeds deliver
    # DECIMAL(n,0) ids, which cast to long losslessly).
    from pyspark.sql import types as T

    in_type = ids.schema[ids.columns[0]].dataType
    if not (
        isinstance(
            in_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        )
        or (isinstance(in_type, T.DecimalType) and in_type.scale == 0)
    ):
        raise TypeError(
            f"delete_from_index over {path}: id relation column "
            f"'{ids.columns[0]}' has type {in_type.simpleString()}; "
            "tombstones are stored as BIGINT, so pass integral ids"
        )
    leg = _LAYOUTS[kind].data[0][0]
    leg_sch = _leg_schema(spark, path, meta, leg, posixpath.join(base, leg))
    if idc not in leg_sch.fieldNames():
        raise ValueError(
            f"delete_from_index over {path}: the '{leg}' leg has no "
            f"'{idc}' column (recorded id_col) — the index is torn or "
            "its metadata was edited"
        )
    leg_type = leg_sch[idc].dataType
    if not isinstance(leg_type, T.LongType):
        raise TypeError(
            f"delete_from_index over {path}: the index stores id "
            f"column '{idc}' as {leg_type.simpleString()}, but "
            "tombstones are BIGINT — deletion supports long-typed ids "
            "only; rebuild the index with long ids to use takedown"
        )
    rel = (
        ids.select(F.col(ids.columns[0]).cast("long").alias(idc))
        .where(F.col(idc).isNotNull())
        .distinct()
    )

    def write(df, meta, base, delta):
        df.write.mode("overwrite").parquet(posixpath.join(delta, "ids"))

    n = _write_delta(spark, path, meta, base, "tombstones", extra, rel, write)
    if n == 0 and not extra:
        raise ValueError(
            f"delete_from_index over {path}: the id relation is "
            "empty (or all-NULL) — a takedown that deletes nothing "
            "is a caller bug, not a no-op"
        )


@_meta_locked
def compact_index(
    spark: SparkSession,
    path: str,
    min_appends: int = 1,
    keep_versions: int | None = None,
) -> bool:
    """Fold the committed append deltas of a persisted index into a
    new base version: every reader unions base + every committed
    append leg, so a year of daily appends is 365 parquet legs in
    every probe plan; compaction rewrites them as ONE leg under
    `v{N+1}/` and re-commits with the append counter reset. Works on
    all seven layouts (band / pHash / filtered-IVF / PQ / SQ / IVF-SQ / IVF-PQ), reading
    ONLY the index itself — the corpus is never scanned (at 100 TB
    that is the point: the index data legs are hash/code/assignment
    relations, orders of magnitude smaller than the text/floats they
    summarize). The band layout's sha set is re-deduped across legs
    (a doc repeated verbatim across batches is stored once after
    compaction — exactly what a fresh build would hold). This is also
    deletion's physical half: committed tombstones
    (delete_from_index) are dropped from every folded data leg and
    the tombstone counter resets — after the fold the deleted rows
    exist nowhere on disk, and the per-probe anti-join disappears
    from the plan.

    What compaction is NOT: a quantizer refresh. Centroids and PQ
    codebooks are COPIED from the current version, never re-derived —
    codes/assignments only make sense against the quantizers that
    produced them, and re-deriving a codebook from codes is lossy by
    construction. After heavy distribution drift the answer stays a
    REBUILD from the corpus (write_* bumps the version and refreshes
    the quantizers); compaction only restores probe-plan shape.

    Gate metadata (the streaming loops' (run_id, epoch) replay gate,
    geometry keys, id_col) is carried over verbatim, so a compaction
    between two stream folds cannot reopen a replayed epoch.

    No-ops (returns False) when fewer than `min_appends` deltas are
    committed — call sites can run it unconditionally at a cadence
    ("compact when appends > N") without paying a rewrite per batch.
    Crash-safe like every build: the new version commits LAST via the
    atomic `_CURRENT` rename; a compaction that dies mid-write leaves
    the old version (base + deltas) fully served."""
    import posixpath

    meta, base = _committed_index(spark, path)
    # tombstones alone also justify a compaction: the physical
    # purge of deleted rows is this fold, even with zero append legs
    if (int(meta.get("appends", 0)) < min_appends
            and int(meta.get("tombstones", 0)) == 0):
        return False
    if keep_versions is None:
        # honor the retention the BUILD chose (recorded in _CURRENT)
        # unless the caller overrides explicitly
        keep_versions = int(meta.get("keep_versions", 2))
    lay = _LAYOUTS[_index_kind(meta)]
    nbase, _vtok = _stage_version(spark, path)
    dirs = _delta_dirs(base, meta)
    idc = str(meta.get("id_col", "vec_id"))
    tombs = _read_tombstones(spark, base, meta, idc)
    for leg, part_col, dedup in lay.data:
        rel = _union_parquet(spark, [posixpath.join(d, leg) for d in dirs])
        if tombs is not None:
            # the physical half of deletion: tombstoned rows do not
            # reach the new base, and the counter resets below
            rel = rel.join(F.broadcast(tombs), idc, "left_anti")
        if dedup:
            rel = rel.distinct()
        rel, count = _observed(rel)
        _write_leg(rel, nbase, leg, part_col)
        if tombs is not None and count() == 0:
            # an all-tombstoned leg is a _SUCCESS-only dir, poisoning
            # every read until a rebuild (the empty build/append rule)
            # — the index has no rows left to serve, so a fold cannot
            # represent it; the staged version is never committed
            raise ValueError(
                f"compaction over {path}: tombstones cover every "
                f"row of the '{leg}' leg — rebuild the index "
                "instead of compacting it away"
            )
    for leg in lay.quantizers:
        _write_leg(spark.read.parquet(posixpath.join(base, leg)), nbase, leg)
    extra = {k: v for k, v in meta.items()
             if k not in ("version", "appends", "tombstones",
                          "delta_dirs", "tombstone_dirs")}
    # claim v{N+1} by rename + verified stamp, fence on the snapshot
    # nonce, THEN commit — a compaction whose holder lost its lock
    # lease mid-rewrite can neither commit over a newer writer's
    # metadata nor publish metadata over a replaced data directory
    # (_stage_version / _commit_staged_version)
    _commit_staged_version(spark, path, nbase, int(meta["version"]) + 1,
                           _vtok, extra=extra,
                           keep_versions=keep_versions, fence_meta=meta)
    return True


def ivfpq_batch_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    qvec_col: str = "qvec",
    qid_col: str = "qid",
    expect: dict | None = None,
    rerank: int = 0,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Serve a Q-query ADC top-k batch from the IVF-PQ index: each
    query's LUT row joins its ranked cells (residual layouts key one
    LUT per (qid, cell)), and ONE partition-pruned scan of the union
    of probed cells serves the whole batch — |union| / n_cells of the
    corpus x 8 bytes per vector, read ONCE for all Q queries. Returns
    (qid, vec_id, pq_code, adist, rank).

    `rerank=R`: the batch IVFADC+R tier, fully relational
    (_batch_rerank_exact). The batch fetch is a broadcast hash join
    against the corpus scan, so at 100 TB pair it with an
    id-clustered corpus and runtime bloom-filter join pruning
    (spark.sql.optimizer.runtime.bloomFilter.enabled). Output
    (qid, vec_id, adist, dist, rank) ranked by `dist`; residual
    layouts compose too (candidates come through the per-(qid, cell)
    residual LUTs, the exact tier scores raw vectors against the raw
    query). Shared contract: _batch_probe."""
    return _batch_probe(
        "ivfpq", spark, path, queries, k, nprobe, qvec_col, qid_col, expect,
        rerank, rerank_source,
    )


def band_index_sha_set(spark: SparkSession, index_path: str) -> DataFrame:
    """The committed band index's distinct sha2-256 relation (`_sha`) —
    the exact-dup gate's old side, served from the index so an
    increment's exact gate never re-hashes (or even reads) old corpus
    text. 64-byte keys; the gate is a LEFT SEMI join on them. Includes
    every committed append delta, EXCLUDES tombstoned docs (the
    stored rows carry the doc id precisely so deletion can address a
    doc's content hash); the cross-delta distinct is cheap (the
    relation is hash-sized) and only needed because a doc may repeat
    verbatim across batches."""
    import posixpath

    meta, dirs = _band_index_parts(spark, index_path)
    rel = _union_parquet(spark, [posixpath.join(d, "shas") for d in dirs])
    idc = str(meta.get("id_col", "doc_id"))
    tombs = _read_tombstones(spark, dirs[0], meta, idc)
    if tombs is not None:
        rel = rel.join(F.broadcast(tombs), idc, "left_anti")
    return rel.select("_sha").distinct()
