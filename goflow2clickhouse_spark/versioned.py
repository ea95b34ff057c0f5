"""Versioned-atomic artifact layout, shared by every persisted index.

Layout contract (the HllRegisterStore pattern, generalized):

    <path>/v{N}/...        one fully self-consistent build per version
    <path>/_CURRENT        tiny JSON {"version": N, ...} committed LAST

A build that dies mid-write leaves ``_CURRENT`` on the previous
complete version, so a reader can never pair one build's artifacts
with another's (a torn index silently corrupts results — e.g. IVF
cell assignments argmax'ed against different centroids).

All metadata I/O goes through the Hadoop FileSystem API resolved from
the path itself (r7 advice): the earlier implementation committed
``_CURRENT`` with driver-local ``os.replace`` while the data parquet
went through Spark's Hadoop FS, so on any non-local path (HDFS/S3) the
data landed remotely but the version commit landed on the driver's
local disk — silently breaking the atomicity contract. Here the commit
is a ``FileContext.rename(..., Rename.OVERWRITE)``, which is atomic on
HDFS and on the local filesystem (object stores without atomic rename
keep the usual caveat: the commit is last-writer-wins but not torn —
the JSON is a single small object PUT).
"""

from __future__ import annotations

import contextlib as _contextlib
import json
import uuid
import posixpath

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path`, resolved from the path's own
    scheme against the session's Hadoop configuration — the SAME
    resolution Spark's parquet writes use, so metadata and data can
    never land on different filesystems."""
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    return fs, hpath


def read_small_bytes(spark: SparkSession, path: str) -> bytes | None:
    """Bulk-read a small file through the path's OWN filesystem (the
    same resolution the parquet writes use); None when missing. One
    readAllBytes call (Java 9+) — a byte-at-a-time Python loop costs
    one py4j gateway round-trip PER BYTE, and this read sits on
    HllRegisterStore's per-micro-batch fold path (r7 review)."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def current_meta(spark: SparkSession, path: str) -> dict:
    """Parsed ``<path>/_CURRENT`` JSON; ``{}`` when no committed
    version exists."""
    data = read_small_bytes(spark, posixpath.join(path, "_CURRENT"))
    if data is None:
        return {}
    return json.loads(data.decode("utf-8"))


class FencingError(RuntimeError):
    """A writer's metadata cycle was overtaken: between its
    `current_meta` snapshot and its recommit, some other writer
    committed (the snapshot's `commit_nonce` no longer matches
    `_CURRENT`). Raised INSTEAD of committing, because a recommit from
    the stale snapshot would revert the other writer's counters — the
    exact lost update `meta_mutex` exists to prevent. Reachable only
    when mutual exclusion was broken from outside: a paused-past-its-
    lease holder whose lock was taken over, or an operator deleting a
    live `_LOCK`."""


@_contextlib.contextmanager
def meta_mutex(
    spark: SparkSession,
    path: str,
    timeout_sec: float | None = None,
    poll_sec: float = 0.05,
    lease_sec: float = 30.0,
):
    """Serialize read-modify-write metadata cycles on one index:
    every append / delete / compaction is a
    current_meta snapshot → artifact write → recommit, and two such
    cycles overlapping in time LOSE one side's update — e.g. a
    takedown stream's recommit carrying a stale snapshot reverts the
    append stream's just-committed `appends` counter, turning the
    committed delta into a "torn" dir every reader ignores, or an
    append recommit erases a committed `tombstones` counter so
    deleted ids silently resurface. The per-stream (run_id, epoch)
    namespacing fixes KEY collisions, not this lost update.

    Mechanism: the owner token is written to a unique `_LOCK.tmp.*`
    file, then `<path>/_LOCK` is acquired via plain
    FileSystem.rename(tmp, lock) — rename refuses an existing
    destination, so a successful rename is atomic create-if-absent
    WITH the ownership token already inside (a create-then-stamp
    pair would let a holder stalled between the steps overwrite a new
    holder's token). Atomicity caveat class matches
    the `_CURRENT` rename: object stores without atomic rename keep
    last-writer-wins semantics. Readers never take the lock:
    `_CURRENT` stays a single atomic rename, so probes are wait-free
    and always see a complete commit.

    Lease + takeover (without it a crashed holder orphans `_LOCK`
    until manual deletion, and deleting a lock by hand risks deleting
    a LIVE one, since writers legitimately hold it for the full
    data-write duration — minutes+ for a compaction): the holder HEARTBEATS the lock file's mtime every
    lease_sec/3 from a daemon thread, and a waiter that finds the
    lock older than `lease_sec` takes it over — atomically, by
    renaming the stale file to a unique tombstone (only one renamer
    can win; the loser's rename fails and it goes back to polling)
    and re-entering the normal create race. Liveness is judged by
    LOCK AGE, never by how long this caller waited, so a long wait
    on a fresh lock is what it looks like: a live writer mid-write —
    raise `timeout_sec` (it is a safety cap, not a liveness signal).
    Caveat: mtime freshness assumes writer clocks agree to within
    ~lease_sec (same class of caveat as the rename atomicity).

    Takeover is what makes `FencingError` matter: a holder paused
    past its lease (GC, swapped-out VM) can lose the lock while
    believing it holds it; its eventual recommit is then refused by
    the commit-nonce fence in `recommit_meta` instead of reverting
    the new holder's updates, and its lock release is
    ownership-checked (the token the acquire rename carried) so it
    cannot delete the new holder's lock. A zombie resumed
    mid-DATA-write cannot overwrite a committed delta or the new
    holder's uncommitted one either: append and tombstone deltas both
    get nonce-unique directory names (plans/storage._alloc_delta) and
    the committed metadata records the exact names, so the zombie's
    write lands in its own never-referenced directory and is orphaned
    until the next version prune. Version directories get the same
    protection from staged writes claimed by a stamped rename
    (plans/storage._stage_version).

    `timeout_sec=None` (the @_meta_locked wrappers' call) reads the
    session conf `spark.goflow2clickhouse.metaLockTimeoutSec`
    (default 600) — a deployment whose compactions legitimately hold
    the lock for longer raises one conf instead of threading a
    parameter through every fold."""
    import threading
    import time

    if timeout_sec is None:
        timeout_sec = float(spark.conf.get(
            "spark.goflow2clickhouse.metaLockTimeoutSec", "600"
        ))
    fs, hpath = _fs(spark, path)
    jvm = spark._jvm  # noqa: SLF001
    fs.mkdirs(hpath)
    lock = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_LOCK"))
    # acquire atomically WITH the ownership token (r12 advice: a
    # createNewFile-then-stamp pair let a holder stalled between the
    # two steps overwrite the NEW holder's token after a takeover,
    # whereupon its release passed the ownership check and deleted the
    # new holder's lock). The token is written to a unique tmp file
    # once, and acquisition is a plain FileSystem.rename(tmp, lock) —
    # rename REFUSES an existing destination, so a successful rename
    # is atomic create-if-absent with the token already inside.
    owner = uuid.uuid4().hex
    tmp = jvm.org.apache.hadoop.fs.Path(
        posixpath.join(path, f"_LOCK.tmp.{owner}")
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(owner.encode("ascii")))
    finally:
        out.close()
    deadline = time.monotonic() + timeout_sec
    last_exc: Exception | None = None
    while True:
        try:
            if fs.rename(tmp, lock):
                break
            # lock exists: a stale one (holder stopped heartbeating
            # for > lease_sec) is taken over via atomic rename — only
            # one waiter can win the rename, and the winner still
            # re-enters the acquire-rename race like everyone else
            try:
                age_ms = (
                    int(time.time() * 1000)
                    - int(fs.getFileStatus(lock).getModificationTime())
                )
                if age_ms > lease_sec * 1000:
                    corpse = jvm.org.apache.hadoop.fs.Path(
                        posixpath.join(
                            path, f"_LOCK.stale.{uuid.uuid4().hex}"
                        )
                    )
                    if fs.rename(lock, corpse):
                        fs.delete(corpse, False)
                        continue
            except Exception:
                # the lock vanished between exists and stat (released
                # or stolen) or another waiter won the rename — poll
                pass
        except Exception as exc:
            # the acquire rename failed abnormally (not the boolean
            # destination-exists result). A lost create race looks
            # like this on some filesystems — but so does a broken FS
            # (auth, wrong scheme, permissions), which must surface
            # instead of spinning into a misleading timeout (r11
            # advice). Probe the FS once: if even exists() fails, the
            # filesystem is down — re-raise the original error now.
            last_exc = exc
            try:
                fs.exists(lock)
            except Exception:
                # clean the pre-stamped tmp before surfacing the FS
                # failure (r13 review: only the timeout path cleaned
                # it, so abnormal exits accumulated _LOCK.tmp.* files
                # next to _CURRENT with no pruning path)
                with _contextlib.suppress(Exception):
                    fs.delete(tmp, False)
                raise exc
        if time.monotonic() > deadline:
            with _contextlib.suppress(Exception):
                fs.delete(tmp, False)
            raise TimeoutError(
                f"could not acquire {path}/_LOCK within {timeout_sec}s. "
                "The lock is heartbeated while held and a stale one is "
                "taken over automatically, so this lock is FRESH: a "
                "live writer is mid-write (compactions hold it for the "
                "full rewrite) — raise timeout_sec rather than deleting "
                "the file"
                + (f"; last acquire error: {last_exc!r}" if last_exc
                   else "")
            )
        time.sleep(poll_sec)
    stop = threading.Event()

    def _heartbeat():
        while not stop.wait(lease_sec / 3.0):
            try:
                now = int(time.time() * 1000)
                fs.setTimes(lock, now, -1)
            except Exception:  # noqa: BLE001
                # a failed touch only ages the lock toward takeover —
                # the fence in recommit_meta backstops correctness
                pass

    hb = threading.Thread(
        target=_heartbeat, name=f"meta-mutex-hb:{path}", daemon=True
    )
    hb.start()
    try:
        yield
    finally:
        stop.set()
        hb.join(timeout=5.0)
        # delete only if still OURS and not yet steal-eligible: a
        # holder overtaken past its lease must leave the new holder's
        # lock alone, and the ownership read itself opens a
        # read-then-delete window — so also require the lock's age to
        # be inside the lease (r12 advice). A lock that is ours AND
        # inside the lease cannot be renamed away by a waiter before
        # the delete lands (steals require age > lease; the window
        # here is milliseconds); one that is ours but already PAST
        # the lease was steal-eligible the whole time — leave it for
        # takeover (a waiter reclaims it in <= lease). The threshold
        # is the FULL lease, not a fraction (r13 review): on a
        # filesystem whose setTimes no-ops, age grows from acquire,
        # and a fractional threshold would orphan the lock after
        # every hold longer than that fraction.
        try:
            data = read_small_bytes(
                spark, posixpath.join(path, "_LOCK")
            )
            age_ms = (
                int(time.time() * 1000)
                - int(fs.getFileStatus(lock).getModificationTime())
            )
            if (
                data is not None
                and data.decode("ascii", "replace") == owner
                and age_ms < lease_sec * 1000
            ):
                fs.delete(lock, False)
        except Exception:  # noqa: BLE001
            # an unreadable lock at release is either already stolen
            # or already gone — never delete blind
            pass


def commit_token(spark: SparkSession, path: str, meta: dict) -> str:
    """Identity of the CURRENT commit — distinguishes two commits that
    REUSE a version number (a wipe-and-rebuild restarts at v1 with
    byte-identical-looking metadata, so version alone cannot
    invalidate process caches keyed on it; r10 review: the probe
    artifact cache served the old build's codebook against the new
    build's codes, silently). Prefers the `commit_nonce` recorded in
    `_CURRENT` since r10 (already in the caller's hand — zero extra
    filesystem calls, never aliases two builds); falls back to
    `_CURRENT`'s mtime for pre-nonce indexes, where only a
    FileNotFound-style miss maps to "no commit" — any other stat
    failure PROPAGATES rather than aliasing to a constant (r10 review:
    a blanket `return 0` on transient IO errors could cache-hit across
    a rebuild)."""
    nonce = meta.get("commit_nonce")
    if nonce:
        return str(nonce)
    fs, hpath = _fs(spark, posixpath.join(path, "_CURRENT"))
    if not fs.exists(hpath):
        return "0"
    return str(int(fs.getFileStatus(hpath).getModificationTime()))


def current_version(spark: SparkSession, path: str) -> int:
    """Committed version number; 0 when none."""
    meta = current_meta(spark, path)
    return int(meta.get("version", 0))


def version_dir(path: str, version: int) -> str:
    return posixpath.join(path, f"v{version}")


def commit_version(
    spark: SparkSession,
    path: str,
    version: int,
    extra: dict | None = None,
    keep_versions: int = 2,
) -> None:
    """Atomically point ``_CURRENT`` at ``v{version}`` (write tmp, then
    an OVERWRITE rename), then prune versions older than
    ``keep_versions``. Call ONLY after every artifact under the version
    directory is fully written. ``keep_versions`` must be >= 1: with 0
    the prune range would include the version just committed, leaving
    ``_CURRENT`` pointing at a deleted directory (r8 review — the
    hazard HllRegisterStore floors its own parameter against)."""
    if keep_versions < 1:
        raise ValueError(
            f"keep_versions must be >= 1, got {keep_versions} — 0 would "
            "prune the version this very commit points at"
        )
    fs, _ = _fs(spark, path)
    jvm = spark._jvm  # noqa: SLF001
    payload = dict(extra or {})
    payload["version"] = version
    # the retention choice is part of the committed state (r9 review):
    # appends/compactions re-commit through recommit_meta, which reads
    # it back — without this, the first append after a
    # keep_versions=5 build silently re-pruned with the default 2
    payload["keep_versions"] = keep_versions
    # commit identity (r10 review): a wipe-and-rebuild restarts at v1
    # with possibly byte-identical metadata, and the mtime fallback has
    # only second granularity on S3A/NFS — a fresh nonce per commit
    # gives process caches an invalidation key that can never alias
    # two builds, with zero filesystem stats to read it back
    payload["commit_nonce"] = uuid.uuid4().hex
    data = json.dumps(payload, sort_keys=True).encode("utf-8")

    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path))
    tmp = jvm.org.apache.hadoop.fs.Path(
        posixpath.join(path, f"_CURRENT.tmp.v{version}")
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()

    cur = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_CURRENT"))
    # FileContext.rename(OVERWRITE): atomic replace on HDFS/local — a
    # plain FileSystem.rename refuses an existing destination, and
    # delete-then-rename would open a window with NO committed version
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    opts = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    fc.rename(tmp, cur, opts)

    # prune only the versions at the retention edge (+2 slack, not a
    # rescan from v1 — a long-running stream folding per micro-batch
    # would otherwise pay O(total versions) existence checks per fold).
    # The +2 covers TWO consecutive commit-then-crash-before-prune
    # cycles: with +1 slack a directory that survived two such crashes
    # fell behind the checked window and leaked forever (r7 review,
    # preserving the r6 HllRegisterStore slack when it migrated here).
    for stale in range(max(1, version - keep_versions - 2),
                       version + 1 - keep_versions):
        old = jvm.org.apache.hadoop.fs.Path(version_dir(path, stale))
        if fs.exists(old):
            fs.delete(old, True)


def check_meta(meta: dict, expect: dict, path: str) -> None:
    """Refuse a committed artifact whose recorded build parameters
    differ from what the caller assumes — a silent mismatch (different
    cell geometry, different eligibility gate, different shingle width)
    degrades results with no error, the failure mode every persisted
    index here guards against."""
    got = {k: meta.get(k) for k in expect}
    if got != expect:
        raise ValueError(
            f"index at {path} was built with {got}, caller expects "
            f"{expect} — rebuild the index or match parameters"
        )


def recommit_meta(
    spark: SparkSession,
    path: str,
    meta: dict,
    extra: dict | None = None,
    appends: int | None = None,
) -> None:
    """Re-commit the CURRENT version's metadata with updates — THE
    append/fold re-commit rule, extracted (r9 review) from six
    restated sites across the four index append paths: strip the
    version key, merge `extra`, optionally set the append counter,
    and commit at the SAME version honoring the retention the build
    recorded (`keep_versions` rides the payload since r9 — before
    that, the first append after a keep_versions=5 build silently
    re-pruned old versions with the default 2).

    Fencing (r12): before committing, the snapshot's `commit_nonce`
    is checked against the LIVE `_CURRENT` — a mismatch means some
    other writer committed after this cycle's snapshot (mutual
    exclusion was broken: a paused holder lost its lease and its lock
    was taken over, or an operator removed a live `_LOCK`), and
    committing the stale snapshot would revert that writer's
    counters. Raise FencingError instead; the caller's work is lost,
    the other writer's committed metadata and data are not (see
    meta_mutex on zombie data writes).
    One extra small-JSON read per metadata cycle. Pre-nonce snapshots
    (no `commit_nonce` recorded) skip the fence — nothing to
    compare."""
    fence_snapshot(spark, path, meta)
    merged = {k: v for k, v in meta.items() if k != "version"}
    merged.update(extra or {})
    if appends is not None:
        merged["appends"] = appends
    commit_version(
        spark, path, int(meta["version"]), extra=merged,
        keep_versions=int(meta.get("keep_versions", 2)),
    )


def fence_snapshot(spark: SparkSession, path: str, meta: dict) -> None:
    """Refuse to commit from a stale snapshot (r12): `meta` is the
    `current_meta` a metadata cycle started from; if `_CURRENT`'s
    live `commit_nonce` no longer matches, another writer committed
    in between — mutual exclusion was broken (a holder paused past
    its `meta_mutex` lease lost the lock, or an operator deleted a
    live `_LOCK`) — and committing would revert that writer's
    counters. Used by recommit_meta (appends/deletes/stream folds)
    and compact_index (new-version commits). Pre-nonce snapshots
    carry no nonce and skip the check. The check is check-then-act
    (no portable conditional rename exists): two writers that BOTH
    hold stale-but-equal snapshots inside a broken-exclusion window
    can both pass and the second commit wins — the fence narrows the
    lost-update window from the whole write to one small read plus a
    rename; mutual exclusion itself is the lock's job."""
    snap_nonce = meta.get("commit_nonce")
    if not snap_nonce:
        return
    live = current_meta(spark, path).get("commit_nonce")
    if live != snap_nonce:
        raise FencingError(
            f"refusing to commit over {path}: another writer "
            f"committed after this cycle's snapshot (snapshot nonce "
            f"{snap_nonce}, live {live}) — the lock lease was lost "
            "mid-cycle; retry the operation from a fresh snapshot"
        )


def epoch_replayed(
    meta: dict, epoch_id: int, run_id: str | None, ns: str = ""
) -> bool:
    """THE (run_id, epoch) replay gate every streaming index-fold
    shares (extracted r9 from the crawl loop's fold so the embedding-
    maintenance twin cannot restate-and-drift it): the gate lives in
    the index's ``_CURRENT`` — committed atomically with the fold it
    guards — so on at-least-once micro-batch delivery a replayed epoch
    after restart is detected here and skipped (returns True). A
    replayed epoch with NO run_id raises instead of guessing: the
    epoch counter alone cannot distinguish a restart replay (skip)
    from a brand-new stream over a reused index (fold) — the caller
    must pass the checkpoint lineage's run_id.

    `ns` (r11) namespaces the gate's metadata keys: an APPEND stream
    and a TAKEDOWN stream can maintain the SAME index concurrently
    (the crawl loop plus a deletion feed), and with one shared
    epoch/run_id pair the two checkpoints' epoch counters would
    overwrite each other — whichever stream committed last would make
    the other skip or raise. The takedown fold passes ns='del_', so
    each loop carries its own (run_id, epoch) pair in ``_CURRENT``."""
    last_epoch = int(meta.get(ns + "epoch", -1))
    last_run = meta.get(ns + "run_id")
    if run_id is not None and run_id == last_run:
        return epoch_id <= last_epoch
    if run_id is None and epoch_id <= last_epoch:
        raise ValueError(
            f"non-monotonic epoch {epoch_id} <= last folded {last_epoch} "
            "with no run_id: pass the checkpoint lineage's run_id to "
            "distinguish a restart replay (skipped) from a new stream "
            "over a reused index"
        )
    return False


def gc_scratch(
    spark: SparkSession, path: str, older_than_sec: float = 86400.0
) -> list[str]:
    """Delete ORPHANED scratch artifacts from an index root — the
    explicit operator action the crash-leak classes point at (r13):
    `_LOCK.tmp.*` token files from writers killed mid-acquire,
    `_LOCK.stale.*` tombstones from interrupted takeovers, and
    `_v.tmp.*` staging directories from builders/compactions killed
    mid-write. None of these is ever referenced by committed metadata
    (staging dirs publish by RENAMING to `v{N}`; lock tmp files
    publish by renaming to `_LOCK`), so deletion can never touch a
    served artifact — the only hazard is a LIVE writer still filling
    its staging dir, which the age gate covers: an entry is deleted
    only when its newest mtime (the directory tree's maximum — a
    parquet write updates leaf files continuously) is older than
    `older_than_sec`. The default (24 h) is far beyond any build; it
    is a floor to pass deliberately, not tune down casually. Returns
    the deleted paths. NOT called automatically from any write path —
    automatic deletion coupled to a writer would re-open the
    delete-a-live-sibling race this module just closed; run it from a
    maintenance job, like VACUUM."""
    import posixpath
    import time

    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []

    def newest_mtime(status) -> int:
        m = int(status.getModificationTime())
        if status.isDirectory():
            for child in fs.listStatus(status.getPath()):
                m = max(m, newest_mtime(child))
        return m

    cutoff_ms = int((time.time() - older_than_sec) * 1000)
    deleted: list[str] = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v") and st.isDirectory():
            # a LOSING rename race can deposit a whole staging tree
            # one level INSIDE the won version directory (local-FS
            # rename-onto-existing-dir nests instead of refusing —
            # r13 advice); those orphans are never referenced either,
            # so sweep `v*/_v.tmp.*` under the same age gate
            for child in fs.listStatus(st.getPath()):
                cname = child.getPath().getName()
                if cname.startswith("_v.tmp.") and (
                    newest_mtime(child) < cutoff_ms
                ):
                    fs.delete(child.getPath(), True)
                    deleted.append(posixpath.join(path, name, cname))
            continue
        if not (
            name.startswith("_LOCK.tmp.")
            or name.startswith("_LOCK.stale.")
            or name.startswith("_v.tmp.")
        ):
            continue
        if newest_mtime(st) < cutoff_ms:
            fs.delete(st.getPath(), True)
            deleted.append(posixpath.join(path, name))
    return deleted
