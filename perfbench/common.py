"""Shared pieces of the benchmark: run directories, the Spark session, the
span tracer, percentile rules, due-time latency accounting and the
event-log fold."""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# Task slots of the engine, fixed rather than taken from the core count:
# the 4-core reference box keeps one core for the UDP generator and one for
# the driver JVM and the Python data-source and UDF workers.
SLOTS = 2
# the ladder `tail_ms` picks from: the highest percentile a run's sample
# count supports
TAIL_LADDER = (0.90, 0.50)


def run_dir(workload: str, seed: int) -> str:
    """A fresh per-run directory inside the checkout; everything the run
    writes (inputs, Spark scratch, sinks, indexes) lands under it."""
    path = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def prepare_env(rdir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    the run directory, and let Python workers import the engine."""
    tmp = os.path.join(rdir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(rdir: str, trace: bool):
    """The engine's own session factory, pinned to SLOTS task slots.
    Traced runs also write an uncompressed event log into the run dir."""
    from goflow2clickhouse_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(rdir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(rdir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(rdir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{SLOTS}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop the active Spark session, if any, then shut the driver JVM down
    and wait for it (and the Python workers it started) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


class Tracer:
    """Spans kept in memory and written out when the run ends. A span is
    (id, name, start, end, parent id, operation id); a disabled tracer
    records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None or parent is None else parent["op"]}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, op: str | None = None) -> None:
        """Record a span measured elsewhere (e.g. inside a sink callback)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"id": len(self.spans), "name": name, "start": start,
                                   "end": end, "parent": None, "op": op})

    def self_times(self) -> list[dict]:
        """Each span with `self` = its duration minus the union of the
        intervals its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(dict(s, dur=s["end"] - s["start"],
                            self=s["end"] - s["start"] - covered))
        return out

    def dump(self, path: str) -> None:
        spans = self.self_times()
        by_name: dict[str, dict] = {}
        for s in spans:
            agg = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["dur"]
            agg["self_s"] += s["self"]
        with open(path, "w") as fh:
            json.dump({"by_name": by_name, "spans": spans}, fh)


def percentile(values: list[float], q: float) -> float:
    """The q-quantile by the Harrell-Davis estimator: a weighted mean of all
    order statistics, weights from the Beta((n+1)q, (n+1)(1-q)) density
    over each sample's rank interval. A closed-loop run holds 13-17
    operations of unequal cost, and the plain sample median jumped by 25%
    whenever the two operations around rank n/2 swapped places; this
    estimate moves smoothly. For thousands of samples it equals the sample
    quantile."""
    import numpy as np

    s = np.sort(np.asarray(values, dtype=float))
    n = len(s)
    if n == 1:
        return float(s[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    steps = 64  # grid points per rank interval
    x = (np.arange(n * steps) + 0.5) / (n * steps)
    logpdf = ((a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
              + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
    mass = np.exp(logpdf).reshape(n, steps).sum(axis=1)
    return float(np.dot(mass / mass.sum(), s))


def supported(n: int, q: float, beyond: int = 10) -> bool:
    """True when `n` samples leave at least `beyond` samples above the
    q-th percentile."""
    return n - math.ceil(q * n) >= beyond


def tail(values: list[float]) -> tuple[float, float]:
    """(q, value) for the highest percentile of TAIL_LADDER the sample
    count supports; the median when none is."""
    for q in TAIL_LADDER:
        if supported(len(values), q):
            return q, percentile(values, q)
    return 0.5, percentile(values, 0.5)


def due_latencies(due: list[float], batch_of: list[int | None],
                  batch_end: dict[int, float]) -> list[float | None]:
    """Latency of each datagram from the time it was DUE to be sent until
    the sink call holding its rows returned. Timing from the due time, not
    the send time, charges a generator or engine stall to every datagram
    scheduled during it. None marks a datagram that never arrived."""
    return [None if b is None else batch_end[b] - d for d, b in zip(due, batch_of)]


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_ticks()` readings, in percent. Every end-to-end figure slows with
    it, so a run taken while it was high can be told apart."""
    return 100.0 * (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


def event_log_events(log_root: str):
    """Every event of the run's event log. Spark 4 may write a rolling
    directory `eventlog_v2_<app>/events_<n>_<app>`; a plain single file is
    read as well."""
    paths: list[str] = []
    for entry in sorted(glob.glob(os.path.join(log_root, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            paths += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            paths.append(entry)
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold_event_log(log_root: str) -> dict:
    """Per job group, and per streaming batch: jobs, stages that ran,
    tasks, summed executor run time, shuffle bytes written and bytes
    spilled."""
    job_key: dict[int, tuple[str, str]] = {}
    stage_key: dict[int, tuple[str, str]] = {}
    acc: dict[tuple[str, str], dict] = {}

    def bucket(key):
        return acc.setdefault(key, {"jobs": 0, "stages": set(), "tasks": 0,
                                    "task_ms": 0, "shuffle_write_bytes": 0,
                                    "spill_bytes": 0})

    for ev in event_log_events(log_root):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if "streaming.sql.batchId" in props:
                key = ("batch", props["streaming.sql.batchId"])
            else:
                key = ("group", props.get("spark.jobGroup.id") or "")
            job_key[ev["Job ID"]] = key
            bucket(key)["jobs"] += 1
            for st in ev.get("Stage Infos", []):
                stage_key[st["Stage ID"]] = key
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            b = bucket(key)
            b["stages"].add(ev["Stage ID"])
            b["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            b["task_ms"] += m.get("Executor Run Time", 0)
            b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    for b in acc.values():
        b["stages"] = len(b["stages"])
    return acc


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under `path`."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return files, size


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children's) spent so far by
    this process and every process descended from it: the Spark driver
    JVM, its Python workers and the UDP generator."""
    tck = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    mine, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        mine.add(p)
        frontier += [c for c, (pp, _) in stats.items() if pp == p and c not in mine]
    return sum(stats[p][1] for p in mine if p in stats) / tck
