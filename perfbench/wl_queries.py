"""The closed-loop query workloads: `flow_queries` and `dataprep`.

One client runs operations back to back, each pass in a seeded order, and
times each from the call that builds the DataFrame until its rows are
collected. Setup is the session plus one warm pass, through the same code
as the measured passes (first executions pay JIT, code generation and
Python worker start-up). The measured window is a fixed number of whole
passes, one for every PASS_SECONDS of `--seconds`, so a run times the same
work whatever the host's speed.

`flow_queries` is the analyst's side, the half the reference leaves to
ClickHouse: flow and TPC-H queries from the registry. Execution dominates
and nothing is written, so it is the control for changes to query
construction or index storage.

`dataprep` runs LLM-data queries whose build phase runs many eager jobs,
plus one index lifecycle through `plans.storage` on a fresh directory each
pass, so index writes sit beside reads.

Correctness is checked after the measured window: each query's canonical
row hash (the `oracle` module's canonicalization) must equal its DuckDB
oracle's, and after delete and compaction the index must return no deleted
id and exactly the hits that survive from the probe before the delete.
"""

from __future__ import annotations

import gc
import hashlib
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

import common
import datagen

# flows_port_fanout, flows_site_traffic, q5_local_supplier_volume and
# q18_large_volume_customers are left out to fit the run budget, see
# README.md
FLOW_QUERIES = (
    "flows_top_talkers", "flows_protocol_breakdown", "flows_bitrate_timeseries",
    "flows_conversation_matrix", "flows_conversation_sessions",
    "flows_duration_histogram", "flows_sampler_utilization",
    "ch_dialect_top_talkers", "ch_dialect_port_profile", "ipv6_address_classes",
    "events_minutely", "q1_pricing_summary", "q3_shipping_priority",
)
# The build-heavy LLM-data queries that fit the run budget beside the
# index lifecycle; the rest of the family is left out, see README.md.
DATAPREP_QUERIES = ("dedup_cluster_sizes", "embedding_knn_graph")
# seconds of `--seconds` per measured pass; a pass's wall time is not
# used, so a slow host measures the same work as a fast one. The
# benchmark's 5 s measure one `dataprep` pass (12-15 s). The JIT compiler
# is still busy in it (~30 CPU s for the JVM, against ~21 in a second
# pass), but the JVM's CPU spread across runs as much in either pass
# (interquartile range ~0.1 of the median), so a second pass would only
# lengthen the run.
PASS_SECONDS = 5
# fixture scale: 60,000 lineitem rows; documents and embeddings stay at 500
SCALE = 0.01
N_PROBE_QUERIES = 4
# lifecycle operation -> the storage verb it is accounted under
VERBS = {
    "ivf.write": "write", "ivf.append": "append", "ivf.probe": "probe",
    "ivf.delete": "delete", "ivf.compact": "compact", "ivf.probe_compacted": "probe",
}


def _canon_hash(columns: list[str], rows: list[tuple]) -> str:
    from goflow2clickhouse_spark.oracle import _canon_rows

    cols, canon = _canon_rows(columns, rows)
    return hashlib.sha256(("|".join(cols) + "\n" + "\n".join(canon)).encode()).hexdigest()


class _Client:
    """Runs and times operations; in a traced run, tags each phase with a
    Spark job group and records Catalyst phase times."""

    def __init__(self, spark, tracer: common.Tracer, trace: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.trace = trace
        self.records: list[dict] = []

    def _group(self, op_id: str, phase: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"{op_id}:{phase}", phase)

    def run(self, name: str, op_id: str, build, layer: str, measured: bool):
        """build() -> DataFrame or None; returns the collected rows. An
        operation that raises is recorded as failed and returns no rows."""
        cpu0 = common.tree_cpu_s()
        t0 = time.perf_counter()
        df, rows, plan_ms, error = None, [], 0.0, False
        t1 = t2 = t0
        try:
            with self.tracer.span(f"op.{name}", op=op_id):
                self._group(op_id, "build")
                with self.tracer.span(layer):
                    df = build()
                t1 = time.perf_counter()
                self._group(op_id, "collect")
                with self.tracer.span("exec.collect"):
                    rows = [tuple(r) for r in df.collect()] if df is not None else []
            t2 = time.perf_counter()
            if self.trace and df is not None:
                phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
                for k in ("analysis", "optimization", "planning"):
                    if phases.contains(k):
                        plan_ms += phases.apply(k).durationMs()
        except Exception:  # noqa: BLE001 — one failed operation must not end the run
            traceback.print_exc()
            error = True
            t2 = time.perf_counter()
        cpu_s = common.tree_cpu_s() - cpu0
        if self.trace:
            self.spark.sparkContext.setJobGroup("", "")
        self.records.append({"name": name, "op": op_id, "measured": measured,
                             "build_s": t1 - t0, "collect_s": t2 - t1,
                             "latency_s": t2 - t0, "cpu_s": cpu_s, "plan_ms": plan_ms,
                             "error": error,
                             "columns": list(df.columns) if df is not None else [],
                             "rows": rows, "layer": layer})
        return rows


class _Lifecycle:
    """The index lifecycle of one pass, on a fresh directory: a filtered
    IVF index written, appended to, batch-probed, deleted from, compacted
    and probed again. The probe queries are eligible vectors, so each is
    its own nearest neighbour; the delete removes exactly those."""

    def __init__(self, spark, sf_dir: str, probe_ids: list[int]) -> None:
        from goflow2clickhouse_spark.schema import load_table
        from pyspark.sql import functions as F

        self.spark, self.F = spark, F
        self.probe_ids = probe_ids
        self.docs = load_table(spark, sf_dir, "documents")
        self.emb = load_table(spark, sf_dir, "embeddings")
        self.queries = self.emb.filter(F.col("vec_id").isin(probe_ids)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))

    def chains(self, pass_dir: str) -> dict[str, list]:
        """chain name -> [(operation, callable)]; a chain runs in order."""
        from goflow2clickhouse_spark.plans import storage as S

        F, spark = self.F, self.spark
        ivf = os.path.join(pass_dir, "ivf")
        deleted = spark.createDataFrame([(i,) for i in self.probe_ids], "vec_id long")

        def ivf_compact():
            if S.compact_index(spark, ivf) is not True:
                raise RuntimeError("compact_index folded nothing")

        return {
            "ivf": [
                ("ivf.write", lambda: S.write_filtered_ivf_index(
                    self.docs, self.emb.filter(F.col("vec_id") % 2 == 0), ivf, n_cells=8)),
                ("ivf.append", lambda: S.append_to_ivf_index(
                    self.docs, self.emb.filter(F.col("vec_id") % 2 == 1), ivf)),
                # k covers the deleted ids, so the top-5 after the delete is
                # known from this probe
                ("ivf.probe", lambda: S.ivf_batch_probe(
                    spark, ivf, self.queries, k=5 + N_PROBE_QUERIES, nprobe=2)),
                ("ivf.delete", lambda: S.delete_from_index(deleted, ivf)),
                ("ivf.compact", ivf_compact),
                ("ivf.probe_compacted", lambda: S.ivf_batch_probe(
                    spark, ivf, self.queries, k=5, nprobe=2)),
            ],
        }


def _check_lifecycle(by_op: dict[str, list[tuple]], probe_ids: list[int]) -> list[str]:
    """The lifecycle invariants of one pass; returns the operations that
    broke one. Probe rows are (qid, vec_id, cos_sim, rank)."""
    bad = []
    gone = set(probe_ids)
    before = sorted(by_op["ivf.probe"], key=lambda r: (r[0], r[3]))
    # each query vector is indexed, so it is its own first hit
    if sorted(r[0] for r in before if r[3] == 1 and r[1] == r[0]) != sorted(gone):
        bad.append("ivf.probe")
    # after delete + compact: no deleted id, and per query exactly the
    # first five surviving hits of the probe before the delete
    want = {}
    for q, v, _, _ in before:
        if v not in gone and len(want.setdefault(q, [])) < 5:
            want[q].append(v)
    after = sorted(by_op["ivf.probe_compacted"], key=lambda r: (r[0], r[3]))
    got: dict[int, list[int]] = {}
    for q, v, _, _ in after:
        got.setdefault(q, []).append(v)
    if any(r[1] in gone for r in after) or got != want:
        bad.append("ivf.probe_compacted")
    return bad


def run(workload: str, seed: int, seconds: float, trace: bool,
        tracer: common.Tracer, rdir: str) -> dict:
    sf_dir = os.path.join(rdir, "data")
    docs = datagen.write(sf_dir, seed, SCALE)["documents"].to_pydict()
    rng = random.Random(seed)
    names = FLOW_QUERIES if workload == "flow_queries" else DATAPREP_QUERIES
    lifecycle_on = workload == "dataprep"
    # probe with vectors the filtered IVF index holds (the eligibility gate
    # of plans.storage.eligible_embeddings: English, >= 200 characters)
    eligible = [d for d, lang, n in zip(docs["doc_id"], docs["lang"], docs["n_chars"])
                if lang == "en" and n >= 200]
    probe_ids = sorted(rng.sample(eligible, N_PROBE_QUERIES))

    t_setup = time.monotonic()
    with tracer.span("session", op="setup"):
        spark = common.start_session(rdir, trace)
    session_s = time.monotonic() - t_setup
    from goflow2clickhouse_spark.plans import registry

    specs = registry()
    client = _Client(spark, tracer, trace)
    life = _Lifecycle(spark, sf_dir, probe_ids) if lifecycle_on else None
    life_runs: list[dict[str, list[tuple]]] = []
    index_bytes: list[int] = []

    def one_pass(p: int, measured: bool) -> None:
        chains: dict[str, list] = {}
        state: dict[str, list[tuple]] = {}
        pass_dir = os.path.join(rdir, "index", f"pass{p}")
        if life is not None:
            chains = life.chains(pass_dir)

        def run_units(units: list[str]) -> None:
            for u in units:
                if u in chains:
                    for op, fn in chains[u]:  # a chain runs in order
                        def build(fn=fn):
                            out = fn()
                            return out if hasattr(out, "collect") else None
                        state[op] = client.run(op, f"p{p}.{op}", build,
                                               "plans.storage", measured)
                else:
                    client.run(u, f"p{p}.{u}", lambda u=u: specs[u].spark(spark, sf_dir),
                               "plans", measured)

        units = list(names) + list(chains)
        rng.shuffle(units)
        if measured or not chains:
            run_units(units)
        else:
            # The warm pass runs the queries beside the lifecycle chain, as
            # two clients: the same operations through the same code as a
            # measured pass, one lane's cold start overlapping the other's
            # (22 s against 31 s in a row). The queries run twice, which
            # still ends with the chain.
            lane = threading.Thread(target=run_units, args=([u for u in units if u in chains],))
            lane.start()
            run_units(2 * [u for u in units if u not in chains])
            lane.join()
        if life is not None:
            life_runs.append(dict(state))
            if measured:
                index_bytes.append(common.dir_bytes(pass_dir)[1])
            shutil.rmtree(pass_dir, ignore_errors=True)
        gc.collect()
        spark.catalog.clearCache()

    with tracer.span("warmup", op="setup"):
        one_pass(0, measured=False)
    setup_s = time.monotonic() - t_setup

    passes = max(1, round(seconds / PASS_SECONDS))
    ticks0 = common.cpu_ticks()
    for p in range(1, passes + 1):
        one_pass(p, measured=True)
    steal = common.steal_pct(ticks0, common.cpu_ticks())
    measured_s = sum(r["latency_s"] for r in client.records if r["measured"])

    # --- outside the measured window: correctness ---
    from goflow2clickhouse_spark.oracle import duck_connect

    con = duck_connect(sf_dir)
    want = {}
    for n in names:
        cur = con.execute(specs[n].oracle)
        want[n] = _canon_hash([d[0] for d in cur.description], cur.fetchall())
    failed_ops = {r["op"] for r in client.records if r["error"]}
    for r in client.records:
        if r["name"] in want and _canon_hash(r["columns"], r["rows"]) != want[r["name"]]:
            failed_ops.add(r["op"])
    for i, by_op in enumerate(life_runs):
        failed_ops.update(f"p{i}.{op}" for op in _check_lifecycle(by_op, probe_ids))
    measured = [r for r in client.records if r["measured"]]
    failed = sum(r["op"] in failed_ops for r in measured)
    if failed_ops:
        print(f"{workload}: failed operations: {sorted(failed_ops)}", file=sys.stderr)

    lat_ms = [1000 * r["latency_s"] for r in measured]
    q, tail = common.tail(lat_ms)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (1000 * sum(r["cpu_s"] for r in measured) / len(measured), "ms"),
    }
    wall = {
        "p50_ms": (common.percentile(lat_ms, 0.5), "ms"),
        "tail_ms": (tail, "ms"),
        "throughput": (len(measured) / measured_s, "1/s"),
    }
    print(f"{workload}: {len(measured)} operations in {passes} passes, tail is "
          f"p{int(q * 100)}; slots {common.SLOTS}; host steal {steal:.1f}%",
          file=sys.stderr)

    layers = {}
    n_ops = len(measured)
    if trace:
        query_ops = [r for r in measured if r["layer"] == "plans"]
        layers.update({
            "session.start_s": (session_s, "s"),
            "warmup_s": (setup_s - session_s, "s"),
            "plans.build_ms": (1000 * sum(r["build_s"] for r in query_ops)
                               / max(len(query_ops), 1), "ms"),
            "catalyst.plan_ms": (sum(r["plan_ms"] for r in measured) / n_ops, "ms"),
            "exec.collect_ms": (1000 * sum(r["collect_s"] for r in measured) / n_ops, "ms"),
            "host.steal_pct": (steal, "%"),
        })
        for verb in sorted(set(VERBS.values())):
            ops = [r for r in measured if VERBS.get(r["name"]) == verb]
            layers[f"storage.{verb}_ms"] = (
                1000 * sum(r["latency_s"] for r in ops) / passes, "ms")

    def from_log(fold: dict) -> dict:
        def total(op_ids, phase, field):
            return sum(fold.get(("group", f"{o}:{phase}"), {}).get(field, 0) for o in op_ids)

        query_ids = [r["op"] for r in measured if r["layer"] == "plans"]
        all_ids = [r["op"] for r in measured]
        out = {
            "plans.build_jobs": (total(query_ids, "build", "jobs") / max(len(query_ids), 1),
                                 "count"),
            "exec.jobs": (total(all_ids, "collect", "jobs") / n_ops, "count"),
        }
        for field, unit in (("stages", "count"), ("tasks", "count"), ("task_ms", "ms"),
                            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
            out[f"exec.{field}"] = (total(all_ids, "collect", field) / n_ops, unit)
        for verb in sorted(set(VERBS.values())):
            ids = [r["op"] for r in measured if VERBS.get(r["name"]) == verb]
            jobs = total(ids, "build", "jobs") + total(ids, "collect", "jobs")
            out[f"storage.{verb}_jobs"] = (jobs / passes, "count")
        return out

    if lifecycle_on and trace:
        layers["storage.bytes_written"] = (statistics.median(index_bytes), "bytes")
    return {"attempted": len(measured), "failed": failed, "e2e": e2e, "wall": wall,
            "steal_pct": steal,
            "layers": layers, "from_log": from_log}
