"""The `udp_ingest` workload: live UDP datagrams through `IngestPipeline`.

An open-loop generator process sends a seeded protocol mix to
`udp://127.0.0.1:<port>?rcvbuf=4194304`; the pipeline runs back-to-back
micro-batches (trigger 0) into a wrapper around
`sinks.idempotent_parquet_sink` that records when each batch's sink call
returned. Each stored row carries its datagram's index as `sequence_num`,
and each `batch_id=` directory ties its rows to that return time, so
latency needs no extra Spark job. The workload issues no queries.

Phases: a warm-up burst (setup ends when the sink call storing the last of
it returns), a steady schedule at RATE datagrams/s whose last `--seconds`
are measured, then BURSTS bursts of BURST datagrams sent back to back. A
burst fits in the socket buffer, so nothing is lost, and `throughput` is
the median rate at which the pipeline clears one.
"""

from __future__ import annotations

import json
import os
import socket
import statistics
import subprocess
import sys
import threading
import time

import common
import flowgen

# Steady rate in datagrams/s, ~3,000 rows/s at 7.6 rows a datagram: a
# quarter of the ~12,000 rows/s at which the pipeline clears bursts on the
# 4-core reference box, and half of the ~5,400 rows/s it cleared while the
# host was contended, so no backlog builds and a batch costs its fixed
# overhead (at 800 datagrams/s a contended host fell behind and p50 read
# 3.4 s).
RATE = 400
# The warm-up burst, in datagrams, as large as a timed one and sent as soon
# as the listener is bound: its first batch starts the Python workers, and
# its ~38,000 rows run through code the JIT is still compiling (after two
# 60-datagram bursts, the sink write of the steady batches still fell from
# ~420 to ~280 ms over the 11 s of the steady schedule). A 60-datagram
# burst ahead of it only added one cold batch to setup.
WARM = 5000
# ~38,000 rows a burst: always three full 10,000-row batches (the engine's
# default batch cap) and most of a fourth, and inside the socket buffer
# (8 MiB holds ~6,500 datagrams of the mix). One burst clears in ~3 s, and
# the host's speed wanders by ±25% from one second to the next, so
# `throughput` is the median of three bursts: one burst hit by a slow
# spell does not move it.
BURSTS = 3
BURST = 5000
RCVBUF = 4194304
# the steady schedule starts PRE_ROLL seconds before its measured window:
# the first batches at rate still ran ~30% slower than later ones
PRE_ROLL = 1.0


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_bound(port: int, timeout: float) -> None:
    """Block until some socket is bound to UDP `port` (the listener binds
    on its first trigger; datagrams sent before that are lost)."""
    tag = f":{port:04X}"
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        with open("/proc/net/udp") as fh:
            if any(line.split()[1].endswith(tag) for line in list(fh)[1:]):
                return
        time.sleep(0.005)
    raise TimeoutError(f"UDP listener never bound port {port}")


def _burst_fits(payloads: list[bytes]) -> int:
    """Send `payloads` to a socket bound with SO_RCVBUF = RCVBUF that
    nobody reads, and stop the run unless every datagram was kept: a burst
    that overflows the buffer would show up as failed operations rather
    than as the host setting it is (the kernel caps the buffer at twice
    net.core.rmem_max). Returns the effective buffer size in bytes."""
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as rx, \
            socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as tx:
        rx.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, RCVBUF)
        rx.bind(("127.0.0.1", 0))
        rcvbuf = rx.getsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF)
        for p in payloads:
            tx.sendto(p, rx.getsockname())
        rx.setblocking(False)
        kept = 0
        while True:
            try:
                rx.recv(65536)
            except BlockingIOError:
                break
            kept += 1
    if kept < len(payloads):
        raise SystemExit(
            f"a {len(payloads)}-datagram burst does not fit the socket buffer "
            f"(SO_RCVBUF {rcvbuf} bytes, {kept} datagrams kept); raise "
            f"net.core.rmem_max to at least {RCVBUF}")
    return rcvbuf


class _Committed:
    """Rows committed so far, by batch id. A poll reads the query's last
    progress report only: `recentProgress` serialises every report so far
    in the Spark driver, so its cost grows with the run and with how long
    a burst takes, and that CPU would land in `cpu_ms_per_op`. Batch ids run
    from 0 without gaps; a poll that finds one missing (two batches ended
    between polls) reads the full list once."""

    def __init__(self, query) -> None:
        self.query = query
        self.rows: dict[int, int] = {}

    def _add(self, p) -> None:
        # an idle report carries the next batch's id and 0 rows
        self.rows[p.batchId] = max(self.rows.get(p.batchId, 0), p.numInputRows)

    def total(self) -> int:
        last = self.query.lastProgress
        if last is not None:
            if any(b not in self.rows for b in range(last.batchId)):
                for p in self.query.recentProgress:
                    self._add(p)
            self._add(last)
        return sum(self.rows.values())

    def wait(self, rows: int, timeout: float) -> bool:
        """Poll until `rows` rows are committed; no metric is timed from the
        moment a poll succeeds."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.total() >= rows:
                return True
            if self.query.exception() is not None:
                raise RuntimeError(f"ingest query failed: {self.query.exception()}")
            time.sleep(0.25)
        return False


class _Generator:
    """The generator process: started, fed commands, stopped."""

    def __init__(self, port: int, seed: int, n: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, flowgen.__file__, str(port), str(seed), str(n)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def wait_ready(self) -> None:
        if self.proc.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed to start")

    def send(self, first: int, count: int, rate: float, t0: float) -> dict:
        self.proc.stdin.write(f"send {first} {count} {rate} {t0}\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _read_sink(sink_dir: str) -> dict[int, list[tuple]]:
    """batch_id -> stored rows, read straight from the parquet files."""
    import pyarrow.parquet as pq

    out = {}
    for name in os.listdir(sink_dir):
        if name.startswith("batch_id="):
            tbl = pq.read_table(os.path.join(sink_dir, name))
            out[int(name.split("=", 1)[1])] = [tuple(r.values()) for r in tbl.to_pylist()]
    return out


def _decode_cost(payloads, protos) -> tuple[dict[str, float], list[tuple]]:
    """µs per decoded row of `sources.udp.decode_datagram`, per protocol,
    over this run's own datagrams; also returns the decoded raw rows."""
    from goflow2clickhouse_spark.sources.udp import (
        IpfixDecoder,
        NetflowV9Decoder,
        decode_datagram,
    )

    peer = bytes((127, 0, 0, 1))
    cost, raw = {}, []
    for proto in flowgen.PROTOCOLS:
        mine = [p for p, q in zip(payloads, protos) if q == proto]
        v9, ipfix = NetflowV9Decoder(), IpfixDecoder()
        t0 = time.perf_counter()
        rows = [decode_datagram(p, peer, now_s=flowgen.BASE_EPOCH, v9=v9, ipfix=ipfix)
                for p in mine]
        dt = time.perf_counter() - t0
        flat = [r for rs in rows for r in rs]
        cost[proto] = 1e6 * dt / max(len(flat), 1)
        raw += flat
    return cost, raw


def _transform_cost(spark, raw: list[tuple], n: int = 20_000) -> float:
    """µs per row of `operators.flows.flow_transform` over a static,
    cached batch of raw rows, written to the noop sink (median of 3)."""
    from goflow2clickhouse_spark.operators.flows import flow_transform
    from goflow2clickhouse_spark.schema import RAW_FLOW_SCHEMA

    df = spark.createDataFrame(raw[:n], RAW_FLOW_SCHEMA).persist()
    rows = df.count()
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        flow_transform(df).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    df.unpersist()
    return 1e6 * statistics.median(times[1:]) / rows


def run(seed: int, seconds: float, trace: bool, tracer: common.Tracer,
        rdir: str) -> dict:
    n_pre, n_steady = int(RATE * PRE_ROLL), int(RATE * seconds)
    n_warm = WARM
    n_rate = n_pre + n_steady  # datagrams sent on the steady schedule
    n = n_warm + n_rate + BURSTS * (BURST + 1)
    port = _free_port()
    gen = _Generator(port, seed, n)  # encodes its copy while this one does
    query = None
    try:
        payloads, protos, expected = flowgen.build(seed, n)
        rows_at = [0]  # rows_at[i]: rows carried by datagrams 0..i-1
        for rows in expected:
            rows_at.append(rows_at[-1] + len(rows))
        rcvbuf = max(_burst_fits(payloads[p:p + size]) for p, size in
                     [(0, WARM)]
                     + [(p + 1, BURST) for p in range(n_warm + n_rate, n, BURST + 1)])
        gen.wait_ready()
        t_setup = time.monotonic()
        with tracer.span("session", op="setup"):
            spark = common.start_session(rdir, trace)
        session_s = time.monotonic() - t_setup

        from goflow2clickhouse_spark.sinks import idempotent_parquet_sink
        from goflow2clickhouse_spark.streaming.ingest import IngestConfig, IngestPipeline

        sink_dir = os.path.join(rdir, "sink")
        write = idempotent_parquet_sink(sink_dir)
        sink_calls: dict[int, tuple[float, float]] = {}
        sink_cpu: dict[int, float] = {}  # CPU seconds used when the call returned

        sink_entered = threading.Event()

        def timed_sink(df, batch_id: int) -> None:
            t0 = time.monotonic()
            sink_entered.set()
            write(df, batch_id)
            t1 = time.monotonic()
            sink_cpu[batch_id] = common.tree_cpu_s()
            sink_calls[batch_id] = (t0, t1)
            tracer.add("sinks.write", t0, t1, op=f"batch{batch_id}")

        cfg = IngestConfig(
            listen=f"udp://127.0.0.1:{port}?rcvbuf={RCVBUF}",
            batch_max_time="0 seconds",
            checkpoint=os.path.join(rdir, "checkpoint"),
        )
        with tracer.span("streaming.ingest.start", op="setup"):
            query = IngestPipeline(spark, cfg, timed_sink).start()
            committed = _Committed(query)
            _wait_bound(port, 120)
        with tracer.span("warmup", op="setup"):
            gen.send(0, WARM, 0, time.monotonic())
            if not committed.wait(rows_at[WARM], 120):
                raise RuntimeError("warm-up burst was never committed")
        # ready when the sink call that stored the last warm-up rows
        # returned, not when a poll noticed it
        setup_s = max(t1 for _, t1 in sink_calls.values()) - t_setup

        t_rate = time.monotonic() + 0.05
        ticks0 = common.cpu_ticks()
        with tracer.span("steady", op="steady"):
            late = gen.send(n_warm, n_rate, RATE, t_rate)
            committed.wait(rows_at[n_warm + n_rate], 60)
        # Each burst rides behind a one-datagram primer: it is sent once the
        # primer's batch has entered the sink, so its offsets are fixed and
        # the whole burst waits in the socket buffer for the next trigger.
        # The burst then always splits into the same full batches, instead
        # of a partial first batch whenever a trigger polls mid-burst.
        bursts = []
        for b in range(BURSTS):
            primer = n_warm + n_rate + b * (BURST + 1)
            with tracer.span("burst", op=f"burst{b}"):
                sink_entered.clear()
                gen.send(primer, 1, 0, time.monotonic())
                if not sink_entered.wait(60):
                    raise RuntimeError("primer batch never reached the sink")
                gen.send(primer + 1, BURST, 0, time.monotonic())
                committed.wait(rows_at[primer + 1 + BURST], 60)
            bursts.append(primer)
        steal = common.steal_pct(ticks0, common.cpu_ticks())
        progress = list(query.recentProgress)
    finally:
        if query is not None:
            query.stop()
        gen.close()

    # --- outside the measured window: correctness and accounting ---
    stored = _read_sink(sink_dir)
    got: dict[int, list[tuple]] = {}
    batch_of: list[int | None] = [None] * n
    for bid, rows in stored.items():
        for r in rows:
            got.setdefault(r[2], []).append(r)
            if 0 <= r[2] < n:
                batch_of[r[2]] = bid
    failed = dropped = 0
    for seq in range(n):
        mine = got.pop(seq, [])
        if not mine:
            dropped += 1
        want = sorted((flowgen.comparable(r, protos[seq]) for r in expected[seq]), key=repr)
        have = sorted((flowgen.comparable(r, protos[seq]) for r in mine), key=repr)
        failed += have != want
    failed += len(got)  # rows whose sequence number no datagram carried
    ends = {b: t1 for b, (_, t1) in sink_calls.items()}
    first = n_warm + n_pre  # the first datagram of the measured window
    due = [t_rate + (n_pre + k) / RATE for k in range(n_steady)]
    lat = [x for x in common.due_latencies(due, batch_of[first:first + n_steady], ends)
           if x is not None]
    if not lat:
        raise RuntimeError("no steady-phase datagram was stored")
    # a burst is cleared when the last batch holding it returns; its clock
    # and its CPU account start when the primer's batch returned and the
    # pipeline was free
    cleared = []  # (rows, seconds, CPU seconds) per burst
    for primer in bursts:
        bids = {batch_of[s] for s in range(primer + 1, primer + 1 + BURST)} - {None}
        if bids and batch_of[primer] is not None and batch_of[primer] not in bids:
            last = max(bids, key=ends.get)
            cleared.append((rows_at[primer + 1 + BURST] - rows_at[primer + 1],
                            ends[last] - ends[batch_of[primer]],
                            sink_cpu[last] - sink_cpu[batch_of[primer]]))
    if not cleared:
        raise RuntimeError("no burst was cleared apart from its primer")
    lat_ms = [1000 * x for x in lat]
    q, tail = common.tail(lat_ms)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (statistics.median(1000 * c / BURST for _, _, c in cleared), "ms"),
    }
    wall = {
        "p50_ms": (common.percentile(lat_ms, 0.5), "ms"),
        "tail_ms": (tail, "ms"),
        "throughput": (statistics.median(r / t for r, t, _ in cleared), "1/s"),
    }
    late_p99, late_n = late["late_p99_ms"], late["late_count"]
    print(f"udp_ingest: {len(lat_ms)} latency samples, tail is p{int(q * 100)}; "
          f"generator late p99 {late_p99:.2f} ms, {late_n} datagrams >1 ms late; "
          f"rate {RATE} datagrams/s ({rows_at[first + n_steady] - rows_at[first]} rows "
          f"in {seconds} s), slots {common.SLOTS}, SO_RCVBUF {rcvbuf} bytes; bursts "
          f"cleared at {', '.join(f'{r / t:.0f}' for r, t, _ in cleared)} rows/s "
          f"using {', '.join(f'{c:.2f}' for _, _, c in cleared)} CPU s; "
          f"host steal {steal:.1f}%", file=sys.stderr)
    layers = {}
    if trace:
        measured = {batch_of[s] for s in range(first, n)} - {None}
        data = [p for p in progress if p.batchId in measured]

        def med(phase: str) -> float:
            return statistics.median([p.durationMs.get(phase, 0) for p in data])

        writes = [t1 - t0 for b, (t0, t1) in sink_calls.items() if b in measured]
        written = sum(len(stored[b]) for b in measured)
        files, size = common.dir_bytes(sink_dir)
        decode, raw = _decode_cost(payloads, protos)
        with tracer.span("operators.flows.transform", op="probe"):
            transform = _transform_cost(spark, raw)
        layers.update({
            "session.start_s": (session_s, "s"),
            "warmup_s": (setup_s - session_s, "s"),
            "sources.udp.recv_decode_ms": (med("latestOffset"), "ms"),
            "sources.udp.dropped": (dropped, "count"),
            "operators.flows.transform_us_per_row": (transform, "us"),
            "sinks.write_ms": (1000 * statistics.median(writes), "ms"),
            "sinks.write_us_per_row": (1e6 * sum(writes) / written, "us"),
            "sinks.files": (files, "count"),
            "sinks.bytes": (size, "bytes"),
            "streaming.ingest.trigger_ms": (med("triggerExecution"), "ms"),
            "streaming.ingest.wal_ms": (med("walCommit"), "ms"),
            "streaming.ingest.commit_ms": (med("commitOffsets"), "ms"),
            "streaming.ingest.planning_ms": (med("queryPlanning"), "ms"),
            "streaming.ingest.batches": (len(data), "count"),
            "streaming.ingest.rows_per_batch": (
                statistics.median([p.numInputRows for p in data]), "count"),
            "generator.late_p99_ms": (late_p99, "ms"),
            "generator.late_count": (late_n, "count"),
            "host.steal_pct": (steal, "%"),
        })
        for proto, us in decode.items():
            layers[f"sources.udp.decode_us_per_row.{proto}"] = (us, "us")

    def from_log(fold: dict) -> dict:
        batches = [v for (kind, _), v in fold.items() if kind == "batch"]
        jobs = sum(b["jobs"] for b in batches)
        return {"streaming.ingest.jobs_per_batch": (jobs / max(len(batches), 1), "count")}

    return {"attempted": n, "failed": failed, "e2e": e2e, "wall": wall, "steal_pct": steal,
            "layers": layers, "from_log": from_log}
