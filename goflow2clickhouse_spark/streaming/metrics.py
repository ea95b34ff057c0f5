"""Observability — the engine's equivalent of the reference's
Prometheus /metrics endpoint (/root/reference/main.go:39-40,177-180):
a StreamingQueryListener accumulating rows/sec + batch counts, exposed
as a plain dict AND served in Prometheus text format over HTTP
(MetricsHttpServer, --metrics-addr). Spark's own spark.metrics
Prometheus servlet covers executor-level metrics.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class IngestMetrics:
    batches: int = 0
    input_rows: int = 0
    decode_dropped: int = 0
    last_input_rows_per_sec: float = 0.0
    last_processed_rows_per_sec: float = 0.0
    last_batch_duration_ms: float = 0.0
    # latest running drop totals of each udp:// source, keyed by
    # (query id, source position) — the totals are cumulative, so the
    # newest report replaces the previous one
    udp_dropped: dict[tuple[str, int], dict[str, int]] = field(
        default_factory=dict
    )
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            snap = {
                "flows_batches_total": float(self.batches),
                "flows_rows_total": float(self.input_rows),
                "flows_decode_dropped_total": float(self.decode_dropped),
                "flows_input_rows_per_sec": self.last_input_rows_per_sec,
                "flows_processed_rows_per_sec": self.last_processed_rows_per_sec,
                "flows_batch_duration_ms": self.last_batch_duration_ms,
            }
            for totals in self.udp_dropped.values():
                for kind, n in totals.items():
                    name = f"flows_udp_{kind}_total"
                    snap[name] = snap.get(name, 0.0) + n
        return snap


class FlowMetricsListener(StreamingQueryListener):
    """Attach with spark.streams.addListener(listener); read
    listener.metrics.snapshot() (≡ scraping /metrics)."""

    def __init__(self) -> None:
        self.metrics = IngestMetrics()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self.metrics._lock:
            self.metrics.batches += 1
            self.metrics.input_rows += int(p.numInputRows)
            self.metrics.last_input_rows_per_sec = float(p.inputRowsPerSecond or 0.0)
            self.metrics.last_processed_rows_per_sec = float(
                p.processedRowsPerSecond or 0.0
            )
            self.metrics.last_batch_duration_ms = float(
                (p.durationMs or {}).get("triggerExecution", 0)
            )
            # the JSON transport's drop counter (sources/streaming.
            # from_goflow2_json publishes a named observation per batch
            # — the counted half of the decoder's log-and-drop contract)
            try:
                om = p.observedMetrics or {}
                for name, row in om.items():
                    # one observation per JSON-transport source in the
                    # fan-in, disambiguated by a numeric suffix
                    if str(name).startswith("goflow2_json_decode"):
                        self.metrics.decode_dropped += int(
                            row["rows_dropped"] or 0
                        )
            except Exception:
                pass  # observation shape is advisory, never fatal
            for i, src in enumerate(p.sources):
                totals = _udp_drop_totals(src.endOffset)
                if totals:
                    self.metrics.udp_dropped[(str(p.id), i)] = totals

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _udp_drop_totals(offset: str | None) -> dict[str, int]:
    """The running drop totals a udp:// source carries in its offset
    ({"count": rows, "dropped": {kind: total}}, sources/udp.py); empty
    for any other source's offset."""
    try:
        off = json.loads(offset or "")
    except ValueError:
        return {}
    if not isinstance(off, dict) or "count" not in off:
        return {}
    dropped = off.get("dropped")
    if not isinstance(dropped, dict):
        return {}
    return {str(k): v for k, v in dropped.items() if isinstance(v, int)}


def prometheus_text(snapshot: dict[str, float]) -> str:
    """Render a metrics snapshot in the Prometheus text exposition
    format (the payload the reference serves at /metrics)."""
    lines = []
    for name in sorted(snapshot):
        kind = "counter" if name.endswith("_total") else "gauge"
        lines.append(f"# TYPE {name} {kind}")
        lines.append(f"{name} {snapshot[name]}")
    return "\n".join(lines) + "\n"


class MetricsHttpServer:
    """HTTP /metrics endpoint (main.go:39-40,177-180 parity: the
    reference mounts promhttp on -metrics.addr).

    Runs a daemon-threaded stdlib HTTP server on `addr`
    ("host:port"; port 0 picks an ephemeral one — read it back from
    `.port`). Driver-side only, like the reference's single process
    endpoint; executor metrics belong to Spark's own metrics system.
    """

    def __init__(self, metrics: IngestMetrics, addr: str = "127.0.0.1:0"):
        host, _, port = addr.rpartition(":")
        snapshot = metrics.snapshot  # bound method; handler stays tiny

        class _Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (stdlib API)
                if self.path.split("?")[0] != "/metrics":
                    self.send_error(404)
                    return
                body = prometheus_text(snapshot()).encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # silence per-scrape logs
                pass

        self._server = ThreadingHTTPServer((host or "0.0.0.0", int(port or 0)),
                                           _Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="metrics-http", daemon=True
        )
        self._thread.start()

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
