"""Observability (StreamingQueryListener metrics ≡ the reference's
/metrics endpoint) and the fanout sink (≡ ENGINE=Null + multiple
materialized views)."""

from __future__ import annotations

import time

from goflow2clickhouse_spark.schema import RAW_FLOW_SCHEMA
from goflow2clickhouse_spark.sinks import fanout, parquet_sink
from goflow2clickhouse_spark.streaming.ingest import IngestConfig, IngestPipeline
from goflow2clickhouse_spark.streaming.metrics import FlowMetricsListener
from tests.test_flows_transform import _raw_row


def _write_chunks(spark, d, n_rows=40):
    rows = [_raw_row(SequenceNum=i) for i in range(n_rows)]
    spark.createDataFrame(rows, RAW_FLOW_SCHEMA).coalesce(2).write.mode(
        "append"
    ).parquet(str(d))


def test_metrics_listener_counts_rows(spark, tmp_path):
    src = tmp_path / "in"
    _write_chunks(spark, src, 40)
    listener = FlowMetricsListener()
    spark.streams.addListener(listener)
    try:
        cfg = IngestConfig(
            listen=f"file://{src}", checkpoint=str(tmp_path / "ck")
        )
        out = tmp_path / "out"
        q = IngestPipeline(spark, cfg, parquet_sink(str(out))).start(
            query_name="metrics_run", available_now=True
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        snap = listener.metrics.snapshot()
        while time.time() < deadline and snap["flows_rows_total"] < 40:
            time.sleep(0.5)
            snap = listener.metrics.snapshot()
        assert snap["flows_batches_total"] >= 1
        assert snap["flows_rows_total"] == 40
    finally:
        spark.streams.removeListener(listener)


def test_metrics_http_endpoint_scrape(spark, tmp_path):
    """The /metrics HTTP endpoint (reference parity, main.go:177-180)
    serves the listener's counters in Prometheus text format while an
    ingest runs; non-/metrics paths 404."""
    import urllib.error
    import urllib.request

    from goflow2clickhouse_spark.streaming.metrics import MetricsHttpServer

    src = tmp_path / "in_http"
    _write_chunks(spark, src, 40)
    listener = FlowMetricsListener()
    spark.streams.addListener(listener)
    server = MetricsHttpServer(listener.metrics, "127.0.0.1:0")
    try:
        cfg = IngestConfig(
            listen=f"file://{src}", checkpoint=str(tmp_path / "ck_http")
        )
        q = IngestPipeline(
            spark, cfg, parquet_sink(str(tmp_path / "out_http"))
        ).start(query_name="metrics_http_run", available_now=True)

        url = f"http://127.0.0.1:{server.port}/metrics"
        # scrape-able while the query is running
        with urllib.request.urlopen(url, timeout=10) as resp:
            assert resp.status == 200
            assert "text/plain" in resp.headers["Content-Type"]
        q.awaitTermination(120)

        deadline = time.time() + 30
        body = ""
        while time.time() < deadline:
            with urllib.request.urlopen(url, timeout=10) as resp:
                body = resp.read().decode()
            if "flows_rows_total 40.0" in body:
                break
            time.sleep(0.5)
        assert "# TYPE flows_rows_total counter" in body
        assert "flows_rows_total 40.0" in body
        assert "# TYPE flows_batch_duration_ms gauge" in body

        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/other", timeout=10)
            raise AssertionError("non-/metrics path should 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.close()
        spark.streams.removeListener(listener)


def test_prometheus_text_format():
    from goflow2clickhouse_spark.streaming.metrics import prometheus_text

    text = prometheus_text({"x_total": 3.0, "y_rate": 1.5})
    assert text == (
        "# TYPE x_total counter\nx_total 3.0\n"
        "# TYPE y_rate gauge\ny_rate 1.5\n"
    )


def test_fanout_sink_feeds_all_sinks(spark, tmp_path):
    src = tmp_path / "in2"
    _write_chunks(spark, src, 25)
    a, b = tmp_path / "a", tmp_path / "b"
    cfg = IngestConfig(listen=f"file://{src}", checkpoint=str(tmp_path / "ck2"))
    q = IngestPipeline(
        spark, cfg, fanout(parquet_sink(str(a)), parquet_sink(str(b)))
    ).start(query_name="fanout_run", available_now=True)
    q.awaitTermination(120)
    ra = spark.read.parquet(str(a))
    rb = spark.read.parquet(str(b))
    assert ra.count() == 25 and rb.count() == 25
    assert sorted(map(tuple, ra.collect())) == sorted(map(tuple, rb.collect()))


def test_decode_drop_counter_from_observation(spark, tmp_path):
    """The JSON transport's drop counter: junk lines in a jsonl source
    must surface as flows_decode_dropped_total via the named
    observation ("goflow2_json_decode") that FlowMetricsListener folds
    from each batch's observedMetrics — the counted half of the
    decoder's log-and-drop contract."""
    import json as _json

    good = [
        {"Type": 1, "TimeReceived": 1700000000 + i, "SequenceNum": i,
         "SamplingRate": 1000, "FlowDirection": 0,
         "SamplerAddress": "10.0.0.1",
         "TimeFlowStart": 1700000000, "TimeFlowEnd": 1700000060,
         "Bytes": 500, "Packets": 4, "SrcAddr": "192.168.1.1",
         "DstAddr": "10.9.9.9", "Etype": 2048, "Proto": 6,
         "SrcPort": 1000, "DstPort": 443, "ForwardingStatus": 64,
         "TCPFlags": 16, "IcmpType": 0, "IcmpCode": 0,
         "FragmentId": 0, "FragmentOffset": 0}
        for i in range(5)
    ]
    junk = ["{broken", "null", "[1]", ""]
    d = tmp_path / "jl"
    d.mkdir()
    (d / "f.jsonl").write_text(
        "\n".join([_json.dumps(m) for m in good] + junk) + "\n"
    )

    listener = FlowMetricsListener()
    spark.streams.addListener(listener)
    try:
        cfg = IngestConfig(
            listen=f"jsonl://{d}", checkpoint=str(tmp_path / "ckj")
        )
        out = tmp_path / "outj"
        q = IngestPipeline(spark, cfg, parquet_sink(str(out))).start(
            query_name="decode_drop_run", available_now=True
        )
        q.awaitTermination(120)
        assert spark.read.parquet(str(out)).count() == 5
        deadline = time.time() + 30
        snap = listener.metrics.snapshot()
        while (
            time.time() < deadline
            and snap["flows_decode_dropped_total"] < len(junk)
        ):
            time.sleep(0.5)
            snap = listener.metrics.snapshot()
        assert snap["flows_decode_dropped_total"] == len(junk)
    finally:
        spark.streams.removeListener(listener)


def test_udp_drop_counts_reach_metrics_scrape(spark, tmp_path):
    """Datagrams the udp:// listener drops are counted in its data-source
    worker process; the counts travel in the source's offsets to the
    session, where FlowMetricsListener exports them on /metrics."""
    import re
    import socket
    import struct
    import urllib.request

    from goflow2clickhouse_spark.streaming.metrics import MetricsHttpServer
    from tests.test_streaming_ingest import _free_udp_port
    from tests.test_udp_source import _msg

    port = _free_udp_port()
    # NetFlow v9 data set for a template this listener never saw
    no_template = struct.pack(">HHIIII", 9, 1, 0, 1700000000, 1, 0) + \
        struct.pack(">HH", 300, 8) + bytes(4)

    listener = FlowMetricsListener()
    spark.streams.addListener(listener)
    server = MetricsHttpServer(listener.metrics, "127.0.0.1:0")
    cfg = IngestConfig(
        listen=f"udp://127.0.0.1:{port}",
        batch_max_time="1 second",
        checkpoint=str(tmp_path / "ck_udp"),
    )
    q = IngestPipeline(
        spark, cfg, parquet_sink(str(tmp_path / "out_udp"))
    ).start(query_name="udp_drop_run")
    url = f"http://127.0.0.1:{server.port}/metrics"
    sender = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)

    def scraped(body: str, name: str) -> float:
        m = re.search(rf"^{name} (\S+)$", body, re.M)
        return float(m.group(1)) if m else 0.0

    try:
        deadline = time.time() + 90
        body = ""
        while time.time() < deadline:
            # re-sent until the listener has bound its socket and a
            # batch holding the drops has reported progress
            for p in (b"junk", b"[1, 2]", no_template, _msg()):
                sender.sendto(p, ("127.0.0.1", port))
            time.sleep(1.0)
            with urllib.request.urlopen(url, timeout=10) as resp:
                body = resp.read().decode()
            if (scraped(body, "flows_udp_undecodable_total") > 0
                    and scraped(body, "flows_udp_no_template_total") > 0):
                break
        assert scraped(body, "flows_udp_undecodable_total") > 0, body
        assert scraped(body, "flows_udp_no_template_total") > 0, body
        assert scraped(body, "flows_rows_total") > 0, body
        assert "# TYPE flows_udp_undecodable_total counter" in body
    finally:
        sender.close()
        q.stop()
        server.close()
        spark.streams.removeListener(listener)

