"""End-to-end streaming ingest (SURVEY.md §5.2 layer 3): file-source
stream of raw-flow parquet chunks → fan-in → transform → foreachBatch
parquet sink; sink contents must equal the batch-mode transform of the
same input (stream/batch parity), and replays must not duplicate
(exactly-once via the idempotent sink).
"""

from __future__ import annotations

import pytest

from goflow2clickhouse_spark.schema import FLOWS_SCHEMA, RAW_FLOW_SCHEMA
from goflow2clickhouse_spark.sinks import idempotent_parquet_sink, parquet_sink
from goflow2clickhouse_spark.sources.streaming import parse_listen
from goflow2clickhouse_spark.streaming.ingest import (
    IngestConfig,
    IngestPipeline,
    run_batch_etl,
)
from tests.test_flows_transform import _raw_row


@pytest.fixture()
def raw_dir(spark, tmp_path):
    """Three parquet chunk-files of deterministic raw flows."""
    d = tmp_path / "raw"
    for chunk in range(3):
        rows = [
            _raw_row(SequenceNum=chunk * 100 + i, SrcPort=2000 + i)
            for i in range(50)
        ]
        spark.createDataFrame(rows, RAW_FLOW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
    return d


def test_stream_batch_parity(spark, tmp_path, raw_dir):
    out = tmp_path / "out"
    cfg = IngestConfig(
        listen=f"file://{raw_dir}?maxFilesPerTrigger=1",
        checkpoint=str(tmp_path / "ckpt"),
    )
    pipe = IngestPipeline(spark, cfg, parquet_sink(str(out)))
    q = pipe.start(available_now=True)
    q.awaitTermination(120)

    streamed = spark.read.parquet(str(out))
    batch = run_batch_etl(spark.read.schema(RAW_FLOW_SCHEMA).parquet(str(raw_dir)))

    assert [f.name for f in streamed.schema.fields] == [
        f.name for f in FLOWS_SCHEMA.fields
    ]
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b
    assert len(s) == 150


def test_restart_no_duplicates(spark, tmp_path, raw_dir):
    """Checkpointed restart: second run over the same source must not
    re-deliver processed batches (upgrade over main.go:158-172's
    at-most-once — SURVEY.md §0.3)."""
    out = tmp_path / "out2"
    cfg = IngestConfig(
        listen=f"file://{raw_dir}?maxFilesPerTrigger=1",
        checkpoint=str(tmp_path / "ckpt2"),
    )
    pipe = IngestPipeline(spark, cfg, idempotent_parquet_sink(str(out)))
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(str(out)).count()

    # restart with same checkpoint — nothing new to process
    q2 = IngestPipeline(spark, cfg, idempotent_parquet_sink(str(out))).start(
        available_now=True
    )
    q2.awaitTermination(120)
    n2 = spark.read.parquet(str(out)).count()
    assert n1 == n2 == 150


def test_batchsize_reaches_file_source(spark, tmp_path, raw_dir):
    """--batchsize (rows) must derive the file source's per-trigger cap:
    batch_size=10_000 → 1 file per trigger → one batch per chunk file."""
    out = tmp_path / "out3"
    cfg = IngestConfig(
        listen=f"file://{raw_dir}",  # no explicit maxFilesPerTrigger
        batch_size=10_000,
        checkpoint=str(tmp_path / "ckpt3"),
    )
    seen: list[int] = []

    def counting_sink(df, batch_id):
        seen.append(df.count())

    q = IngestPipeline(spark, cfg, counting_sink).start(available_now=True)
    q.awaitTermination(120)
    assert len(seen) == 3 and sum(seen) == 150  # one batch per file


def test_batchsize_reaches_udp_source():
    """The udp reader's drain cap must come from maxRowsPerTrigger,
    which open_stream derives from batch_size."""
    from goflow2clickhouse_spark.sources.udp import UdpFlowStreamReader

    r = UdpFlowStreamReader({"maxRowsPerTrigger": "777"})
    assert r.max_per_batch == 777


def test_udp_workers_fan_in(spark):
    """udp://...?workers=N must open N SO_REUSEPORT listener streams on
    one port, fanned in (-workers parity, main.go:35)."""
    import socket as _socket

    probe = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()

    for scheme in ("udp", "sflow"):
        cfg = IngestConfig(listen=f"{scheme}://127.0.0.1:{port}?workers=2")
        pipe = IngestPipeline(spark, cfg, lambda df, bid: None)
        df = pipe.stream()
        plan = df._jdf.queryExecution().analyzed().toString()
        assert plan.count("udp_flows") == 2, (scheme, plan)
        assert "Union" in plan


def _free_udp_port() -> int:
    import socket as _socket

    probe = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()
    return port


def test_udp_ingest_plan_has_no_python_udf(spark, tmp_path):
    """The udp:// listener formats addresses itself, so the ingest plan
    runs no Python UDF (no Arrow round trip to a second Python worker
    on every micro-batch). Read from a micro-batch that really ran: a
    streaming plan is only optimized once a batch executes."""
    import socket as _socket
    import time

    from tests.test_udp_source import _msg

    port = _free_udp_port()
    cfg = IngestConfig(
        listen=f"udp://127.0.0.1:{port}",
        batch_max_time="500 milliseconds",
        checkpoint=str(tmp_path / "ck-plan"),
    )
    seen: list[int] = []
    q = IngestPipeline(
        spark, cfg, lambda df, bid: seen.append(df.count())
    ).start(query_name="udp_plan_run")
    sender = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not any(seen):
            sender.sendto(_msg(), ("127.0.0.1", port))
            time.sleep(0.5)
        assert any(seen), "no datagram reached the sink"
        plan = q._jsq.explainInternal(True)
    finally:
        sender.close()
        q.stop()
    assert "udp_flows" in plan and "Optimized Logical Plan" in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_mixed_udp_and_file_listen(spark, raw_dir):
    """udp:// yields string addresses and file:// packed bytes; each is
    transformed before the fan-in, so a mixed listen builds and carries
    the same 22 columns as flow_transform over a binary batch."""
    from goflow2clickhouse_spark.operators.flows import flow_transform

    cfg = IngestConfig(
        listen=f"udp://127.0.0.1:{_free_udp_port()},file://{raw_dir}"
    )
    df = IngestPipeline(spark, cfg, lambda df, bid: None).stream()
    want = flow_transform(spark.createDataFrame([_raw_row()], RAW_FLOW_SCHEMA))
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert len(df.schema.fields) == 22
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "udp_flows" in plan and "Union" in plan


def test_batch_etl_throughput_floor(spark, tmp_path):
    """Batch transform throughput (README 'UDP ingest throughput'):
    raw -> 22-column transform -> parquet must clear the reference's
    implied >=1,000 rows/s with a wide margin. Measured ~246k rows/s on
    local[32]; the floor here is set far lower for CI robustness."""
    import time

    from pyspark.sql import functions as F

    from goflow2clickhouse_spark.sources.streaming import _synthetic_raw_flows

    n = 200_000
    raw = _synthetic_raw_flows(
        spark.range(n).select(
            F.col("id").alias("value"),
            F.current_timestamp().alias("timestamp"),
        )
    ).repartition(8)
    run_batch_etl(raw).write.mode("overwrite").parquet(
        str(tmp_path / "warm"))  # warm-up: codegen + Arrow init
    t0 = time.time()
    run_batch_etl(raw).write.mode("overwrite").parquet(
        str(tmp_path / "timed"))
    rate = n / (time.time() - t0)
    assert rate >= 20_000, f"batch ETL {rate:,.0f} rows/s below floor"
    assert spark.read.parquet(str(tmp_path / "timed")).count() == n


def test_parse_listen_dispatch():
    specs = parse_listen("file:///tmp/a?maxFilesPerTrigger=2,rate://?rowsPerSecond=10")
    assert [s.scheme for s in specs] == ["file", "rate"]
    assert specs[0].options["maxFilesPerTrigger"] == "2"

    # unknown scheme fatal (main.go:242)
    with pytest.raises(ValueError, match="unknown source scheme"):
        parse_listen("bogus://x")

    # the reference's listener spellings all resolve to the native
    # UDP DataSource (binary sFlow v5 / NetFlow v5 decode in-process)
    udp = parse_listen("sflow://:6343,netflow://:2055,nfl://:2056")
    assert [s.scheme for s in udp] == ["sflow", "netflow", "nfl"]


def test_reference_listener_schemes_open_native_streams(spark):
    from goflow2clickhouse_spark.sources.streaming import open_stream

    for url in ("sflow://127.0.0.1:0", "netflow://127.0.0.1:0"):
        (spec,) = parse_listen(url)
        df = open_stream(spark, spec)
        assert df.isStreaming
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "udp_flows" in plan


def test_rate_source_synthesizes_valid_flows(spark, tmp_path):
    """rate:// load-test source → transform must produce valid rows."""
    cfg = IngestConfig(
        listen="rate://?rowsPerSecond=100",
        checkpoint=str(tmp_path / "ckpt3"),
    )
    out = tmp_path / "out3"
    cfg.batch_max_time = "2 seconds"
    pipe = IngestPipeline(spark, cfg, parquet_sink(str(out)))
    q = pipe.start(available_now=False)
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline and not list(out.glob("part-*.parquet")):
            time.sleep(1)  # wait for the first committed micro-batch file
    finally:
        q.stop()
    parts = [str(p) for p in out.glob("part-*.parquet")]
    assert parts, "rate source produced no flows within 60s"
    rows = spark.read.schema(FLOWS_SCHEMA).parquet(*parts).collect()
    for r in rows:
        assert r.src_addr.startswith("192.168.")
        assert r.proto in (1, 6, 17)


def test_parse_listen_udp_and_multi():
    specs = parse_listen("udp://:6343,udp://10.0.0.5:2055?maxRowsPerTrigger=5000")
    assert [s.scheme for s in specs] == ["udp", "udp"]
    assert specs[0].target == ":6343"
    assert specs[1].target == "10.0.0.5:2055"
    assert specs[1].options == {"maxRowsPerTrigger": "5000"}


def test_jsonl_source_goflow2_transport(spark, tmp_path):
    """jsonl:// drop-dir (goflow2 `-transport file` replay): JSON
    FlowMessages with string addresses — v4 dotted-quad, RFC 5952 v6,
    one junk address, one missing numeric field — must decode to
    RAW_FLOW_SCHEMA byte-identically with the UDP listener's JSON
    fallback (sources/udp.parse_datagram) on the same messages, then
    flow through the standard transform to the sink."""
    import json

    from goflow2clickhouse_spark.sources.udp import parse_datagram

    msgs = [
        {"Type": 1, "TimeReceived": 1700000000 + i, "SequenceNum": i,
         "SamplingRate": 1000, "FlowDirection": i % 2,
         "SamplerAddress": "10.0.0.1",
         "TimeFlowStart": 1700000000 + i, "TimeFlowEnd": 1700000060 + i,
         "Bytes": 500 + i, "Packets": 4,
         "SrcAddr": "192.168.1.%d" % (i + 1),
         "DstAddr": "2001:db8::%x" % (i + 1),
         "Etype": 2048, "Proto": 6, "SrcPort": 1000 + i, "DstPort": 443,
         "ForwardingStatus": 64, "TCPFlags": 16,
         "IcmpType": 0, "IcmpCode": 0,
         "FragmentId": 0, "FragmentOffset": 0}
        for i in range(5)
    ]
    msgs[3]["SrcAddr"] = "not-an-ip"      # junk → 4 zero bytes
    del msgs[4]["Packets"]                 # missing numeric → 0

    d = tmp_path / "jsonl"
    d.mkdir()
    (d / "flows-0.jsonl").write_text(
        "\n".join(json.dumps(m) for m in msgs) + "\n"
    )

    out = tmp_path / "out-jsonl"
    cfg = IngestConfig(
        listen=f"jsonl://{d}",
        checkpoint=str(tmp_path / "ckpt-jsonl"),
    )
    pipe = IngestPipeline(spark, cfg, parquet_sink(str(out)))
    q = pipe.start(available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    assert got.count() == 5

    # raw-level parity with the UDP JSON decoder on identical messages,
    # INCLUDING the drop cases: invalid JSON, a JSON array, a JSON
    # scalar, and a type-mismatched numeric field must all vanish from
    # both paths (parse_datagram returns None; the stream filters the
    # corrupt-record column)
    from goflow2clickhouse_spark.sources.streaming import from_goflow2_json

    bad = [
        "{not json", "[1, 2]", "5", '{"Type": 1, "Bytes": "abc"}',
        "null",        # valid JSON, not an object → drop (ghost-row trap)
        "",            # empty line → drop
        "   ",         # whitespace line → drop
    ]
    kept_edge = [
        "{}",                        # empty object → all-zero row (kept)
        '{"SamplerAddress": 5}',     # numeric address → 0.0.0.5 both paths
        # protobuf-JSON quoted 64-bit ints: int("123") accepts them on
        # the UDP path, so the stream must too (r6 review — the
        # long-typed from_json schema used to mark the row corrupt)
        '{"Type": 1, "Bytes": "123", "SrcPort": 443}',
        # a record legitimately carrying a "_corrupt" member: the UDP
        # decoder ignores unknown fields, and the stream's corrupt-
        # capture column is engine-private so from_json no longer
        # fills it from the record's own member (r8 review — the
        # jsonl/kafka path used to drop this row, a transport split)
        '{"_corrupt": "x", "Type": 1, "Bytes": 5}',
    ]
    payloads = [json.dumps(m) for m in msgs] + bad + kept_edge
    for b in bad:
        assert parse_datagram(b.encode()) is None
    for g in kept_edge:
        assert parse_datagram(g.encode()) is not None
    lines = spark.createDataFrame([(p,) for p in payloads], "value string")
    via_stream = sorted(
        map(tuple, from_goflow2_json(lines, "value").collect())
    )
    via_udp = sorted(
        t for p in payloads if (t := parse_datagram(p.encode())) is not None
    )
    assert len(via_stream) == len(msgs) + len(kept_edge)
    assert via_stream == via_udp


def test_unknown_scheme_still_fatal():
    with pytest.raises(ValueError, match="unknown source scheme"):
        parse_listen("carrier-pigeon://:99")


def test_multi_json_source_fan_in(spark, tmp_path):
    """Two JSON-transport sources in one listen string must fan in —
    the observation name is suffixed per source because two
    CollectMetrics nodes with one name is an AnalysisException
    (DUPLICATED_METRICS_NAME), which previously broke every
    multi-listener config using more than one JSON source."""
    import json

    msg = {"Type": 1, "TimeReceived": 1700000000, "SequenceNum": 0,
           "SamplingRate": 1000, "FlowDirection": 0,
           "SamplerAddress": "10.0.0.1", "TimeFlowStart": 1700000000,
           "TimeFlowEnd": 1700000060, "Bytes": 500, "Packets": 4,
           "SrcAddr": "192.168.1.1", "DstAddr": "10.2.3.4",
           "Etype": 2048, "Proto": 6, "SrcPort": 1000, "DstPort": 443,
           "ForwardingStatus": 64, "TCPFlags": 16, "IcmpType": 0,
           "IcmpCode": 0, "FragmentId": 0, "FragmentOffset": 0}
    dirs = []
    for i in range(2):
        d = tmp_path / f"j{i}"
        d.mkdir()
        lines = [json.dumps({**msg, "SequenceNum": i * 10 + j})
                 for j in range(3)]
        (d / "f.jsonl").write_text("\n".join(lines) + "\n")
        dirs.append(d)

    out = tmp_path / "out-multi"
    cfg = IngestConfig(
        listen=f"jsonl://{dirs[0]},jsonl://{dirs[1]}",
        checkpoint=str(tmp_path / "ck-multi"),
    )
    q = IngestPipeline(spark, cfg, parquet_sink(str(out))).start(
        available_now=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    assert got.count() == 6
    assert sorted(r.sequence_num for r in got.collect()) == [0, 1, 2, 10, 11, 12]
