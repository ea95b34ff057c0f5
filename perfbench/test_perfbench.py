"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

import common  # noqa: E402
import flowgen  # noqa: E402


def test_generated_datagrams_decode_to_the_expected_rows():
    from goflow2clickhouse_spark.functions.ip import _format_ip
    from goflow2clickhouse_spark.sources.udp import (
        IpfixDecoder,
        NetflowV9Decoder,
        decode_datagram,
    )

    payloads, protos, expected = flowgen.build(5, 1500)
    assert set(protos) == set(flowgen.PROTOCOLS)
    v9, ipfix = NetflowV9Decoder(), IpfixDecoder()
    for seq, (payload, proto, want) in enumerate(zip(payloads, protos, expected)):
        raw = decode_datagram(payload, bytes((127, 0, 0, 1)), now_s=1, v9=v9, ipfix=ipfix)
        # the stored form: flow_transform formats the three address columns
        got = [tuple(_format_ip(v) if i in (5, 10, 11) else v for i, v in enumerate(r))
               for r in raw]
        assert len(got) == flowgen.ROWS_PER_DATAGRAM[proto]
        assert all(r[2] == seq for r in got)
        assert (sorted(flowgen.comparable(r, proto) for r in got)
                == sorted(flowgen.comparable(r, proto) for r in want))
    assert v9.dropped_no_template == 0 and ipfix.dropped_no_template == 0


def test_burst_check_stops_a_run_whose_burst_overflows_the_socket_buffer(monkeypatch):
    import wl_ingest

    payloads = flowgen.build(7, 50)[0]
    assert wl_ingest._burst_fits(payloads) > 0  # 50 datagrams fit any buffer
    monkeypatch.setattr(wl_ingest, "RCVBUF", 1)  # the kernel's minimum
    with pytest.raises(SystemExit, match="does not fit the socket buffer"):
        wl_ingest._burst_fits(payloads * 20)


def test_build_is_deterministic_per_seed():
    assert flowgen.build(3, 200)[0] == flowgen.build(3, 200)[0]
    assert flowgen.build(3, 200)[0] != flowgen.build(4, 200)[0]


def test_due_time_latency_charges_a_stall_to_every_later_datagram():
    # ten datagrams due every 100 ms; the batch holding datagrams 2..7
    # stalls until t=1.5 s, and datagram 9 never arrives
    due = [0.1 * k for k in range(10)]
    batch_of = [0, 0, 1, 1, 1, 1, 1, 1, 2, None]
    ends = {0: 0.25, 1: 1.5, 2: 1.6}
    lat = common.due_latencies(due, batch_of, ends)
    assert lat[9] is None
    assert lat[:2] == pytest.approx([0.25, 0.15])
    # everything due during the stall waits for its end, measured from the
    # due time: a datagram sent late by a stalled generator is charged too
    assert lat[2:8] == pytest.approx([1.5 - 0.1 * k for k in range(2, 8)])
    assert lat[8] == pytest.approx(0.8)


def test_percentile_needs_ten_samples_beyond_it():
    assert common.supported(100, 0.90)
    assert not common.supported(99, 0.90)
    assert common.supported(20, 0.50)
    assert not common.supported(19, 0.50)
    q, p90 = common.tail(list(range(1, 101)))
    assert q == 0.90 and p90 == pytest.approx(90.5, abs=0.5)
    assert common.tail(list(range(1, 31)))[0] == 0.50


def test_median_estimate_does_not_jump_when_ranks_swap():
    assert common.percentile([5, 1, 3, 2, 4], 0.5) == pytest.approx(3)
    # a 17-operation pass with a gap at the middle rank: one cheap
    # operation running slower moves the sample median from 634 to 789
    base = [340, 500, 500, 515, 520, 534, 590, 628, 634, 789, 848,
            906, 927, 941, 1110, 1167, 1258]
    slower = sorted(base[:6] + [850] + base[7:])
    assert slower[8] / base[8] > 1.2
    assert common.percentile(slower, 0.5) / common.percentile(base, 0.5) < 1.1
    assert common.percentile(list(range(1, 10001)), 0.9) == pytest.approx(9000.5, rel=1e-3)


def test_self_time_subtracts_the_union_of_child_spans():
    t = common.Tracer(True)
    t.spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": "a"},
        {"id": 1, "name": "build", "start": 1.0, "end": 4.0, "parent": 0, "op": "a"},
        {"id": 2, "name": "inner", "start": 3.0, "end": 5.0, "parent": 0, "op": "a"},
        {"id": 3, "name": "collect", "start": 6.0, "end": 7.0, "parent": 0, "op": "a"},
    ]
    by_id = {s["id"]: s for s in t.self_times()}
    assert by_id[0]["self"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert by_id[1]["self"] == pytest.approx(3.0)


def test_event_log_fold_reads_rolling_files_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
         "Properties": {"spark.jobGroup.id": "p1.q:collect"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 7,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage Infos": [{"Stage ID": 2}],
         "Properties": {"streaming.sql.batchId": "4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    # "events_10" sorts before "events_9" as text; the fold must read the
    # parts in index order or the batch's task precedes its job start
    (d / "events_9_local-1").write_text("\n".join(json.dumps(e) for e in events[:3]))
    (d / "events_10_local-1").write_text(json.dumps(events[3]))
    fold = common.fold_event_log(str(tmp_path))
    assert fold[("group", "p1.q:collect")] == {
        "jobs": 1, "stages": 1, "tasks": 1, "task_ms": 7,
        "shuffle_write_bytes": 100, "spill_bytes": 3}
    assert fold[("batch", "4")]["jobs"] == 1 and fold[("batch", "4")]["tasks"] == 1
