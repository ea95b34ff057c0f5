"""UDP flow source (Spark 4 Python DataSource): datagram decode, the
reader's drain/offset contract, at-most-once replay, and an end-to-end
streaming smoke through the transform."""

from __future__ import annotations

import json
import socket
import struct
import time

import pytest

from goflow2clickhouse_spark.schema import RAW_FLOW_SCHEMA
from goflow2clickhouse_spark.sources.udp import (
    _TYPE_IPFIX,
    _TYPE_NETFLOW_V9,
    _V9_ADDR_FIELDS,
    UDP_FLOW_SCHEMA,
    UdpFlowStreamReader,
    _fields_to_row,
    parse_datagram,
)


def _msg(**over):
    base = {
        "Type": 1, "TimeReceived": 1700000000, "SequenceNum": 7,
        "SamplingRate": 1000, "FlowDirection": 0,
        "SamplerAddress": "10.0.0.1", "TimeFlowStart": 1699999990,
        "TimeFlowEnd": 1700000000, "Bytes": 1234, "Packets": 3,
        "SrcAddr": "192.168.1.5", "DstAddr": "172.16.0.9",
        "Etype": 2048, "Proto": 6, "SrcPort": 51234, "DstPort": 443,
        "ForwardingStatus": 64, "TCPFlags": 18, "IcmpType": 0,
        "IcmpCode": 0, "FragmentId": 0, "FragmentOffset": 0,
    }
    base.update(over)
    return json.dumps(base).encode()


def test_parse_datagram_roundtrip():
    row = parse_datagram(_msg())
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], row))
    assert named["SamplerAddress"] == bytes([10, 0, 0, 1])
    assert named["SrcAddr"] == bytes([192, 168, 1, 5])
    assert named["Bytes"] == 1234 and named["Proto"] == 6


def test_parse_datagram_ipv6_and_defaults():
    row = parse_datagram(_msg(SrcAddr="2001:db8::1", DstPort=None))
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], row))
    assert len(named["SrcAddr"]) == 16
    assert named["DstPort"] == 0


def test_parse_datagram_garbage_dropped():
    assert parse_datagram(b"\x00\x01not json") is None
    assert parse_datagram(b"") is None


def test_parse_datagram_valid_json_non_object_dropped():
    # valid JSON that isn't an object must drop, not crash the source
    assert parse_datagram(b"[1, 2]") is None
    assert parse_datagram(b'"x"') is None
    assert parse_datagram(b"5") is None
    assert parse_datagram(b"null") is None


def test_parse_datagram_non_numeric_fields_dropped():
    assert parse_datagram(_msg(Bytes="abc")) is None
    assert parse_datagram(_msg(Proto={"nested": 1})) is None
    assert parse_datagram(_msg(SrcPort=[443])) is None


def _v5_datagram(records: list[dict], *, sys_uptime=100_000,
                 unix_secs=1_700_000_000, seq=42, sampling=0x4000 | 1000):
    import struct

    head = struct.pack(
        ">HHIIIIBBH", 5, len(records), sys_uptime, unix_secs, 0, seq, 0, 0,
        sampling,
    )
    recs = b""
    for r in records:
        recs += struct.pack(
            ">4s4s4sHHIIIIHHBBBBHHBBH",
            r.get("src", bytes([10, 1, 1, 1])),
            r.get("dst", bytes([10, 2, 2, 2])),
            b"\x00" * 4,
            0, 0,
            r.get("pkts", 10),
            r.get("octets", 5000),
            r.get("first", 90_000),
            r.get("last", 95_000),
            r.get("srcport", 1234),
            r.get("dstport", 443),
            0,
            r.get("tcp_flags", 0x12),
            r.get("proto", 6),
            0, 0, 0, 0, 0, 0,
        )
    return head + recs


def test_decode_netflow_v5_byte_exact():
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    sampler = bytes([192, 0, 2, 9])
    rows = decode_datagram(_v5_datagram([{}, {"proto": 17, "dstport": 53}]),
                           sampler)
    assert len(rows) == 2
    names = [f.name for f in RAW_FLOW_SCHEMA.fields]
    r0 = dict(zip(names, rows[0]))
    assert r0["Type"] == 2  # NETFLOW_V5
    assert r0["TimeReceived"] == 1_700_000_000
    assert r0["SequenceNum"] == 42
    assert r0["SamplingRate"] == 1000  # low 14 bits only
    assert r0["SamplerAddress"] == sampler
    # first=90000ms, uptime=100000ms → flow started 10s before unix_secs
    assert r0["TimeFlowStart"] == 1_700_000_000 - 10
    assert r0["TimeFlowEnd"] == 1_700_000_000 - 5
    assert r0["Bytes"] == 5000 and r0["Packets"] == 10
    assert r0["SrcAddr"] == bytes([10, 1, 1, 1])
    assert r0["DstAddr"] == bytes([10, 2, 2, 2])
    assert r0["Etype"] == 0x0800 and r0["Proto"] == 6
    assert r0["SrcPort"] == 1234 and r0["DstPort"] == 443
    assert r0["TCPFlags"] == 0x12
    r1 = dict(zip(names, rows[1]))
    assert r1["Proto"] == 17 and r1["DstPort"] == 53


def test_decode_netflow_v5_icmp_packing():
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    # proto 1: dst_port carries (type << 8) | code — echo request 8/0
    rows = decode_datagram(
        _v5_datagram([{"proto": 1, "dstport": (8 << 8) | 0}]), b"\x00" * 4)
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["IcmpType"] == 8 and named["IcmpCode"] == 0
    assert named["DstPort"] == 0


def test_decode_netflow_v5_malformed():
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    good = _v5_datagram([{}])
    assert decode_datagram(good[:20], b"\x00" * 4) is None  # short header
    assert decode_datagram(good[:-10], b"\x00" * 4) is None  # truncated rec
    # count says 2 but only 1 record present
    bad_count = bytearray(good)
    bad_count[3] = 2
    assert decode_datagram(bytes(bad_count), b"\x00" * 4) is None
    # JSON framing still dispatches through decode_datagram
    assert decode_datagram(_msg(), b"\x00" * 4) is not None
    assert decode_datagram(b"{broken", b"\x00" * 4) is None


@pytest.fixture()
def reader():
    r = UdpFlowStreamReader({"host": "127.0.0.1", "port": "0"})
    sock = r._socket()  # bind to an ephemeral port
    yield r, sock.getsockname()[1]
    sock.close()


def _send(port: int, payloads: list[bytes]):
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    for p in payloads:
        s.sendto(p, ("127.0.0.1", port))
    s.close()


def test_reader_drain_and_offsets(reader):
    r, port = reader
    assert r.initialOffset() == {"count": 0}
    _send(port, [_msg(SequenceNum=i) for i in range(5)] + [b"junk"])
    time.sleep(0.2)
    rows, off = r.read({"count": 0})
    rows = list(rows)
    # the offset carries the running drop totals to the session
    assert len(rows) == 5
    assert off == {"count": 5, "dropped": {"undecodable": 1}}
    # drained: next read returns nothing, offset advances by 0
    rows2, off2 = r.read(off)
    assert list(rows2) == [] and off2 == off
    # UDP replay is empty by contract (at-most-once, reference parity)
    assert list(r.readBetweenOffsets({"count": 0}, {"count": 5})) == []


def test_reader_mixed_binary_and_json(reader):
    """One drain handles interleaved v5 binary and JSON datagrams; the
    v5 rows carry the sender's address as SamplerAddress; sFlow rows
    carry the in-datagram agent address. The reader hands Spark the
    addresses already formatted (UDP_FLOW_SCHEMA)."""
    r, port = reader
    sflow = _sflow_datagram(
        [(1, _flow_sample([(1, _raw_header_record(_eth_frame()))]))])
    _send(port, [_v5_datagram([{}, {}]), _msg(SequenceNum=9, Type=4),
                 b"[1,2]", sflow])
    time.sleep(0.2)
    rows, off = r.read({"count": 0})
    rows = list(rows)
    assert len(rows) == 4
    assert off == {"count": 4, "dropped": {"undecodable": 1}}
    names = [f.name for f in UDP_FLOW_SCHEMA.fields]
    v5_rows = [dict(zip(names, t)) for t in rows if t[0] == 2]
    assert len(v5_rows) == 2
    assert v5_rows[0]["SamplerAddress"] == "127.0.0.1"
    sflow_rows = [dict(zip(names, t)) for t in rows if t[0] == 1]
    assert len(sflow_rows) == 1
    # sFlow rows carry the datagram's agent address, not the UDP peer
    assert sflow_rows[0]["SamplerAddress"] == "192.0.2.1"
    assert sflow_rows[0]["SrcAddr"] == "1.2.3.4"
    assert r._dropped == 1  # the [1,2] datagram


def _eth_frame(*, etype=0x0800, vlan=False, proto=6, src=bytes([1, 2, 3, 4]),
               dst=bytes([5, 6, 7, 8]), sport=1234, dport=80, tcp_flags=0x12,
               icmp=(0, 0)):
    import struct

    hdr = b"\xaa" * 6 + b"\xbb" * 6
    if vlan:
        hdr += struct.pack(">HH", 0x8100, 100)
    hdr += struct.pack(">H", etype)
    if etype == 0x0800:
        ip = struct.pack(">BBHHHBBH", 0x45, 0, 40, 0x1f2e, 0x2005, 64,
                         proto, 0) + src + dst
        hdr += ip
    elif etype == 0x86DD:
        hdr += struct.pack(">IHBB", 0x60000000, 20, proto, 64) + src + dst
    if proto in (6, 17):
        hdr += struct.pack(">HH", sport, dport)
        if proto == 6:
            hdr += struct.pack(">IIBB", 1, 2, 0x50, tcp_flags) + b"\x00\x00"
    elif proto in (1, 58):
        hdr += bytes(icmp) + b"\x00\x00"
    return hdr


def _sflow_datagram(samples, *, seq=77, agent_v6=False):
    """samples: list of (sample_type, body_bytes)."""
    import struct

    agent = (2, b"\x20\x01" + b"\x00" * 14) if agent_v6 else (1, bytes([192, 0, 2, 1]))
    head = struct.pack(">II", 5, agent[0]) + agent[1] + struct.pack(
        ">IIII", 7, seq, 123456, len(samples))
    body = b""
    for stype, sbody in samples:
        body += struct.pack(">II", stype, len(sbody)) + sbody
    return head + body


def _flow_sample(records, *, rate=512, expanded=False):
    import struct

    if expanded:
        head = struct.pack(">IIIIIIIIII", 9, 0, 3, rate, 10_000, 0, 0, 1, 0, 2)
    else:
        head = struct.pack(">IIIIIII", 9, (0 << 24) | 3, rate, 10_000, 0, 1, 2)
    head += struct.pack(">I", len(records))
    body = head
    for fmt, rec in records:
        body += struct.pack(">II", fmt, len(rec)) + rec
    return body


def _raw_header_record(hdr: bytes, frame_len=1500, hdr_proto=1):
    import struct

    padded = hdr + b"\x00" * ((4 - len(hdr) % 4) % 4)
    return struct.pack(">IIII", hdr_proto, frame_len, 4, len(hdr)) + padded


def test_decode_sflow_v5_flow_sample():
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    hdr = _eth_frame(sport=5555, dport=443, tcp_flags=0x18)
    dgram = _sflow_datagram(
        [(1, _flow_sample([(1, _raw_header_record(hdr, frame_len=900))]))])
    rows = decode_datagram(dgram, bytes([10, 0, 0, 9]), now_s=1_700_000_000)
    assert len(rows) == 1
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["Type"] == 1  # SFLOW_5
    assert named["TimeReceived"] == 1_700_000_000
    assert named["TimeFlowStart"] == named["TimeFlowEnd"] == 1_700_000_000
    assert named["SequenceNum"] == 77
    assert named["SamplingRate"] == 512
    # the sFlow AGENT address (192.0.2.1 in _sflow_datagram), not the
    # UDP peer (10.0.0.9) — goflow parity for relayed/multi-homed
    # exporters
    assert named["SamplerAddress"] == bytes([192, 0, 2, 1])
    assert named["Bytes"] == 900 and named["Packets"] == 1
    assert named["SrcAddr"] == bytes([1, 2, 3, 4])
    assert named["DstAddr"] == bytes([5, 6, 7, 8])
    assert named["Etype"] == 0x0800 and named["Proto"] == 6
    assert named["SrcPort"] == 5555 and named["DstPort"] == 443
    assert named["TCPFlags"] == 0x18
    assert named["FragmentId"] == 0x1f2e
    assert named["FragmentOffset"] == 0x0005  # low 13 bits of 0x2005


def test_decode_sflow_v5_variants():
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    vlan_udp = _eth_frame(vlan=True, proto=17, sport=53, dport=9999)
    v6_icmp = _eth_frame(etype=0x86DD, proto=58, src=b"\x20\x01" + b"\x00" * 14,
                         dst=b"\x20\x02" + b"\x00" * 14, icmp=(128, 0))
    counter_sample = (2, b"\x00" * 20)  # must be skipped, not an error
    dgram = _sflow_datagram([
        counter_sample,
        (1, _flow_sample([(1, _raw_header_record(vlan_udp))])),
        (3, _flow_sample([(1, _raw_header_record(v6_icmp))], expanded=True,
                         rate=2048)),
    ], agent_v6=True)
    rows = decode_datagram(dgram, bytes([10, 1, 1, 1]), now_s=1_700_000_000)
    assert len(rows) == 2
    names = [f.name for f in RAW_FLOW_SCHEMA.fields]
    r_vlan = dict(zip(names, rows[0]))
    assert r_vlan["Etype"] == 0x0800  # inner etype after the VLAN tag
    assert r_vlan["Proto"] == 17
    assert r_vlan["SrcPort"] == 53 and r_vlan["DstPort"] == 9999
    r6 = dict(zip(names, rows[1]))
    assert r6["Etype"] == 0x86DD and r6["Proto"] == 58
    assert len(r6["SrcAddr"]) == 16 and r6["SrcAddr"][:2] == b"\x20\x01"
    assert r6["IcmpType"] == 128 and r6["SamplingRate"] == 2048


def test_decode_sflow_v5_malformed_and_unparseable():
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    good = _sflow_datagram(
        [(1, _flow_sample([(1, _raw_header_record(_eth_frame()))]))])
    assert decode_datagram(good[:20], b"\x00" * 4) is None  # short header
    assert decode_datagram(good[:-6], b"\x00" * 4) is None  # truncated body
    # non-ethernet header protocol: sample skipped, datagram still valid
    ppp = _sflow_datagram(
        [(1, _flow_sample([(1, _raw_header_record(b"\x00" * 20,
                                                  hdr_proto=7))]))])
    assert decode_datagram(ppp, b"\x00" * 4, now_s=1) == []
    # non-IP ethernet frame keeps L2 fields, zeros elsewhere
    arp = _sflow_datagram(
        [(1, _flow_sample([(1, _raw_header_record(
            _eth_frame(etype=0x0806, proto=0)))]))])
    rows = decode_datagram(arp, b"\x00" * 4, now_s=1)
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["Etype"] == 0x0806 and named["Proto"] == 0
    assert named["SrcAddr"] == b"\x00\x00\x00\x00"


def _v9_template(tid, fields, *, source_id=5, seq=900, ts=1_700_000_000):
    import struct

    body = struct.pack(">HH", tid, len(fields))
    for ftype, ln in fields:
        body += struct.pack(">HH", ftype, ln)
    fs = struct.pack(">HH", 0, 4 + len(body)) + body
    head = struct.pack(">HHIIII", 9, 1, 100_000, ts, seq, source_id)
    return head + fs


_V9_FIELDS = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1),
              (1, 4), (2, 4), (22, 4), (21, 4)]


def _v9_data(tid, records, *, source_id=5, seq=901, ts=1_700_000_000):
    import struct

    body = b""
    for r in records:
        body += (r["src"] + r["dst"]
                 + struct.pack(">HHBB", r["sport"], r["dport"],
                               r["proto"], r["flags"])
                 + struct.pack(">IIII", r["bytes"], r["pkts"],
                               r["first"], r["last"]))
    fs = struct.pack(">HH", tid, 4 + len(body)) + body
    head = struct.pack(">HHIIII", 9, len(records), 100_000, ts,
                       seq, source_id)
    return head + fs


def test_netflow_v9_template_then_data():
    from goflow2clickhouse_spark.sources.udp import (
        NetflowV9Decoder,
        decode_datagram,
    )

    v9 = NetflowV9Decoder()
    sampler = bytes([192, 0, 2, 5])
    rec = {"src": bytes([10, 1, 1, 1]), "dst": bytes([10, 2, 2, 2]),
           "sport": 4321, "dport": 53, "proto": 17, "flags": 0,
           "bytes": 7777, "pkts": 9, "first": 90_000, "last": 95_000}

    # data before template: dropped-and-counted, not an error
    assert decode_datagram(_v9_data(300, [rec]), sampler, v9=v9) == []
    assert v9.dropped_no_template == 1

    assert decode_datagram(_v9_template(300, _V9_FIELDS), sampler, v9=v9) == []
    rows = decode_datagram(_v9_data(300, [rec, rec]), sampler, v9=v9)
    assert len(rows) == 2
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["Type"] == 3  # NETFLOW_V9
    assert named["TimeReceived"] == 1_700_000_000
    assert named["SequenceNum"] == 901
    assert named["SamplerAddress"] == sampler
    assert named["TimeFlowStart"] == 1_700_000_000 - 10
    assert named["TimeFlowEnd"] == 1_700_000_000 - 5
    assert named["Bytes"] == 7777 and named["Packets"] == 9
    assert named["SrcAddr"] == bytes([10, 1, 1, 1])
    assert named["DstAddr"] == bytes([10, 2, 2, 2])
    assert named["Etype"] == 0x0800 and named["Proto"] == 17
    assert named["SrcPort"] == 4321 and named["DstPort"] == 53


def test_netflow_v9_template_isolation_and_malformed():
    from goflow2clickhouse_spark.sources.udp import (
        NetflowV9Decoder,
        decode_datagram,
    )

    v9 = NetflowV9Decoder()
    a, b = bytes([10, 0, 0, 1]), bytes([10, 0, 0, 2])
    rec = {"src": b"\x01\x01\x01\x01", "dst": b"\x02\x02\x02\x02",
           "sport": 1, "dport": 2, "proto": 6, "flags": 2,
           "bytes": 10, "pkts": 1, "first": 0, "last": 0}
    decode_datagram(_v9_template(300, _V9_FIELDS), a, v9=v9)
    # same template id from a DIFFERENT exporter: still unknown there
    assert decode_datagram(_v9_data(300, [rec]), b, v9=v9) == []
    assert v9.dropped_no_template == 1
    assert len(decode_datagram(_v9_data(300, [rec]), a, v9=v9)) == 1

    # malformed flowset length → whole datagram rejected
    bad = bytearray(_v9_data(300, [rec]))
    bad[22] = 0xFF  # flowset length far beyond the payload
    assert decode_datagram(bytes(bad), a, v9=v9) is None
    # v9 datagram without a decoder instance: undecodable
    assert decode_datagram(_v9_data(300, [rec]), a) is None


def test_netflow_v9_zero_stride_template_rejected():
    """A template whose field lengths sum to 0 must be rejected at
    ingest — parsing data against it would loop forever on one crafted
    datagram pair."""
    from goflow2clickhouse_spark.sources.udp import (
        NetflowV9Decoder,
        decode_datagram,
    )

    v9 = NetflowV9Decoder()
    s = bytes([10, 0, 0, 4])
    decode_datagram(_v9_template(300, [(8, 0), (4, 0)]), s, v9=v9)
    assert decode_datagram(_v9_data(300, []), s, v9=v9) == []
    assert v9.dropped_no_template == 1  # template was never stored


def test_netflow_v9_ipv6_template():
    from goflow2clickhouse_spark.sources.udp import (
        NetflowV9Decoder,
        decode_datagram,
    )
    import struct

    v9 = NetflowV9Decoder()
    s = bytes([10, 0, 0, 3])
    fields = [(27, 16), (28, 16), (4, 1), (1, 4)]
    decode_datagram(_v9_template(301, fields), s, v9=v9)
    src6 = b"\x20\x01" + b"\x00" * 14
    dst6 = b"\x20\x02" + b"\x00" * 14
    body = src6 + dst6 + struct.pack(">BI", 58, 123)
    fs = struct.pack(">HH", 301, 4 + len(body)) + body
    head = struct.pack(">HHIIII", 9, 1, 0, 1_700_000_000, 7, 5)
    rows = decode_datagram(head + fs, s, v9=v9)
    assert len(rows) == 1
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["Etype"] == 0x86DD
    assert named["SrcAddr"] == src6 and named["DstAddr"] == dst6
    assert named["Proto"] == 58 and named["Bytes"] == 123


def _ipfix_template(tid, fields, *, domain=9, seq=40, enterprise_at=None):
    import struct

    body = struct.pack(">HH", tid, len(fields) + (1 if enterprise_at is not None else 0))
    for i, (ie, ln) in enumerate(fields):
        if enterprise_at == i:
            body += struct.pack(">HHI", 0x8000 | 999, 4, 12345)  # PEN field
        body += struct.pack(">HH", ie, ln)
    sets = struct.pack(">HH", 2, 4 + len(body)) + body
    head = struct.pack(">HHIII", 10, 16 + len(sets), 1_700_000_100, seq, domain)
    return head + sets


def _ipfix_data(tid, payload_bytes, *, domain=9, seq=41):
    import struct

    sets = struct.pack(">HH", tid, 4 + len(payload_bytes)) + payload_bytes
    head = struct.pack(">HHIII", 10, 16 + len(sets), 1_700_000_100, seq, domain)
    return head + sets


def test_ipfix_template_then_data_with_absolute_times():
    import struct

    from goflow2clickhouse_spark.sources.udp import (
        IpfixDecoder,
        decode_datagram,
    )

    ipx = IpfixDecoder()
    s = bytes([203, 0, 113, 7])
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (1, 8), (2, 8),
              (150, 4), (151, 4)]
    assert decode_datagram(_ipfix_template(400, fields), s, ipfix=ipx) == []
    rec = (bytes([172, 16, 0, 1]) + bytes([172, 16, 0, 2])
           + struct.pack(">HHB", 8080, 443, 6)
           + struct.pack(">QQ", 123456, 42)
           + struct.pack(">II", 1_699_999_000, 1_699_999_600))
    rows = decode_datagram(_ipfix_data(400, rec * 2), s, ipfix=ipx)
    assert len(rows) == 2
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["Type"] == 4  # IPFIX
    assert named["TimeReceived"] == 1_700_000_100  # export time, epoch
    assert named["TimeFlowStart"] == 1_699_999_000
    assert named["TimeFlowEnd"] == 1_699_999_600
    assert named["Bytes"] == 123456 and named["Packets"] == 42
    assert named["SrcAddr"] == bytes([172, 16, 0, 1])
    assert named["SrcPort"] == 8080 and named["DstPort"] == 443
    assert named["Proto"] == 6


def test_ipfix_enterprise_fields_and_varlen():
    import struct

    from goflow2clickhouse_spark.sources.udp import (
        IpfixDecoder,
        decode_datagram,
    )

    ipx = IpfixDecoder()
    s = bytes([10, 0, 0, 8])
    # enterprise field (4 bytes) injected before proto: must be skipped
    # but its stride preserved
    fields = [(8, 4), (4, 1)]
    dg = _ipfix_template(401, fields, enterprise_at=1)
    assert decode_datagram(dg, s, ipfix=ipx) == []
    rec = bytes([9, 9, 9, 9]) + b"\xde\xad\xbe\xef" + struct.pack(">B", 17)
    rows = decode_datagram(_ipfix_data(401, rec), s, ipfix=ipx)
    assert len(rows) == 1
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["SrcAddr"] == bytes([9, 9, 9, 9]) and named["Proto"] == 17

    # a variable-length template makes its data sets undecodable
    varlen = _ipfix_template(402, [(8, 4), (95, 0xFFFF)])
    decode_datagram(varlen, s, ipfix=ipx)
    before = ipx.dropped_no_template
    assert decode_datagram(_ipfix_data(402, b"\x00" * 12), s, ipfix=ipx) == []
    assert ipx.dropped_no_template == before + 1


def test_netflow_v9_template_expiry_and_refresh():
    """RFC 3954 §9 lifecycle: an unrefreshed template expires after the
    TTL (measured on the exporters' export clock) and its data drops
    until the exporter re-sends the template."""
    from goflow2clickhouse_spark.sources.udp import (
        NetflowV9Decoder,
        decode_datagram,
    )

    t0 = 1_700_000_000
    v9 = NetflowV9Decoder(template_ttl=600)
    s = bytes([192, 0, 2, 5])
    rec = {"src": bytes([10, 1, 1, 1]), "dst": bytes([10, 2, 2, 2]),
           "sport": 1, "dport": 2, "proto": 17, "flags": 0,
           "bytes": 10, "pkts": 1, "first": 100_000, "last": 100_000}

    decode_datagram(_v9_template(300, _V9_FIELDS, ts=t0), s, v9=v9)
    assert len(decode_datagram(_v9_data(300, [rec], ts=t0), s, v9=v9)) == 1
    # within TTL: still parses
    assert len(decode_datagram(_v9_data(300, [rec], ts=t0 + 600), s, v9=v9)) == 1
    # past TTL: expired → dropped-and-counted
    assert decode_datagram(_v9_data(300, [rec], ts=t0 + 1201), s, v9=v9) == []
    assert v9.expired_templates == 1 and v9.dropped_no_template == 1
    # periodic re-send refreshes the slot
    decode_datagram(_v9_template(300, _V9_FIELDS, ts=t0 + 1201), s, v9=v9)
    assert len(decode_datagram(_v9_data(300, [rec], ts=t0 + 1202), s, v9=v9)) == 1


def _v9_options_template(tid, *, source_id=5, seq=910, ts=1_700_000_000):
    import struct

    # RFC 3954 §6.1: tid, scope LENGTH in bytes, option LENGTH in bytes
    body = struct.pack(">HHH", tid, 4, 4)
    body += struct.pack(">HH", 1, 4)    # scope: System, 4 bytes
    body += struct.pack(">HH", 34, 4)   # option: samplingInterval
    fs = struct.pack(">HH", 1, 4 + len(body)) + body
    head = struct.pack(">HHIIII", 9, 1, 100_000, ts, seq, source_id)
    return head + fs


def test_netflow_v9_options_sampling_rate():
    """Options-template DATA is consumed as metadata: counted, never
    emitted as flow rows, and its samplingInterval becomes the default
    SamplingRate for flow records that do not export IE 34."""
    import struct

    from goflow2clickhouse_spark.sources.udp import (
        NetflowV9Decoder,
        decode_datagram,
    )

    v9 = NetflowV9Decoder()
    s = bytes([192, 0, 2, 5])
    decode_datagram(_v9_options_template(400), s, v9=v9)
    # options data: scope value + rate 512 — produces NO flow rows
    opt_data = struct.pack(">HHIIII", 9, 1, 100_000, 1_700_000_000, 911, 5)
    opt_rec = struct.pack(">II", 1, 512)
    opt_data += struct.pack(">HH", 400, 4 + len(opt_rec)) + opt_rec
    assert decode_datagram(opt_data, s, v9=v9) == []
    assert v9.options_records == 1 and v9.dropped_no_template == 0

    decode_datagram(_v9_template(300, _V9_FIELDS), s, v9=v9)
    rec = {"src": bytes([10, 1, 1, 1]), "dst": bytes([10, 2, 2, 2]),
           "sport": 1, "dport": 2, "proto": 17, "flags": 0,
           "bytes": 10, "pkts": 1, "first": 100_000, "last": 100_000}
    rows = decode_datagram(_v9_data(300, [rec]), s, v9=v9)
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["SamplingRate"] == 512


def test_ipfix_template_expiry_and_options_rate():
    """IPFIX-over-UDP lifecycle (RFC 7011 §8.4): TTL expiry + options
    sampling metadata, mirroring the v9 decoder."""
    import struct

    from goflow2clickhouse_spark.sources.udp import (
        IpfixDecoder,
        decode_datagram,
    )

    t0 = 1_700_000_100
    ipx = IpfixDecoder(template_ttl=600)
    s = bytes([203, 0, 113, 7])
    fields = [(8, 4), (4, 1)]
    rec = bytes([9, 9, 9, 9]) + struct.pack(">B", 17)

    def ipfix_at(sets, ts):
        return struct.pack(">HHIII", 10, 16 + len(sets), ts, 1, 9) + sets

    tmpl_body = struct.pack(">HH", 500, 2) + struct.pack(">HHHH", 8, 4, 4, 1)
    tmpl = struct.pack(">HH", 2, 4 + len(tmpl_body)) + tmpl_body
    data = struct.pack(">HH", 500, 4 + len(rec)) + rec

    decode_datagram(ipfix_at(tmpl, t0), s, ipfix=ipx)
    assert len(decode_datagram(ipfix_at(data, t0), s, ipfix=ipx)) == 1
    assert decode_datagram(ipfix_at(data, t0 + 601), s, ipfix=ipx) == []
    assert ipx.expired_templates == 1 and ipx.dropped_no_template == 1
    decode_datagram(ipfix_at(tmpl, t0 + 601), s, ipfix=ipx)
    assert len(decode_datagram(ipfix_at(data, t0 + 602), s, ipfix=ipx)) == 1

    # options template (set id 3): scope count 1, fields = scope IE 1
    # + samplingPacketInterval IE 305
    ot_body = struct.pack(">HHH", 600, 2, 1)
    ot_body += struct.pack(">HH", 1, 4) + struct.pack(">HH", 305, 4)
    ot = struct.pack(">HH", 3, 4 + len(ot_body)) + ot_body
    od_rec = struct.pack(">II", 1, 1024)
    od = struct.pack(">HH", 600, 4 + len(od_rec)) + od_rec
    assert decode_datagram(ipfix_at(ot, t0 + 602), s, ipfix=ipx) == []
    assert decode_datagram(ipfix_at(od, t0 + 602), s, ipfix=ipx) == []
    assert ipx.options_records == 1
    rows = decode_datagram(ipfix_at(data, t0 + 603), s, ipfix=ipx)
    named = dict(zip([f.name for f in RAW_FLOW_SCHEMA.fields], rows[0]))
    assert named["SamplingRate"] == 1024


def test_ipfix_length_below_header_is_undecodable(reader):
    """IPFIX's Length field counts its own 16-byte header, so a smaller
    Length is malformed: the datagram must come back undecodable and be
    counted, not decode to no rows and drop the sets it carries
    uncounted."""
    r, port = reader
    fields = [(8, 4), (4, 1)]
    rec = bytes([9, 9, 9, 9]) + struct.pack(">B", 17)
    data = _ipfix_data(403, rec)
    _send(port, [_ipfix_template(403, fields), data]
          + [data[:2] + struct.pack(">H", n) + data[4:] for n in (0, 8, 15)])
    time.sleep(0.2)
    rows, off = r.read({"count": 0})
    assert len(list(rows)) == 1
    assert off == {"count": 1, "dropped": {"undecodable": 3}}


def test_netflow_v9_through_reader(reader):
    """Template state lives on the reader: template datagram in one
    drain, data in a later one."""
    r, port = reader
    _send(port, [_v9_template(300, _V9_FIELDS)])
    time.sleep(0.2)
    rows, off = r.read({"count": 0})
    assert list(rows) == []
    rec = {"src": bytes([1, 1, 1, 1]), "dst": bytes([2, 2, 2, 2]),
           "sport": 80, "dport": 443, "proto": 6, "flags": 0x10,
           "bytes": 64, "pkts": 1, "first": 0, "last": 0}
    _send(port, [_v9_data(300, [rec])])
    time.sleep(0.2)
    rows, off = r.read(off)
    rows = list(rows)
    assert len(rows) == 1 and rows[0][0] == 3
    assert r._dropped == 0


# Frozen reference for the differential test below: NetFlow v9 and IPFIX
# as two separate decoder classes, the design before the two were merged
# into one template-flow decoder. Kept as they were, less their
# comments; do not fix or refactor.
class _RefNetflowV9Decoder:
    def __init__(self, template_ttl=1800):
        self._templates = {}
        self._options = {}
        self._sampling = {}
        self._ttl = template_ttl
        self.dropped_no_template = 0
        self.expired_templates = 0
        self.options_records = 0

    def _live(self, cache, key, now):
        ent = cache.get(key)
        if ent is None:
            return None
        fields, at = ent
        if self._ttl is not None and now - at > self._ttl:
            del cache[key]
            self.expired_templates += 1
            return None
        return fields

    def decode(self, payload, sampler):
        try:
            if len(payload) < 20:
                return None
            version, _count, sys_uptime, unix_secs, seq, source_id = \
                struct.unpack_from(">HHIIII", payload, 0)
            if version != 9:
                return None
            rows = []
            off = 20
            while off + 4 <= len(payload):
                fs_id, fs_len = struct.unpack_from(">HH", payload, off)
                if fs_len < 4 or off + fs_len > len(payload):
                    return None
                body, body_end = off + 4, off + fs_len
                off += fs_len
                if fs_id == 0:
                    self._ingest_templates(payload, body, body_end,
                                           sampler, source_id, unix_secs)
                elif fs_id == 1:
                    self._ingest_options(payload, body, body_end,
                                         sampler, source_id, unix_secs)
                elif fs_id >= 256:
                    key = (sampler, source_id, fs_id)
                    opt = self._live(self._options, key, unix_secs)
                    if opt is not None:
                        self._consume_options_data(
                            payload, body, body_end, opt, sampler, source_id)
                        continue
                    tmpl = self._live(self._templates, key, unix_secs)
                    if tmpl is None:
                        self.dropped_no_template += 1
                        continue
                    rows.extend(self._parse_data(
                        payload, body, body_end, tmpl, sampler, source_id,
                        sys_uptime, unix_secs, seq))
            return rows
        except struct.error:
            return None

    def _ingest_templates(self, payload, p, end, sampler, source_id, now):
        while p + 4 <= end:
            tid, n_fields = struct.unpack_from(">HH", payload, p)
            p += 4
            if p + n_fields * 4 > end:
                return
            fields = [
                struct.unpack_from(">HH", payload, p + i * 4)
                for i in range(n_fields)
            ]
            p += n_fields * 4
            if tid >= 256 and fields and sum(ln for _, ln in fields) > 0:
                self._templates[(sampler, source_id, tid)] = (fields, now)

    def _ingest_options(self, payload, p, end, sampler, source_id, now):
        while p + 6 <= end:
            tid, scope_len, opt_len = struct.unpack_from(">HHH", payload, p)
            p += 6
            if scope_len % 4 or opt_len % 4 or p + scope_len + opt_len > end:
                return
            fields = [
                struct.unpack_from(">HH", payload, p + i * 4)
                for i in range((scope_len + opt_len) // 4)
            ]
            p += scope_len + opt_len
            if tid >= 256 and fields and sum(ln for _, ln in fields) > 0:
                self._options[(sampler, source_id, tid)] = (fields, now)

    def _consume_options_data(self, payload, p, end, fields, sampler,
                              source_id):
        rec_len = sum(ln for _, ln in fields)
        while rec_len > 0 and p + rec_len <= end:
            f = {}
            for ftype, ln in fields:
                f[ftype] = int.from_bytes(payload[p:p + ln], "big")
                p += ln
            self.options_records += 1
            rate = f.get(34) or f.get(305)
            if rate:
                self._sampling[(sampler, source_id)] = rate

    def _parse_data(self, payload, p, end, tmpl, sampler, source_id,
                    sys_uptime, unix_secs, seq):
        rec_len = sum(ln for _, ln in tmpl)
        default_rate = self._sampling.get((sampler, source_id), 0)
        rows = []
        while rec_len > 0 and p + rec_len <= end:
            f = {}
            for ftype, ln in tmpl:
                raw = payload[p:p + ln]
                if ftype is not None:
                    f[ftype] = raw if ftype in _V9_ADDR_FIELDS else \
                        int.from_bytes(raw, "big")
                p += ln
            first, last = f.get(22), f.get(21)
            t_start = (unix_secs - ((sys_uptime - first) % 2**32) // 1000
                       if first is not None else unix_secs)
            t_end = (unix_secs - ((sys_uptime - last) % 2**32) // 1000
                     if last is not None else unix_secs)
            rows.append(_fields_to_row(
                f, _TYPE_NETFLOW_V9, unix_secs, seq, sampler, t_start, t_end,
                default_rate))
        return rows


class _RefIpfixDecoder:
    def __init__(self, template_ttl=1800):
        self._templates = {}
        self._options = {}
        self._sampling = {}
        self._ttl = template_ttl
        self.dropped_no_template = 0
        self.expired_templates = 0
        self.options_records = 0

    _live = _RefNetflowV9Decoder._live

    def decode(self, payload, sampler):
        try:
            if len(payload) < 16:
                return None
            version, total_len, export_secs, seq, domain = \
                struct.unpack_from(">HHIII", payload, 0)
            if version != 10:
                return None
            end_all = min(total_len, len(payload))
            rows = []
            off = 16
            while off + 4 <= end_all:
                set_id, set_len = struct.unpack_from(">HH", payload, off)
                if set_len < 4 or off + set_len > end_all:
                    return None
                body, body_end = off + 4, off + set_len
                off += set_len
                if set_id == 2:
                    self._ingest_templates(payload, body, body_end,
                                           sampler, domain, export_secs,
                                           options=False)
                elif set_id == 3:
                    self._ingest_templates(payload, body, body_end,
                                           sampler, domain, export_secs,
                                           options=True)
                elif set_id >= 256:
                    key = (sampler, domain, set_id)
                    opt = self._live(self._options, key, export_secs)
                    if opt is not None:
                        if not any(ln == 0xFFFF for _, ln in opt):
                            self._consume_options_data(
                                payload, body, body_end, opt, sampler, domain)
                        continue
                    tmpl = self._live(self._templates, key, export_secs)
                    if tmpl is None or any(ln == 0xFFFF for _, ln in tmpl):
                        self.dropped_no_template += 1
                        continue
                    rows.extend(self._parse_data(
                        payload, body, body_end, tmpl, sampler, domain,
                        export_secs, seq))
            return rows
        except struct.error:
            return None

    def _ingest_templates(self, payload, p, end, sampler, domain, now,
                          options=False):
        head = 6 if options else 4
        while p + head <= end:
            if options:
                tid, n_fields, _scope_n = struct.unpack_from(">HHH", payload, p)
            else:
                tid, n_fields = struct.unpack_from(">HH", payload, p)
            p += head
            fields = []
            ok = True
            for _ in range(n_fields):
                if p + 4 > end:
                    ok = False
                    break
                ie, ln = struct.unpack_from(">HH", payload, p)
                p += 4
                if ie & 0x8000:
                    if p + 4 > end:
                        ok = False
                        break
                    p += 4
                    fields.append((None, ln))
                else:
                    fields.append((ie, ln))
            if ok and tid >= 256 and fields and sum(ln for _, ln in fields) > 0:
                cache = self._options if options else self._templates
                cache[(sampler, domain, tid)] = (fields, now)

    def _consume_options_data(self, payload, p, end, fields, sampler,
                              domain):
        rec_len = sum(ln for _, ln in fields)
        while rec_len > 0 and p + rec_len <= end:
            f = {}
            for ftype, ln in fields:
                if ftype is not None:
                    f[ftype] = int.from_bytes(payload[p:p + ln], "big")
                p += ln
            self.options_records += 1
            rate = f.get(34) or f.get(305)
            if rate:
                self._sampling[(sampler, domain)] = rate

    def _parse_data(self, payload, p, end, tmpl, sampler, domain,
                    export_secs, seq):
        rec_len = sum(ln for _, ln in tmpl)
        default_rate = self._sampling.get((sampler, domain), 0)
        rows = []
        while rec_len > 0 and p + rec_len <= end:
            f = {}
            for ftype, ln in tmpl:
                raw = payload[p:p + ln]
                if ftype is not None:
                    f[ftype] = raw if ftype in _V9_ADDR_FIELDS else \
                        int.from_bytes(raw, "big")
                p += ln
            if 150 in f or 151 in f:
                t_start = f.get(150, export_secs)
                t_end = f.get(151, t_start)
            elif 152 in f or 153 in f:
                t_start = f.get(152, export_secs * 1000) // 1000
                t_end = f.get(153, f.get(152, export_secs * 1000)) // 1000
            else:
                t_start = t_end = export_secs
            rows.append(_fields_to_row(
                f, _TYPE_IPFIX, export_secs, seq, sampler, t_start, t_end,
                default_rate))
        return rows


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HYPOTHESIS = False


if _HYPOTHESIS:

    @given(st.binary(max_size=4096))
    @settings(max_examples=300, deadline=None)
    def test_decode_datagram_never_raises(payload):
        """The log-and-drop contract, adversarially: NO datagram —
        random bytes, truncated headers, lying length fields — may
        crash the source. Every outcome is rows or None."""
        from goflow2clickhouse_spark.sources.udp import (
            IpfixDecoder,
            NetflowV9Decoder,
            decode_datagram,
        )

        out = decode_datagram(payload, b"\x7f\x00\x00\x01", now_s=1,
                              v9=NetflowV9Decoder(), ipfix=IpfixDecoder())
        assert out is None or isinstance(out, list)
        for row in out or []:
            assert len(row) == len(RAW_FLOW_SCHEMA.fields)

    @given(st.binary(max_size=2048))
    @settings(max_examples=200, deadline=None)
    def test_decode_binary_prefixed_never_raises(payload):
        """Same, but steered into the binary decoders: valid version
        tags followed by arbitrary bytes."""
        from goflow2clickhouse_spark.sources.udp import (
            IpfixDecoder,
            NetflowV9Decoder,
            decode_datagram,
        )

        for tag in (b"\x00\x05", b"\x00\x09", b"\x00\x0a",
                    b"\x00\x00\x00\x05"):
            out = decode_datagram(tag + payload, b"\x0a\x00\x00\x01",
                                  now_s=1, v9=NetflowV9Decoder(),
                                  ipfix=IpfixDecoder())
            assert out is None or isinstance(out, list)


    # Field ids the row mapping reads (addresses, counters, both flow-time
    # rules, sampling), plus one nobody reads; lengths include 0 and
    # 0xFFFF (IPFIX's variable length, a 64 KiB field to v9).
    _DIFF_IES = [1, 2, 4, 6, 7, 8, 11, 12, 21, 22, 27, 28, 32, 34, 54, 61,
                 88, 89, 150, 151, 152, 153, 305, 999]
    _DIFF_LENS = [1, 2, 4, 4, 4, 8, 16] * 2 + [0, 0xFFFF]
    _DIFF_TIDS = [255, 256, 300]

    @st.composite
    def _template_record(draw, ipfix, options):
        """One template or options-template record: header, then field
        specifiers; the claimed field count or byte lengths may lie."""
        tid = draw(st.sampled_from(_DIFF_TIDS))
        zero_stride = draw(st.integers(0, 9)) == 0
        specs = []
        for _ in range(draw(st.sampled_from([0, 1, 2, 3, 4, 5]))):
            ie = draw(st.sampled_from(_DIFF_IES))
            if draw(st.integers(0, 4)) == 0:
                ie |= 0x8000  # enterprise bit; only IPFIX adds a number
            ln = 0 if zero_stride else draw(st.sampled_from(_DIFF_LENS))
            spec = struct.pack(">HH", ie, ln)
            if ipfix and ie & 0x8000:
                spec += struct.pack(">I", draw(st.integers(0, 2**32 - 1)))
            specs.append(spec)
        n = len(specs) + draw(st.sampled_from([0] * 8 + [1, 3]))
        scope = draw(st.integers(0, n))
        if not options:
            head = struct.pack(">HH", tid, n)
        elif ipfix:
            head = struct.pack(">HHH", tid, n, scope)
        else:  # v9: scope and option lengths in bytes, maybe not 4-aligned
            skew = draw(st.sampled_from([0] * 8 + [1, 2]))
            head = struct.pack(">HHH", tid, 4 * scope + skew,
                               4 * (n - scope))
        return head + b"".join(specs)

    @st.composite
    def _flow_set(draw, ipfix):
        """One set: templates, options templates, data for a template id
        (random bytes, so records may be short), or an id no decoder
        uses; bodies may be cut short, and the set length may lie."""
        t_set, o_set = (2, 3) if ipfix else (0, 1)
        kind = draw(st.sampled_from(["t", "t", "t", "o", "d", "d", "d", "x"]))
        if kind in ("t", "o"):
            set_id = t_set if kind == "t" else o_set
            body = b"".join(draw(st.lists(
                _template_record(ipfix, kind == "o"), min_size=1,
                max_size=3)))
            if draw(st.integers(0, 3)) == 0:
                body = body[:draw(st.integers(0, len(body)))]
        elif kind == "d":
            set_id = draw(st.sampled_from(_DIFF_TIDS[1:]))
            size = draw(st.sampled_from([0, 3, 8, 16, 24, 32, 48, 64, 96]))
            body = draw(st.binary(min_size=size, max_size=size))
        else:
            set_id = draw(st.sampled_from([0, 1, 2, 3, 4, 255]))
            body = draw(st.binary(max_size=32))
        lie = draw(st.sampled_from([0] * 30 + [1, 200]))
        return struct.pack(">HH", set_id, 4 + len(body) + lie) + body

    @st.composite
    def _datagram_run(draw):
        """A run of v9 or IPFIX datagrams from two exporters whose export
        clocks advance by steps that cross the 60 s template TTL."""
        ipfix = draw(st.booleans())
        t, run = 1_700_000_000, []
        for _ in range(draw(st.integers(1, 8))):
            t += draw(st.sampled_from([0, 0, 0, 1, 30, 61, 200, -5]))
            sets = b"".join(draw(st.lists(_flow_set(ipfix), min_size=1,
                                                  max_size=4)))
            seq = draw(st.integers(0, 2**32 - 1))
            sampler, domain = draw(st.sampled_from(
                [(b"\x0a\x00\x00\x01", 0)] * 3 + [(b"\x0a\x00\x00\x02", 9)]))
            if ipfix:
                head = struct.pack(">HHIII", 10, 16 + len(sets), t, seq,
                                   domain)
            else:
                uptime = draw(st.sampled_from([0, 100_000, 2**32 - 1]))
                head = struct.pack(">HHIIII", 9, draw(st.integers(0, 3)),
                                   uptime, t, seq, domain)
            run.append((head + sets, sampler))
        return ipfix, run

    @given(_datagram_run())
    @settings(max_examples=300, deadline=None)
    def test_template_decoders_match_the_two_class_reference(case):
        """Differential: the NetFlow v9 and IPFIX decoders return the
        same rows and counters, datagram by datagram, as the frozen
        two-class reference above."""
        from goflow2clickhouse_spark.sources.udp import (
            IpfixDecoder,
            NetflowV9Decoder,
        )

        ipfix, run = case
        new, ref = ((IpfixDecoder(60), _RefIpfixDecoder(60)) if ipfix
                    else (NetflowV9Decoder(60), _RefNetflowV9Decoder(60)))
        for payload, sampler in run:
            assert new.decode(payload, sampler) == ref.decode(payload,
                                                               sampler)
            assert ((new.dropped_no_template, new.expired_templates,
                     new.options_records)
                    == (ref.dropped_no_template, ref.expired_templates,
                        ref.options_records))


def test_reuseport_two_listeners_share_port():
    """-workers parity: with reuseport=true two readers bind the SAME
    port and the kernel spreads datagrams between them; fan-in of both
    streams sees every datagram exactly once."""
    rcvbuf = str(4 * 1024 * 1024)
    r1 = UdpFlowStreamReader(
        {"host": "127.0.0.1", "port": "0", "reuseport": "true",
         "rcvbuf": rcvbuf})
    s1 = r1._socket()
    port = s1.getsockname()[1]
    r2 = UdpFlowStreamReader(
        {"host": "127.0.0.1", "port": str(port), "reuseport": "true",
         "rcvbuf": rcvbuf})
    s2 = r2._socket()
    try:
        n = 200
        # several sender sockets: the kernel spreads per 4-tuple, so a
        # single sender would land entirely on one listener
        for base in range(0, n, 50):
            _send(port, [_msg(SequenceNum=i) for i in range(base, base + 50)])
        time.sleep(0.3)
        rows1 = list(r1.read({"count": 0})[0])
        rows2 = list(r2.read({"count": 0})[0])
        seqs = sorted(t[2] for t in rows1 + rows2)
        assert seqs == list(range(n))  # all delivered, none duplicated
    finally:
        s1.close()
        s2.close()


def test_udp_drain_rate_floor(reader):
    """The driver-drain ceiling (README 'UDP ingest throughput'): the
    single-socket reader must clear the reference's implied >=1,000
    rows/s floor with a wide margin. Local measurements: ~45k rows/s
    JSON decode, ~1.27M rows/s binary v5 decode, ~15k rows/s
    socket-to-rows end-to-end; thresholds here are set several times
    lower to stay robust under CI load."""
    import threading

    r, port = reader
    r.max_per_batch = 1_000_000
    sock = r._socket()
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 8 * 1024 * 1024)
    n_dgrams = 5_000
    payload = _msg()

    def send():
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        for _ in range(n_dgrams):
            s.sendto(payload, ("127.0.0.1", port))
        s.close()

    th = threading.Thread(target=send)
    t0 = time.perf_counter()
    th.start()
    total, idle = 0, 0
    while idle < 20 and time.perf_counter() - t0 < 30:
        rows, _ = r.read({"count": total})
        n = len(list(rows))
        total += n
        if n == 0:
            idle += 1
            time.sleep(0.01)
        else:
            idle = 0
    elapsed = time.perf_counter() - t0
    th.join()
    assert total >= n_dgrams * 0.9, f"lost {n_dgrams - total} datagrams"
    rate = total / elapsed
    assert rate >= 2_000, f"drain rate {rate:,.0f} rows/s below floor"


def test_v9_decode_rate_floor():
    """Template-based decode is pure-Python per field — keep it above
    the reference's implied ingest floor with headroom, for NetFlow v9
    and IPFIX alike (one record loop serves both)."""
    from goflow2clickhouse_spark.sources.udp import (
        IpfixDecoder,
        NetflowV9Decoder,
        decode_datagram,
    )

    s = bytes([10, 0, 0, 1])
    rec = {"src": bytes([1, 1, 1, 1]), "dst": bytes([2, 2, 2, 2]),
           "sport": 80, "dport": 443, "proto": 6, "flags": 0x10,
           "bytes": 64, "pkts": 1, "first": 0, "last": 0}
    v9_data = _v9_data(300, [rec] * 20)
    # the same 10-field template and records, framed as IPFIX
    ipfix_data = _ipfix_data(300, v9_data[24:])
    for name, dec, template, dgram in (
        ("v9", {"v9": NetflowV9Decoder()}, _v9_template(300, _V9_FIELDS),
         v9_data),
        ("ipfix", {"ipfix": IpfixDecoder()},
         _ipfix_template(300, _V9_FIELDS), ipfix_data),
    ):
        decode_datagram(template, s, **dec)
        assert len(decode_datagram(dgram, s, **dec)) == 20
        n_iter = 500
        t0 = time.perf_counter()
        for _ in range(n_iter):
            decode_datagram(dgram, s, **dec)
        rate = n_iter * 20 / (time.perf_counter() - t0)
        assert rate >= 50_000, f"{name} decode {rate:,.0f} rows/s below floor"


def test_v5_decode_rate_floor():
    """Binary v5 decode is the hot loop for netflow:// — keep it fast
    enough that a single driver socket can absorb a busy exporter."""
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    dgram = _v5_datagram([{} for _ in range(30)])
    n_iter = 1_000
    t0 = time.perf_counter()
    for _ in range(n_iter):
        decode_datagram(dgram, b"\x7f\x00\x00\x01")
    rate = n_iter * 30 / (time.perf_counter() - t0)
    assert rate >= 100_000, f"v5 decode {rate:,.0f} rows/s below floor"


def test_udp_stream_end_to_end(spark, tmp_path):
    """readStream.format('udp_flows') → flow_transform → memory sink."""
    from goflow2clickhouse_spark.operators.flows import flow_transform
    from goflow2clickhouse_spark.sources.udp import UdpFlowDataSource

    spark.dataSource.register(UdpFlowDataSource)
    # pick a free UDP port
    probe = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()

    raw = (
        spark.readStream.format("udp_flows")
        .option("host", "127.0.0.1")
        .option("port", str(port))
        .load()
    )
    q = (
        flow_transform(raw)
        .writeStream.format("memory")
        .queryName("udp_e2e")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            _send(port, [_msg(SequenceNum=i, Bytes=100 + i) for i in range(3)])
            time.sleep(1.0)
            rows = spark.table("udp_e2e").collect()
            if rows:
                break
        assert rows, "no rows arrived over UDP within deadline"
        assert rows[0].sampler_address == "10.0.0.1"
        assert rows[0].src_addr == "192.168.1.5"
    finally:
        q.stop()


def test_parse_datagram_rejects_non_integral_numerics():
    """Transport parity (r7 advice): the jsonl/Kafka path parses every
    field as a string and try_casts to long, so "1.5"/"true" drop
    there; int(1.5) here silently truncated and INGESTED the same
    message on UDP. Both transports must drop identically."""
    assert parse_datagram(_msg(Bytes=1.5)) is None
    assert parse_datagram(_msg(Bytes=1.0)) is None  # "1.0" fails try_cast too
    assert parse_datagram(_msg(Packets=True)) is None
    # plain integers (and quoted integers) still ingest
    assert parse_datagram(_msg(Bytes=7)) is not None
    assert parse_datagram(_msg(Bytes="7")) is not None


def test_parse_datagram_bool_address_matches_stream_fallback():
    """bool is an int subclass, so ip_address(True) would yield 0.0.0.1
    on UDP while the stream path's _parse_ip_string("true") falls back
    to zeros — the same message must decode identically (r7 review)."""
    from goflow2clickhouse_spark.functions.ip import _parse_ip_string
    from goflow2clickhouse_spark.schema import RAW_FLOW_SCHEMA

    i = [f.name for f in RAW_FLOW_SCHEMA.fields].index("SamplerAddress")
    row = parse_datagram(_msg(SamplerAddress=True))
    assert row is not None
    assert row[i] == _parse_ip_string("true") == b"\x00\x00\x00\x00"


def test_parse_datagram_rejects_out_of_int64_numerics():
    """An int outside int64 would crash the stream at Arrow conversion
    (never-crash contract) while the jsonl/Kafka twin try_casts it to
    NULL and drops — both transports must drop (r7 review)."""
    assert parse_datagram(_msg(Bytes=1 << 70)) is None
    assert parse_datagram(_msg(Bytes=str(1 << 70))) is None
    assert parse_datagram(_msg(Bytes=-(1 << 70))) is None
    assert parse_datagram(_msg(Bytes=(1 << 63) - 1)) is not None


def test_decode_netflow_v5_uptime_wraparound():
    """The 32-bit sys_uptime counter wraps every ~49.7 days: a record
    whose first/last timestamps predate the wrap while the header
    postdates it must still anchor the flow in the PAST — the unsigned
    raw subtraction placed it ~49.7 days in the future (r8 review)."""
    from goflow2clickhouse_spark.sources.udp import decode_datagram

    # header uptime just past the wrap; flow started 100s before it
    # (i.e. pre-wrap, at 2^32 - 80000 ms)
    wrap = 2**32
    rows = decode_datagram(
        _v5_datagram(
            [{"first": wrap - 80_000, "last": wrap - 75_000}],
            sys_uptime=20_000, unix_secs=1_700_000_000,
        ),
        bytes([192, 0, 2, 9]),
    )
    names = [f.name for f in RAW_FLOW_SCHEMA.fields]
    r = dict(zip(names, rows[0]))
    assert r["TimeFlowStart"] == 1_700_000_000 - 100
    assert r["TimeFlowEnd"] == 1_700_000_000 - 95
    # and both stay in the past, never ~49.7 days in the future
    assert r["TimeFlowStart"] <= r["TimeReceived"]


def test_udp_listener_rejects_ipv6_spec():
    """`[::1]:2055` used to split at the FIRST colon and die with an
    opaque int() failure in the data-source worker; the AF_INET-only
    listener must refuse IPv6 loudly and early (r8 review)."""
    import pytest as _pytest

    from goflow2clickhouse_spark.sources.streaming import (
        SourceSpec,
        open_stream,
    )

    for target in ("[::1]:2055", "::1:2055"):
        with _pytest.raises(ValueError, match="IPv6"):
            open_stream(None, SourceSpec("udp", target))
