"""Seeded flow-telemetry datagrams and the open-loop UDP generator.

`build(seed, n)` encodes datagram 0..n-1 of a seeded protocol mix: binary
sFlow v5, NetFlow v9 and IPFIX (templates resent periodically), NetFlow v5
and a small share of goflow2-style JSON. Datagram i carries i as its
sequence number, so every stored row can be traced back to the datagram
that carried it. Each datagram comes with the rows the engine must store
for it, in the 22-column `flows` layout of `operators.flows.flow_transform`.

The mix is an assumption, not measured traffic: sFlow dominates datagram
counts on the edge routers goflow2 is usually pointed at, NetFlow v5/v9 and
IPFIX exporters batch many records per datagram, and JSON is the relay
framing.

Run as a program, this module is the generator: one process, one thread.
It encodes every datagram before it is told to start, then serves commands
on stdin, one per line:

    send <first> <count> <rate> <t0>   send datagrams first..first+count-1;
                                       datagram k is due at t0 + k/rate
                                       (rate 0: all due at t0, a burst);
                                       t0 is on the system-wide monotonic
                                       clock, so it is shared with the
                                       process that ingests them
    quit

After each `send` it prints one JSON line with how late the schedule ran.
"""

from __future__ import annotations

import functools
import ipaddress
import json
import random
import socket
import struct
import sys
import time

# share of datagrams per protocol
MIX = (("sflow5", 0.40), ("v5", 0.20), ("v9", 0.20), ("ipfix", 0.15), ("json", 0.05))
PROTOCOLS = tuple(p for p, _ in MIX)
ROWS_PER_DATAGRAM = {"sflow5": 4, "v5": 12, "v9": 10, "ipfix": 10, "json": 1}
TEMPLATE_EVERY = 16        # v9/IPFIX datagrams between template resends
BASE_EPOCH = 1_700_000_000
PEER = "127.0.0.1"         # the generator's address as the listener sees it
# sFlow carries no timestamps: the collector stamps its own receive time
# into these three columns, so they are not compared
SFLOW_CLOCK_COLUMNS = (1, 6, 7)

_V9_FIELDS_V4 = ((8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1), (1, 4),
                 (2, 4), (22, 4), (21, 4), (34, 4), (61, 1), (89, 1),
                 (32, 2), (54, 4), (88, 2))
_V9_FIELDS_V6 = ((27, 16), (28, 16), (7, 2), (11, 2), (4, 1), (6, 1), (1, 4),
                 (2, 4), (22, 4), (21, 4), (34, 4), (61, 1), (89, 1))
_IPFIX_FIELDS = ((8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1), (1, 8),
                 (2, 8), (150, 4), (151, 4), (34, 4), (61, 1), (89, 1),
                 (32, 2))
_V9_TID_V4, _V9_TID_V6, _IPFIX_TID = 256, 257, 300
_UPTIME_MS = 3_600_000
_WELL_KNOWN = (53, 80, 123, 443, 8080)


def _ip4(rng: random.Random, net: int) -> bytes:
    return bytes((10, net, rng.randrange(64), 1 + rng.randrange(250)))


def _ip6(rng: random.Random) -> bytes:
    return ipaddress.IPv6Address(
        (0x2001_0DB8 << 96) | (rng.randrange(16) << 64) | rng.randrange(1, 1 << 16)
    ).packed


@functools.lru_cache(maxsize=1 << 16)
def _ip_str(b: bytes) -> str:
    return str(ipaddress.ip_address(b))


def _flow(rng: random.Random, v6: bool = False) -> dict:
    """One flow record's protocol-independent fields."""
    r = rng.random()
    proto = 6 if r < 0.6 else (17 if r < 0.9 else 1)
    pkts = 1 + rng.randrange(200)
    return {
        "src": _ip6(rng) if v6 else _ip4(rng, 1),
        "dst": _ip6(rng) if v6 else _ip4(rng, 2),
        "proto": proto,
        "sport": 1024 + rng.randrange(64000) if proto != 1 else 0,
        "dport": _WELL_KNOWN[rng.randrange(5)] if proto != 1 else 0,
        "flags": (2 | rng.choice((0, 16, 24))) if proto == 6 else 0,
        "icmp": (rng.choice((0, 3, 8, 11)), rng.randrange(4)) if proto == 1 else (0, 0),
        "pkts": pkts,
        "bytes": pkts * (40 + rng.randrange(1460)),
        "rate": rng.choice((1, 100, 1000)),
        "dir": rng.randrange(2),
        "fwd": 64 if rng.random() < 0.95 else 128,
        "frag_id": rng.randrange(1 << 16),
        "dur": rng.randrange(120),
    }


def _row(ftype, t_recv, seq, rate, direction, sampler, t0, t1, f, etype,
         fwd=0, frag=0, dport=None) -> tuple:
    """A stored `flows` row, in flow_transform's column order."""
    return (ftype, t_recv, seq, rate, direction, sampler, t0, t1,
            f["bytes"], f["pkts"], _ip_str(f["src"]), _ip_str(f["dst"]),
            etype, f["proto"], f["sport"], f["dport"] if dport is None else dport,
            fwd, f["flags"], f["icmp"][0], f["icmp"][1], frag, 0)


def _sflow(seq: int, rng: random.Random) -> tuple[bytes, list[tuple]]:
    agent = bytes((10, 0, 0, 1 + seq % 8))
    samples, rows = b"", []
    for s in range(ROWS_PER_DATAGRAM["sflow5"]):
        v6 = s == 3 and seq % 2 == 0
        f = _flow(rng, v6)
        if v6:
            ip = struct.pack(">IHBB", 0x6000_0000, 20, f["proto"], 64) + f["src"] + f["dst"]
            etype = 0x86DD
        else:
            ip = struct.pack(">BBHHHBBH", 0x45, 0, 40, f["frag_id"], 0, 64,
                             f["proto"], 0) + f["src"] + f["dst"]
            etype = 0x0800
        if f["proto"] == 6:
            l4 = struct.pack(">HHIIBBHHH", f["sport"], f["dport"], 1, 0, 0x50,
                             f["flags"], 1024, 0, 0)
        elif f["proto"] == 17:
            l4 = struct.pack(">HHHH", f["sport"], f["dport"], 8, 0)
        else:
            l4 = struct.pack(">BBHI", f["icmp"][0], f["icmp"][1], 0, 0)
        hdr = b"\x02" * 6 + b"\x04" * 6 + struct.pack(">H", etype) + ip + l4
        frame_len = 64 + rng.randrange(1400)
        rec = struct.pack(">IIII", 1, frame_len, 4, len(hdr)) + hdr
        rec += b"\x00" * (-len(rec) % 4)
        body = struct.pack(">IIIIIIII", s, 3, f["rate"], 10_000, 0, 1, 2, 1)
        body += struct.pack(">II", 1, len(rec)) + rec
        samples += struct.pack(">II", 1, len(body)) + body
        fb = dict(f, bytes=frame_len, pkts=1)
        rows.append(_row(1, None, seq, f["rate"], 0, _ip_str(agent), None, None,
                         fb, etype, frag=0 if v6 else f["frag_id"]))
    head = struct.pack(">II", 5, 1) + agent + struct.pack(
        ">IIII", 0, seq, 100_000, ROWS_PER_DATAGRAM["sflow5"])
    return head + samples, rows


def _v5(seq: int, rng: random.Random) -> tuple[bytes, list[tuple]]:
    unix_secs = BASE_EPOCH + seq // 1000
    sampling = rng.choice((1, 100, 1000))
    recs, rows = b"", []
    for _ in range(ROWS_PER_DATAGRAM["v5"]):
        f = _flow(rng)
        last = _UPTIME_MS - 1000 * rng.randrange(60)
        first = last - 1000 * f["dur"]
        icmp_t, icmp_c = f["icmp"]
        dport = (icmp_t << 8 | icmp_c) if f["proto"] == 1 else f["dport"]
        recs += struct.pack(">4s4s4sHHIIIIHHBBBBHHBBH", f["src"], f["dst"],
                            b"\x00" * 4, 1, 2, f["pkts"], f["bytes"], first,
                            last, f["sport"], dport, 0, f["flags"], f["proto"],
                            0, 0, 0, 24, 24, 0)
        rows.append(_row(2, unix_secs, seq, sampling, 0, PEER,
                         unix_secs - (_UPTIME_MS - first) // 1000,
                         unix_secs - (_UPTIME_MS - last) // 1000, f, 0x0800,
                         dport=0 if f["proto"] == 1 else f["dport"]))
    head = struct.pack(">HHIIIIBBH", 5, ROWS_PER_DATAGRAM["v5"], _UPTIME_MS,
                       unix_secs, 0, seq, 0, 0, sampling)
    return head + recs, rows


def _template_set(set_id: int, tid: int, fields) -> bytes:
    body = struct.pack(">HH", tid, len(fields))
    body += b"".join(struct.pack(">HH", ie, ln) for ie, ln in fields)
    return struct.pack(">HH", set_id, 4 + len(body)) + body


def _v9(seq: int, rng: random.Random, nth: int) -> tuple[bytes, list[tuple]]:
    unix_secs = BASE_EPOCH + seq // 1000
    v6 = nth % 4 == 3
    tid, fields = (_V9_TID_V6, _V9_FIELDS_V6) if v6 else (_V9_TID_V4, _V9_FIELDS_V4)
    sets = b""
    if nth % TEMPLATE_EVERY == 0:
        sets += _template_set(0, _V9_TID_V4, _V9_FIELDS_V4)
        sets += _template_set(0, _V9_TID_V6, _V9_FIELDS_V6)
    data, rows = b"", []
    for _ in range(ROWS_PER_DATAGRAM["v9"]):
        f = _flow(rng, v6)
        last = _UPTIME_MS - 1000 * rng.randrange(60)
        first = last - 1000 * f["dur"]
        icmp = f["icmp"][0] << 8 | f["icmp"][1]
        data += f["src"] + f["dst"] + struct.pack(
            ">HHBBIIIIIBB", f["sport"], f["dport"], f["proto"], f["flags"],
            f["bytes"], f["pkts"], first, last, f["rate"], f["dir"], f["fwd"])
        if not v6:
            data += struct.pack(">HIH", icmp, f["frag_id"], 0)
        else:
            f = dict(f, icmp=(0, 0))
        rows.append(_row(3, unix_secs, seq, f["rate"], f["dir"], PEER,
                         unix_secs - (_UPTIME_MS - first) // 1000,
                         unix_secs - (_UPTIME_MS - last) // 1000, f,
                         0x86DD if v6 else 0x0800, fwd=f["fwd"],
                         frag=0 if v6 else f["frag_id"]))
    sets += struct.pack(">HH", tid, 4 + len(data)) + data
    n_sets = 1 + (2 if nth % TEMPLATE_EVERY == 0 else 0)
    head = struct.pack(">HHIIII", 9, n_sets, _UPTIME_MS, unix_secs, seq, 7)
    return head + sets, rows


def _ipfix(seq: int, rng: random.Random, nth: int) -> tuple[bytes, list[tuple]]:
    export_secs = BASE_EPOCH + seq // 1000
    sets = b""
    if nth % TEMPLATE_EVERY == 0:
        sets += _template_set(2, _IPFIX_TID, _IPFIX_FIELDS)
    data, rows = b"", []
    for _ in range(ROWS_PER_DATAGRAM["ipfix"]):
        f = _flow(rng)
        t1 = export_secs - rng.randrange(60)
        t0 = t1 - f["dur"]
        icmp = f["icmp"][0] << 8 | f["icmp"][1]
        data += f["src"] + f["dst"] + struct.pack(
            ">HHBBQQIIIBBH", f["sport"], f["dport"], f["proto"], f["flags"],
            f["bytes"], f["pkts"], t0, t1, f["rate"], f["dir"], f["fwd"], icmp)
        rows.append(_row(4, export_secs, seq, f["rate"], f["dir"], PEER, t0, t1,
                         f, 0x0800, fwd=f["fwd"]))
    sets += struct.pack(">HH", _IPFIX_TID, 4 + len(data)) + data
    head = struct.pack(">HHIII", 10, 16 + len(sets), export_secs, seq, 11)
    return head + sets, rows


def _json(seq: int, rng: random.Random) -> tuple[bytes, list[tuple]]:
    f = _flow(rng)
    ftype = 1 + rng.randrange(4)
    t_recv = BASE_EPOCH + seq // 1000
    t1 = t_recv - rng.randrange(60)
    sampler = f"10.0.0.{1 + seq % 8}"
    msg = {
        "Type": ftype, "TimeReceived": t_recv, "SequenceNum": seq,
        "SamplingRate": f["rate"], "FlowDirection": f["dir"],
        "SamplerAddress": sampler, "TimeFlowStart": t1 - f["dur"],
        "TimeFlowEnd": t1, "Bytes": f["bytes"], "Packets": f["pkts"],
        "SrcAddr": _ip_str(f["src"]), "DstAddr": _ip_str(f["dst"]),
        "Etype": 0x0800, "Proto": f["proto"], "SrcPort": f["sport"],
        "DstPort": f["dport"], "ForwardingStatus": f["fwd"],
        "TCPFlags": f["flags"], "IcmpType": f["icmp"][0],
        "IcmpCode": f["icmp"][1], "FragmentId": f["frag_id"],
        "FragmentOffset": 0,
    }
    row = _row(ftype, t_recv, seq, f["rate"], f["dir"], sampler, t1 - f["dur"],
               t1, f, 0x0800, fwd=f["fwd"], frag=f["frag_id"])
    return json.dumps(msg).encode(), [row]


def build(seed: int, n: int) -> tuple[list[bytes], list[str], list[list[tuple]]]:
    """Datagrams 0..n-1 of the seeded mix: (payloads, protocol of each,
    expected stored rows of each). The first v9 and IPFIX datagrams carry
    their templates, so no data ever precedes its template."""
    rng = random.Random(seed)
    names = [p for p, _ in MIX]
    weights = [w for _, w in MIX]
    payloads, protos, expected = [], [], []
    nth = {"v9": 0, "ipfix": 0}
    for seq in range(n):
        proto = rng.choices(names, weights)[0]
        if proto == "sflow5":
            p, rows = _sflow(seq, rng)
        elif proto == "v5":
            p, rows = _v5(seq, rng)
        elif proto == "v9":
            p, rows = _v9(seq, rng, nth["v9"])
            nth["v9"] += 1
        elif proto == "ipfix":
            p, rows = _ipfix(seq, rng, nth["ipfix"])
            nth["ipfix"] += 1
        else:
            p, rows = _json(seq, rng)
        payloads.append(p)
        protos.append(proto)
        expected.append(rows)
    return payloads, protos, expected


def comparable(row: tuple, proto: str) -> tuple:
    """`row` with the collector-stamped clock columns blanked when the
    datagram that carried it is sFlow."""
    if proto != "sflow5":
        return tuple(row)
    return tuple(None if i in SFLOW_CLOCK_COLUMNS else v for i, v in enumerate(row))


def _serve(port: int, seed: int, n: int) -> None:
    payloads, _, _ = build(seed, n)
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_SNDBUF, 1 << 22)
    dest = ("127.0.0.1", port)
    print("ready", flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] == "quit":
            break
        first, count, rate, t0 = int(cmd[1]), int(cmd[2]), float(cmd[3]), float(cmd[4])
        late = []
        for k in range(count):
            due = t0 + (k / rate if rate > 0 else 0.0)
            now = time.monotonic()
            if due - now > 0.0002:
                time.sleep(due - now)
                now = time.monotonic()
            sock.sendto(payloads[first + k], dest)
            late.append(max(now - due, 0.0))
        late.sort()
        print(json.dumps({
            "late_p99_ms": 1000 * late[min(len(late) - 1, int(0.99 * len(late)))],
            "late_count": sum(1 for x in late if x > 0.001),
        }), flush=True)
    sock.close()


if __name__ == "__main__":
    _serve(int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]))
