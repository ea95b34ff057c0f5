"""UDP streaming source via the Spark 4 Python DataSource API — the
engine's native stand-in for the reference's UDP listeners
(/root/reference/main.go:226-240: sFlow/NetFlow sockets with decode
inside the goflow library).

Wire formats (auto-dispatched per datagram, decode_datagram):
- binary sFlow v5 — flow samples (plain + expanded) carrying raw
  packet-header records, with the ethernet/VLAN/IPv4/IPv6/TCP/UDP/ICMP
  header walk done in-process (main.go:226-229 parity; format spec is
  public at sflow.org/sflow_version_5.txt). Counter samples and
  non-raw-header records are skipped, exactly the subset the reference
  inserts;
- binary NetFlow v5 — fixed 24-byte header + 48-byte records, decoded
  in-process (main.go:236-240 parity; the format is fixed so no
  template state is needed);
- binary NetFlow v9 (RFC 3954) and IPFIX (RFC 7011) — template + data
  flowsets/sets with a per-listener template cache (main.go:231-235
  parity); data that arrives before its template is dropped-and-counted
  per the protocol;
- one JSON object per datagram with the goflow2-style field names of
  the raw FlowMessage (Type, TimeReceived, SamplerAddress as a
  dotted/colon IP string, ...) — the relay framing, kept as fallback.

Delivery semantics — deliberately the REFERENCE's, not Spark's usual:
UDP is lossy and unreplayable, so `readBetweenOffsets` (the replay path
after a crash) returns nothing: at-most-once, matching the reference's
log-and-drop insert path (main.go:158-172). Everything downstream of
the source is still checkpointed exactly-once per batch.

Scale note: a SimpleDataSourceStreamReader drains on the driver — right
for one listener socket (the reference is also one socket per listener,
main.go:250). Fan-in of many listeners = many source streams unioned
(operators/flows.fan_in), not one fat socket.
"""

from __future__ import annotations

import ipaddress
import json
import socket
import struct
import time
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.ip import _format_ip
from ..schema import RAW_FLOW_SCHEMA

_MAX_DGRAM = 65535
_BINARY_FIELDS = {"SamplerAddress", "SrcAddr", "DstAddr"}

#: What the udp_flows source hands to Spark: RAW_FLOW_SCHEMA with the
#: three address fields already formatted (main.go:133,138,139 formats
#: them in the decoding goroutine too), so the ingest plan needs no
#: Python UDF. The decoders below still return packed bytes.
UDP_FLOW_SCHEMA = StructType([
    StructField(f.name, StringType(), True) if f.name in _BINARY_FIELDS
    else f
    for f in RAW_FLOW_SCHEMA.fields
])

# FlowMessage.FlowType enum values (goflow2 wire contract; the reference
# consumes these via the JSON transport).
_TYPE_SFLOW_5 = 1
_TYPE_NETFLOW_V5 = 2
_TYPE_NETFLOW_V9 = 3
_TYPE_IPFIX = 4

_V5_HEADER = struct.Struct(">HHIIIIBBH")  # 24 bytes
_V5_RECORD = struct.Struct(">4s4s4sHHIIIIHHBBBBHHBBH")  # 48 bytes

_U32 = struct.Struct(">I")

def parse_datagram(payload: bytes) -> tuple | None:
    """One JSON datagram → one RAW_FLOW_SCHEMA tuple (None = undecodable,
    dropped-and-counted like the reference's log-and-drop)."""
    try:
        msg = json.loads(payload)
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(msg, dict):
        # valid JSON but not an object ([1,2], "x", 5): undecodable.
        return None
    row = []
    try:
        for f in RAW_FLOW_SCHEMA.fields:
            v = msg.get(f.name)
            if f.name in _BINARY_FIELDS:
                # digit-only STRINGS take the integer-address form, the
                # same rule as functions/ip._parse_ip_string: the
                # stream's string-typed JSON schema cannot distinguish
                # {"SamplerAddress": 5} from {"SamplerAddress": "5"},
                # so this path must decode both spellings identically
                # to stay transport-equivalent (r6 review)
                if isinstance(v, str) and v.isdigit():
                    v = int(v)
                elif isinstance(v, (bool, float)):
                    # bool is an int subclass: ip_address(True) would
                    # yield 0.0.0.1 here while the stream path's
                    # _parse_ip_string("true") falls back to zeros —
                    # same-message divergence (r7 review). Match the
                    # stream: junk address → zero fallback, record kept.
                    v = None
                try:
                    v = ipaddress.ip_address(v or "0.0.0.0").packed
                except ValueError:
                    v = b"\x00\x00\x00\x00"
            elif v is None:
                v = 0
            elif isinstance(v, (bool, float)):
                # transport parity (r7 advice): the jsonl/Kafka path
                # parses every field as a string and try_casts to the
                # long type, so "1.5"/"true" become NULL and the record
                # DROPS there; int(1.5) here silently truncated and
                # ingested the same message on UDP. Non-integral JSON
                # numerics and booleans now drop on BOTH transports.
                return None
            else:
                v = int(v)
                if not (-(1 << 63) <= v < (1 << 63)):
                    # outside int64: the long-typed row would crash the
                    # stream at Arrow conversion (breaking the never-
                    # crash contract), and the jsonl/Kafka twin's
                    # try_cast turns the same value into NULL → drop —
                    # so drop here too (r7 review)
                    return None
            row.append(v)
    except (ValueError, TypeError, AttributeError, OverflowError):
        # non-numeric field ({"Bytes": "abc"}) or other junk: the field
        # loop must never crash the streaming query — one stray packet
        # on an open port is normal, not fatal (log-and-drop contract).
        return None
    return tuple(row)


def decode_netflow_v5(payload: bytes, sampler: bytes) -> list[tuple] | None:
    """Binary NetFlow v5 datagram → RAW_FLOW_SCHEMA rows (None = malformed).

    The v5 wire format is fixed (public: RFC-adjacent Cisco spec; the
    smallest decoder in the reference's dependency chain is goflow's
    nfv5, wired in at main.go:236-240): a 24-byte big-endian header
    (version, count, sys_uptime ms, unix_secs, unix_nsecs, flow_sequence,
    engine_type, engine_id, sampling_interval) followed by `count`
    48-byte records.  Field mapping follows goflow's FlowMessage
    conversion: flow start/end are reconstructed from the router's
    sys_uptime clock against unix_secs; ICMP type/code are packed in
    dst_port for proto 1; sampling interval keeps only its low 14 bits
    (the top 2 are the sampling-mode tag).
    """
    if len(payload) < _V5_HEADER.size:
        return None
    (version, count, sys_uptime, unix_secs, _unix_nsecs, flow_sequence,
     _engine_type, _engine_id, sampling) = _V5_HEADER.unpack_from(payload, 0)
    if version != 5:
        return None
    if count < 1 or count > 30:  # spec: 1..30 records per datagram
        return None
    if len(payload) < _V5_HEADER.size + count * _V5_RECORD.size:
        return None  # truncated datagram
    sampling_rate = sampling & 0x3FFF
    rows: list[tuple] = []
    for i in range(count):
        (srcaddr, dstaddr, _nexthop, _inp, _outp, d_pkts, d_octets,
         first, last, srcport, dstport, _pad1, tcp_flags, proto, _tos,
         _src_as, _dst_as, _src_mask, _dst_mask, _pad2) = \
            _V5_RECORD.unpack_from(payload, _V5_HEADER.size + i * _V5_RECORD.size)
        # first/last are on the router's sys_uptime clock (ms); anchor
        # them to wall time via the header pair (uptime, unix_secs).
        # The uptime counter is 32-bit and wraps every ~49.7 days: a
        # record whose first/last predate the wrap while the header
        # postdates it makes the raw delta negative, which anchored the
        # flow ~49.7 days in the FUTURE (r8 review) — the delta is an
        # unsigned mod-2^32 difference.
        t_start = unix_secs - ((sys_uptime - first) % 2**32) // 1000
        t_end = unix_secs - ((sys_uptime - last) % 2**32) // 1000
        icmp_type, icmp_code = (dstport >> 8, dstport & 0xFF) if proto == 1 else (0, 0)
        rows.append((
            _TYPE_NETFLOW_V5,      # Type
            unix_secs,             # TimeReceived
            flow_sequence,         # SequenceNum
            sampling_rate,         # SamplingRate
            0,                     # FlowDirection (not carried in v5)
            sampler,               # SamplerAddress (datagram peer)
            t_start,               # TimeFlowStart
            t_end,                 # TimeFlowEnd
            d_octets,              # Bytes
            d_pkts,                # Packets
            srcaddr,               # SrcAddr
            dstaddr,               # DstAddr
            0x0800,                # Etype (v5 is IPv4-only)
            proto,                 # Proto
            srcport,               # SrcPort
            0 if proto == 1 else dstport,  # DstPort
            0,                     # ForwardingStatus (not in v5)
            tcp_flags,             # TCPFlags
            icmp_type,             # IcmpType
            icmp_code,             # IcmpCode
            0,                     # FragmentId (not in v5)
            0,                     # FragmentOffset (not in v5)
        ))
    return rows


def _parse_sampled_header(hdr: bytes) -> dict:
    """Walk an ethernet frame header sampled by sFlow: ethernet
    [+802.1Q VLAN] → IPv4/IPv6 → TCP/UDP ports+flags or ICMP type/code.
    Always returns the RAW_FLOW_SCHEMA-relevant field dict; a frame
    that isn't parseable IP keeps the zero defaults (the reference
    behaves the same — goflow keeps the sample with L2 info only)."""
    out = {
        "Etype": 0, "Proto": 0, "SrcAddr": b"\x00" * 4, "DstAddr": b"\x00" * 4,
        "SrcPort": 0, "DstPort": 0, "TCPFlags": 0, "IcmpType": 0,
        "IcmpCode": 0, "FragmentId": 0, "FragmentOffset": 0,
    }
    if len(hdr) < 14:
        return out
    etype = int.from_bytes(hdr[12:14], "big")
    off = 14
    if etype == 0x8100 and len(hdr) >= 18:  # single 802.1Q tag
        etype = int.from_bytes(hdr[16:18], "big")
        off = 18
    out["Etype"] = etype
    if etype == 0x0800 and len(hdr) >= off + 20:  # IPv4
        ihl = (hdr[off] & 0x0F) * 4
        proto = hdr[off + 9]
        out["Proto"] = proto
        out["FragmentId"] = int.from_bytes(hdr[off + 4:off + 6], "big")
        out["FragmentOffset"] = (
            int.from_bytes(hdr[off + 6:off + 8], "big") & 0x1FFF
        )
        out["SrcAddr"] = hdr[off + 12:off + 16]
        out["DstAddr"] = hdr[off + 16:off + 20]
        l4 = off + ihl
    elif etype == 0x86DD and len(hdr) >= off + 40:  # IPv6 (no ext walk)
        proto = hdr[off + 6]
        out["Proto"] = proto
        out["SrcAddr"] = hdr[off + 8:off + 24]
        out["DstAddr"] = hdr[off + 24:off + 40]
        l4 = off + 40
    else:
        return out
    if proto in (6, 17) and len(hdr) >= l4 + 4:
        out["SrcPort"] = int.from_bytes(hdr[l4:l4 + 2], "big")
        out["DstPort"] = int.from_bytes(hdr[l4 + 2:l4 + 4], "big")
        if proto == 6 and len(hdr) >= l4 + 14:
            out["TCPFlags"] = hdr[l4 + 13]
    elif proto in (1, 58) and len(hdr) >= l4 + 2:  # ICMP / ICMPv6
        out["IcmpType"], out["IcmpCode"] = hdr[l4], hdr[l4 + 1]
    return out


def decode_sflow_v5(
    payload: bytes, sampler: bytes, now_s: int
) -> list[tuple] | None:
    """Binary sFlow v5 datagram → RAW_FLOW_SCHEMA rows (None = malformed).

    Decodes the subset the reference's pipeline actually inserts
    (goflow's sFlow decoder behind main.go:226-229): flow samples
    (format 1) and expanded flow samples (format 3) whose records are
    raw packet headers (record format 1, header protocol 1 = ethernet).
    Counter samples and other record types are skipped, not errors.
    sFlow carries no wall-clock timestamp — TimeReceived/Start/End are
    the collector's receive time (`now_s`), exactly goflow's behavior.
    Every parsed sample contributes Bytes = sampled frame_length and
    Packets = 1 (one sampled packet per flow sample record).
    """
    try:
        if len(payload) < 28:
            return None
        if _U32.unpack_from(payload, 0)[0] != 5:
            return None
        ip_ver = _U32.unpack_from(payload, 4)[0]
        off = 8
        if ip_ver == 1:
            agent = payload[off:off + 4]
            off += 4
        elif ip_ver == 2:
            agent = payload[off:off + 16]
            off += 16
        else:
            return None
        _sub_agent, seq, _uptime, n_samples = struct.unpack_from(
            ">IIII", payload, off
        )
        off += 16
        rows: list[tuple] = []
        for _ in range(n_samples):
            if off + 8 > len(payload):
                return None  # truncated sample header
            sample_type, sample_len = struct.unpack_from(">II", payload, off)
            off += 8
            body_end = off + sample_len
            if body_end > len(payload):
                return None  # truncated sample body
            p = off
            off = body_end
            if sample_type not in (1, 3):  # counter samples etc.: skip
                continue
            expanded = sample_type == 3
            # flow_sample: seq, source_id, rate, pool, drops, in, out, n
            # expanded spellings widen source_id/input/output to pairs
            need = 44 if expanded else 32
            if p + need > body_end:
                continue
            _sseq = _U32.unpack_from(payload, p)[0]; p += 4
            p += 8 if expanded else 4  # source_id (type,index) | packed
            rate = _U32.unpack_from(payload, p)[0]; p += 4
            p += 8  # sample_pool, drops
            p += 16 if expanded else 8  # input/output interfaces
            n_recs = _U32.unpack_from(payload, p)[0]; p += 4
            for _r in range(n_recs):
                if p + 8 > body_end:
                    break
                rec_fmt, rec_len = struct.unpack_from(">II", payload, p)
                p += 8
                rec_end = p + rec_len
                if rec_end > body_end:
                    break
                if rec_fmt == 1 and p + 16 <= rec_end:  # raw packet header
                    hdr_proto, frame_len, _stripped, hdr_size = \
                        struct.unpack_from(">IIII", payload, p)
                    hdr = payload[p + 16:min(p + 16 + hdr_size, rec_end)]
                    if hdr_proto == 1:  # ethernet
                        fields = _parse_sampled_header(hdr)
                        # SamplerAddress = the datagram's AGENT address
                        # (goflow semantics: sFlow carries the agent IP
                        # in its header; the UDP peer may be a relay or
                        # a different interface of a multi-homed
                        # exporter). NetFlow v5/v9/IPFIX have no agent
                        # field and keep the peer address.
                        rows.append((
                            _TYPE_SFLOW_5, now_s, seq, rate, 0, agent,
                            now_s, now_s, frame_len, 1,
                            fields["SrcAddr"], fields["DstAddr"],
                            fields["Etype"], fields["Proto"],
                            fields["SrcPort"], fields["DstPort"], 0,
                            fields["TCPFlags"], fields["IcmpType"],
                            fields["IcmpCode"], fields["FragmentId"],
                            fields["FragmentOffset"],
                        ))
                p = rec_end
        return rows
    except struct.error:
        return None


# NetFlow v9 field types (RFC 3954 §8) → handling. Values parse as
# big-endian unsigned ints except the address fields, kept as bytes.
_V9_ADDR_FIELDS = {8, 12, 27, 28}  # IPv4 src/dst, IPv6 src/dst


class NetflowV9Decoder:
    """Stateful NetFlow v9 decode (RFC 3954; the template-dependent
    protocol the reference handles via goflow, main.go:231-235).

    Template flowsets (id 0) populate a per-(exporter, source_id)
    template cache; data flowsets (id >= 256) parse against it. Data
    arriving before its template is dropped-and-counted — the
    protocol's defined behavior (exporters re-send templates
    periodically). One decoder instance lives on each listener's
    reader: template state is per-socket, exactly like a collector.

    Template lifecycle (RFC 3954 §9): every re-received template
    REFRESHES (and may redefine) its cache slot; a template not
    refreshed within `template_ttl` seconds is expired on next use and
    its data dropped-and-counted until the exporter re-sends it. The
    clock is the exporters' own header export time (unix_secs) — the
    stream carries it, so restart/replay scenarios behave
    deterministically and tests need no wall-clock control.

    Options templates (flowset id 1) are cached too; their DATA sets
    are consumed as collector metadata, not flow rows: records are
    counted in `options_records` and a samplingInterval option (IE 34)
    becomes the default SamplingRate for subsequent flow rows of that
    (exporter, source_id) that do not export IE 34 themselves — the
    observable behavior goflow's sampling-rate tracking gives the
    reference."""

    def __init__(self, template_ttl: int | None = 1800) -> None:
        # (sampler, source_id, template_id) -> (fields, refreshed_at)
        self._templates: dict[tuple, tuple[list[tuple[int, int]], int]] = {}
        # options: (sampler, source_id, tid) -> (scope+option fields, at)
        self._options: dict[tuple, tuple[list[tuple[int, int]], int]] = {}
        self._sampling: dict[tuple, int] = {}
        self._ttl = template_ttl
        self.dropped_no_template = 0
        self.expired_templates = 0
        self.options_records = 0

    def _live(self, cache: dict, key: tuple, now: int):
        ent = cache.get(key)
        if ent is None:
            return None
        fields, at = ent
        if self._ttl is not None and now - at > self._ttl:
            del cache[key]
            self.expired_templates += 1
            return None
        return fields

    def decode(self, payload: bytes, sampler: bytes) -> list[tuple] | None:
        try:
            if len(payload) < 20:
                return None
            version, _count, sys_uptime, unix_secs, seq, source_id = \
                struct.unpack_from(">HHIIII", payload, 0)
            if version != 9:
                return None
            rows: list[tuple] = []
            off = 20
            while off + 4 <= len(payload):
                fs_id, fs_len = struct.unpack_from(">HH", payload, off)
                if fs_len < 4 or off + fs_len > len(payload):
                    return None  # malformed flowset length
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

    def _ingest_templates(self, payload, p, end, sampler, source_id,
                          now) -> None:
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
            # reject zero-stride templates: a data set parsed against
            # one would never advance (crafted-datagram hang)
            if tid >= 256 and fields and sum(ln for _, ln in fields) > 0:
                self._templates[(sampler, source_id, tid)] = (fields, now)

    def _ingest_options(self, payload, p, end, sampler, source_id,
                        now) -> None:
        # RFC 3954 §6.1: tid, scope LENGTH (bytes), option LENGTH (bytes)
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
                              source_id) -> None:
        rec_len = sum(ln for _, ln in fields)
        while rec_len > 0 and p + rec_len <= end:
            f: dict[int, int] = {}
            for ftype, ln in fields:
                f[ftype] = int.from_bytes(payload[p:p + ln], "big")
                p += ln
            self.options_records += 1
            rate = f.get(34) or f.get(305)
            if rate:
                self._sampling[(sampler, source_id)] = rate

    def _parse_data(self, payload, p, end, tmpl, sampler, source_id,
                    sys_uptime, unix_secs, seq) -> list[tuple]:
        rec_len = sum(ln for _, ln in tmpl)
        default_rate = self._sampling.get((sampler, source_id), 0)
        rows = []
        while rec_len > 0 and p + rec_len <= end:
            f: dict[int, int | bytes] = {}
            for ftype, ln in tmpl:
                raw = payload[p:p + ln]
                if ftype is not None:
                    f[ftype] = raw if ftype in _V9_ADDR_FIELDS else \
                        int.from_bytes(raw, "big")
                p += ln
            # sysuptime-ms clocks anchored at the header pair, as in
            # v5 — including the unsigned mod-2^32 wrap handling (the
            # 32-bit uptime counter wraps every ~49.7 days, r8 review)
            first, last = f.get(22), f.get(21)
            t_start = (unix_secs - ((sys_uptime - first) % 2**32) // 1000
                       if first is not None else unix_secs)
            t_end = (unix_secs - ((sys_uptime - last) % 2**32) // 1000
                     if last is not None else unix_secs)
            rows.append(_fields_to_row(
                f, _TYPE_NETFLOW_V9, unix_secs, seq, sampler, t_start, t_end,
                default_rate))
        return rows


def _fields_to_row(f: dict, flow_type: int, time_received: int, seq: int,
                   sampler: bytes, t_start: int, t_end: int,
                   default_sampling: int = 0) -> tuple:
    """Shared v9/IPFIX field-id → RAW_FLOW_SCHEMA row mapping (the two
    protocols share information-element numbering for ids < 128).
    `default_sampling` is the exporter's options-template-announced
    rate, used when the data record does not export IE 34 itself."""
    v6 = 27 in f or 28 in f
    icmp = f.get(32, 0)  # ICMP_TYPE: (type << 8) | code
    return (
        flow_type,
        time_received,
        seq,                            # SequenceNum
        f.get(34) or default_sampling,  # SamplingRate
        f.get(61, 0),                   # FlowDirection
        sampler,                        # SamplerAddress
        t_start, t_end,
        f.get(1, 0),                    # Bytes
        f.get(2, 0),                    # Packets
        f.get(27 if v6 else 8, b"\x00" * (16 if v6 else 4)),
        f.get(28 if v6 else 12, b"\x00" * (16 if v6 else 4)),
        0x86DD if v6 else 0x0800,       # Etype
        f.get(4, 0),                    # Proto
        f.get(7, 0),                    # SrcPort
        f.get(11, 0),                   # DstPort
        f.get(89, 0),                   # ForwardingStatus
        f.get(6, 0),                    # TCPFlags
        icmp >> 8, icmp & 0xFF,         # IcmpType, IcmpCode
        f.get(54, 0),                   # FragmentId
        f.get(88, 0),                   # FragmentOffset
    )


class IpfixDecoder:
    """Stateful IPFIX decode (RFC 7011; version tag 10) — the v9
    successor the reference also takes on its netflow:// listener
    (goflow's NFv9/IPFIX routine, main.go:231-235).

    Differences from v9 handled here: 16-byte header whose export time
    is already epoch seconds (no sysuptime anchor), set ids 2/3 for
    templates/options templates, enterprise-bit field specifiers
    (skipped but correctly advanced over), and absolute-time elements
    (flowStartSeconds 150/151, flowStartMilliseconds 152/153) taking
    precedence for flow times. Variable-length elements (len 0xFFFF)
    make a template unusable for fixed-stride parsing; its data sets
    are dropped-and-counted.

    Template lifecycle mirrors the v9 decoder (for IPFIX-over-UDP,
    RFC 7011 §8.4 prescribes exactly this timeout model — withdrawals
    only exist on SCTP/TCP): re-received templates refresh their slot,
    unrefreshed templates expire after `template_ttl` seconds of the
    exporters' export-time clock. Options-template DATA sets are
    consumed as metadata: counted, and samplingInterval (IE 34) /
    samplingPacketInterval (IE 305) set the default SamplingRate for
    the (exporter, domain)."""

    def __init__(self, template_ttl: int | None = 1800) -> None:
        self._templates: dict[
            tuple, tuple[list[tuple[int | None, int]], int]
        ] = {}
        self._options: dict[
            tuple, tuple[list[tuple[int | None, int]], int]
        ] = {}
        self._sampling: dict[tuple, int] = {}
        self._ttl = template_ttl
        self.dropped_no_template = 0
        self.expired_templates = 0
        self.options_records = 0

    _live = NetflowV9Decoder._live

    def decode(self, payload: bytes, sampler: bytes) -> list[tuple] | None:
        try:
            if len(payload) < 16:
                return None
            version, total_len, export_secs, seq, domain = \
                struct.unpack_from(">HHIII", payload, 0)
            if version != 10:
                return None
            end_all = min(total_len, len(payload))
            rows: list[tuple] = []
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
                          options: bool = False) -> None:
        # options-template sets (RFC 7011 §3.4.2.2) carry an extra
        # scope-field-count halfword; the specifier wire format is the
        # same, and scope fields parse like option fields here
        head = 6 if options else 4
        while p + head <= end:
            if options:
                tid, n_fields, _scope_n = struct.unpack_from(">HHH", payload, p)
            else:
                tid, n_fields = struct.unpack_from(">HH", payload, p)
            p += head
            fields: list[tuple[int | None, int]] = []
            ok = True
            for _ in range(n_fields):
                if p + 4 > end:
                    ok = False
                    break
                ie, ln = struct.unpack_from(">HH", payload, p)
                p += 4
                if ie & 0x8000:  # enterprise-specific: skip id, keep stride
                    if p + 4 > end:
                        ok = False
                        break
                    p += 4
                    fields.append((None, ln))
                else:
                    fields.append((ie, ln))
            # zero-stride templates rejected, as in the v9 decoder
            if ok and tid >= 256 and fields and sum(ln for _, ln in fields) > 0:
                cache = self._options if options else self._templates
                cache[(sampler, domain, tid)] = (fields, now)

    def _consume_options_data(self, payload, p, end, fields, sampler,
                              domain) -> None:
        rec_len = sum(ln for _, ln in fields)
        while rec_len > 0 and p + rec_len <= end:
            f: dict[int, int] = {}
            for ftype, ln in fields:
                if ftype is not None:
                    f[ftype] = int.from_bytes(payload[p:p + ln], "big")
                p += ln
            self.options_records += 1
            rate = f.get(34) or f.get(305)
            if rate:
                self._sampling[(sampler, domain)] = rate

    def _parse_data(self, payload, p, end, tmpl, sampler, domain,
                    export_secs, seq) -> list[tuple]:
        rec_len = sum(ln for _, ln in tmpl)
        default_rate = self._sampling.get((sampler, domain), 0)
        rows = []
        while rec_len > 0 and p + rec_len <= end:
            f: dict[int, int | bytes] = {}
            for ftype, ln in tmpl:
                raw = payload[p:p + ln]
                if ftype is not None:
                    f[ftype] = raw if ftype in _V9_ADDR_FIELDS else \
                        int.from_bytes(raw, "big")
                p += ln
            if 150 in f or 151 in f:      # flowStart/EndSeconds
                t_start = f.get(150, export_secs)
                t_end = f.get(151, t_start)
            elif 152 in f or 153 in f:    # flowStart/EndMilliseconds
                t_start = f.get(152, export_secs * 1000) // 1000
                t_end = f.get(153, f.get(152, export_secs * 1000)) // 1000
            else:
                t_start = t_end = export_secs
            rows.append(_fields_to_row(
                f, _TYPE_IPFIX, export_secs, seq, sampler, t_start, t_end,
                default_rate))
        return rows


def decode_datagram(
    payload: bytes,
    sampler: bytes = b"\x00\x00\x00\x00",
    now_s: int | None = None,
    v9: NetflowV9Decoder | None = None,
    ipfix: IpfixDecoder | None = None,
) -> list[tuple] | None:
    """Framing dispatch on the leading version tag: binary sFlow v5
    (uint32 5), binary NetFlow v5 (uint16 5), NetFlow v9 (uint16 9),
    IPFIX (uint16 10), else one goflow2-style JSON object. Returns
    RAW_FLOW_SCHEMA rows, or None when undecodable (caller counts the
    drop). JSON can never collide with the binary tags: it starts with
    printable bytes ('{', whitespace), never 0x00.
    """
    if len(payload) >= 4 and payload[:3] == b"\x00\x00\x00" and payload[3] == 5:
        return decode_sflow_v5(
            payload, sampler, int(time.time()) if now_s is None else now_s
        )
    if len(payload) >= 2 and payload[0] == 0 and payload[1] == 5:
        return decode_netflow_v5(payload, sampler)
    if len(payload) >= 2 and payload[0] == 0 and payload[1] == 9:
        if v9 is None:
            return None  # caller didn't provide template state
        return v9.decode(payload, sampler)
    if len(payload) >= 2 and payload[0] == 0 and payload[1] == 10:
        if ipfix is None:
            return None
        return ipfix.decode(payload, sampler)
    row = parse_datagram(payload)
    return None if row is None else [row]


class UdpFlowStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.host = options.get("host", "0.0.0.0")
        self.port = int(options.get("port", "6343"))
        self.max_per_batch = int(options.get("maxRowsPerTrigger", "100000"))
        # reuseport=true → SO_REUSEPORT: N listener streams bind the SAME
        # port and the kernel spreads datagrams across them — the engine's
        # -workers parity (main.go:35: N decode goroutines per listener).
        # Compose with fan_in: open N udp:// streams with reuseport and
        # union them (sources/streaming.py docstring).
        self.reuseport = options.get("reuseport", "false").lower() == "true"
        self.rcvbuf = int(options.get("rcvbuf", "0"))
        self._sock: socket.socket | None = None
        self._dropped = 0
        # per-listener NetFlow v9 / IPFIX template state (a collector's
        # role)
        self._v9 = NetflowV9Decoder()
        self._ipfix = IpfixDecoder()

    def _socket(self) -> socket.socket:
        if self._sock is None:
            s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            if self.reuseport:
                s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
            if self.rcvbuf > 0:
                s.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, self.rcvbuf)
            s.bind((self.host, self.port))
            s.setblocking(False)
            self._sock = s
        return self._sock

    def initialOffset(self) -> dict:
        return {"count": 0}

    def drop_totals(self) -> dict[str, int]:
        """Datagrams and data sets this listener dropped, by kind (the
        counted half of log-and-drop)."""
        return {
            "undecodable": self._dropped,
            "no_template": (self._v9.dropped_no_template
                            + self._ipfix.dropped_no_template),
            "expired_templates": (self._v9.expired_templates
                                  + self._ipfix.expired_templates),
        }

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        """Drain whatever is in the kernel buffer right now (bounded by
        maxRowsPerTrigger — the size half of the reference's
        size-OR-time batcher, main.go:121-152).

        The end offset carries the running drop totals as
        {"count": rows, "dropped": {kind: total}} ("dropped" only once
        something was dropped). The reader runs in the data-source
        worker process, and its offsets are what reaches the session:
        FlowMetricsListener reads them from each progress report's
        sources[].endOffset, and the checkpoint keeps the totals across
        a restart."""
        sock = self._socket()
        before = self.drop_totals()
        rows: list[tuple] = []
        peer_cache: dict[str, bytes] = {}
        while len(rows) < self.max_per_batch:
            try:
                payload, addr = sock.recvfrom(_MAX_DGRAM)
            except BlockingIOError:
                break
            peer = peer_cache.get(addr[0])
            if peer is None:
                try:
                    peer = ipaddress.ip_address(addr[0]).packed
                except ValueError:
                    peer = b"\x00\x00\x00\x00"
                peer_cache[addr[0]] = peer
            decoded = decode_datagram(payload, peer, v9=self._v9,
                                      ipfix=self._ipfix)
            if decoded is None:
                self._dropped += 1
                continue
            for r in decoded:  # SamplerAddress, SrcAddr, DstAddr: 5, 10, 11
                rows.append((*r[:5], _format_ip(r[5]), *r[6:10],
                             _format_ip(r[10]), _format_ip(r[11]), *r[12:]))
        end: dict = {"count": start["count"] + len(rows)}
        dropped = dict(start.get("dropped", {}))
        for kind, n in self.drop_totals().items():
            if n > before[kind]:
                dropped[kind] = dropped.get(kind, 0) + n - before[kind]
        if dropped:
            end["dropped"] = dropped
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # UDP cannot replay: at-most-once on crash-recovery, the
        # reference's own contract (main.go:158-172).
        return iter(())

    def commit(self, end: dict) -> None:
        pass


class UdpFlowDataSource(DataSource):
    """spark.dataSource.register(UdpFlowDataSource); then
    spark.readStream.format("udp_flows").option("port", 6343).load()."""

    @classmethod
    def name(cls) -> str:
        return "udp_flows"

    def schema(self) -> StructType:
        return UDP_FLOW_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> UdpFlowStreamReader:
        return UdpFlowStreamReader(self.options)
