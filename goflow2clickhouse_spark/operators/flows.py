"""The flow transform and fan-in — the reference's in-pipeline operators.

- `flow_transform` ≡ the FlowMessage→FlowDb projection at
  /root/reference/main.go:127-150 (select 22 of ~45 fields, rename to
  snake_case per the `ch:` tags at main.go:45-77, cast `type` to int32
  (main.go:128), format 3 address columns (main.go:133,138,139)).
  Here it is one narrow Catalyst projection — no shuffle, whole-stage
  codegen. Address columns that arrive already formatted as strings
  (the `udp://` listener formats them as it decodes) pass through
  untouched; packed binary ones go through the vectorized ip UDF.

- `fan_in` ≡ the shared channel merging every listener's output
  (main.go:43,101-105): unionByName over same-schema DataFrames
  (batch or streaming).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.ip import ip_to_string

# (target column, source field, transform) — main.go:127-150 order.
_PROJECTION: list[tuple[str, str, str]] = [
    ("type", "Type", "int_cast"),                 # main.go:128
    ("time_received", "TimeReceived", "copy"),    # main.go:129
    ("sequence_num", "SequenceNum", "copy"),      # main.go:130
    ("sampling_rate", "SamplingRate", "copy"),    # main.go:131
    ("flow_direction", "FlowDirection", "copy"),  # main.go:132
    ("sampler_address", "SamplerAddress", "ip"),  # main.go:133
    ("time_flow_start", "TimeFlowStart", "copy"), # main.go:134
    ("time_flow_end", "TimeFlowEnd", "copy"),     # main.go:135
    ("bytes", "Bytes", "copy"),                   # main.go:136
    ("packets", "Packets", "copy"),               # main.go:137
    ("src_addr", "SrcAddr", "ip"),                # main.go:138
    ("dst_addr", "DstAddr", "ip"),                # main.go:139
    ("etype", "Etype", "copy"),                   # main.go:140
    ("proto", "Proto", "copy"),                   # main.go:141
    ("src_port", "SrcPort", "copy"),              # main.go:142
    ("dst_port", "DstPort", "copy"),              # main.go:143
    ("forwarding_status", "ForwardingStatus", "copy"),  # main.go:144
    ("tcp_flags", "TCPFlags", "copy"),            # main.go:145
    ("icmp_type", "IcmpType", "copy"),            # main.go:146
    ("icmp_code", "IcmpCode", "copy"),            # main.go:147
    ("fragment_id", "FragmentId", "copy"),        # main.go:148
    ("fragment_offset", "FragmentOffset", "copy"),# main.go:149
]


def flow_transform(raw: DataFrame) -> DataFrame:
    """Project a raw decoded-flow DataFrame (RAW_FLOW_SCHEMA, or the UDP
    source's variant with string addresses) into the 22-column flows
    layout. Works identically on batch and streaming DataFrames (the
    ETL path of BASELINE.json:7 is this same function applied in batch
    mode)."""
    types = {f.name: f.dataType for f in raw.schema.fields}
    cols = []
    for target, source, kind in _PROJECTION:
        if kind == "int_cast":
            cols.append(F.col(source).cast("int").alias(target))
        elif kind == "ip" and isinstance(types[source], StringType):
            cols.append(F.col(source).alias(target))
        elif kind == "ip":
            cols.append(ip_to_string(F.col(source)).alias(target))
        else:
            cols.append(F.col(source).cast("long").alias(target))
    return raw.select(*cols)


def fan_in(*streams: DataFrame) -> DataFrame:
    """Union N same-schema source streams into one (main.go:43's shared
    channel). unionByName → column-name-safe; streaming-capable."""
    if not streams:
        raise ValueError("fan_in requires at least one stream")
    return reduce(lambda a, b: a.unionByName(b), streams)
