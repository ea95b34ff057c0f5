"""Streaming source specs — the engine's equivalent of the reference's
listener config (-listen "sflow://:6343,netflow://:2055", parsed and
dispatched at /root/reference/main.go:207-244; unknown scheme fatal at
main.go:242).

The reference's three UDP decoders (sFlow main.go:226-229, NetFlow
v9/IPFIX main.go:231-235, NetFlow v5 main.go:236-240) are network
listeners with protocol decode inside the goflow library. Spark has no
built-in UDP source, so the engine defines a pluggable seam:

  file://<dir>?maxFilesPerTrigger=N   parquet drop-dir (tests, replay)
  jsonl://<dir>?maxFilesPerTrigger=N  goflow2 JSON-lines drop-dir (the
                                      `goflow2 -transport file` output
                                      format, one FlowMessage per line)
  rate://?rowsPerSecond=N             synthetic raw flows (load tests)
  kafka://<broker>/<topic>            production: goflow2 → Kafka JSON
  udp://<host>:<port>                 native UDP listener (Python
                                      DataSource, sources/udp.py):
                                      binary sFlow v5, NetFlow v5,
                                      NetFlow v9, IPFIX (per-listener
                                      template cache), or goflow2 JSON
                                      datagrams — at-most-once like the
                                      reference
  sflow://  (port 6343)               same listener, reference spelling
  netflow:// nfl:// (port 2055)       same listener, reference spelling

Every source yields a streaming DataFrame in RAW_FLOW_SCHEMA, except
that `udp://` (and its spellings) yields the three address fields as
formatted strings (sources/udp.UDP_FLOW_SCHEMA), so its plan holds no
Python UDF. `flow_transform` accepts either and produces the same 22
columns, so each source is transformed and the results fanned in.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schema import RAW_FLOW_SCHEMA

_UDP_SCHEMES = {"sflow", "netflow", "nfl"}

# goflow2's JSON transport emits addresses as strings ("192.168.0.1",
# RFC 5952 for v6); the parse schema reads them as strings and the
# conversion to packed bytes happens column-side below.
_JSON_ADDR_FIELDS = frozenset({"SamplerAddress", "SrcAddr", "DstAddr"})

# monotone suffix for observation names — two CollectMetrics nodes with
# one name in a single plan (multi-source fan-in) is an AnalysisException.
# itertools.count: next() is atomic in CPython, so two driver threads
# building JSON sources concurrently can never mint the same name (r8
# review — a bare `global += 1` raced to exactly the duplicate-name
# failure the suffix exists to prevent)
_OBS_SEQ = itertools.count(1)

# EVERY field parses as a string, numerics included: protobuf-JSON
# marshallers conventionally QUOTE 64-bit integers, and from_json with
# a long-typed schema marks {"Bytes": "123"} corrupt while the UDP
# decoder's int(v) accepts it — up to 100% of records dropped on one
# transport and ingested on another (r6 review). String-schema parse +
# per-field try_cast accepts both spellings; a present-but-non-numeric
# value (int("abc") raises → UDP drops) fails its try_cast and drops.
# corrupt-record capture column: non-null ⇔ the UDP JSON decoder would
# have returned None (invalid JSON, malformed structure) — field-level
# type mismatches are the try_cast guard below. The name is engine-
# private: from_json fills a schema field by NAME, so a record that
# legitimately carried a member called "_corrupt" was marked corrupt on
# the jsonl/kafka transport while the UDP decoder (which ignores
# unknown members) kept it — a transport-parity split (r8 review).
_CORRUPT_COL = "_corrupt_g2cs_capture"

_JSON_FLOW_SCHEMA = StructType(
    [StructField(f.name, StringType(), True) for f in RAW_FLOW_SCHEMA.fields]
    + [StructField(_CORRUPT_COL, StringType(), True)]
)


def from_goflow2_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """One goflow2-JSON FlowMessage per record → RAW_FLOW_SCHEMA rows.

    Shared by the kafka and jsonl sources (and semantically identical
    to the UDP listener's JSON fallback, sources/udp.parse_datagram):
    addresses parse from their string form to packed bytes via an
    Arrow UDF with the same fallbacks as the UDP decoder; missing
    numeric fields coalesce to 0; undecodable records are DROPPED AND
    COUNTED — the UDP decoder's drop contract. Four drop guards,
    each matching a parse_datagram None-return case:
    (a) the corrupt-record column (invalid JSON/malformed structure) +
        a per-field try_cast guard for present-but-non-numeric values
        (int("abc") raises in parse_datagram) — quoted numerics
        ("Bytes": "123") are ACCEPTED, as int(v) accepts them;
    (b) a non-null parse result (empty lines, whitespace, and null
        Kafka values — tombstones — produce a NULL struct that the
        corrupt column does NOT mark);
    (c) the trimmed payload must start with '{' (valid non-object
        JSON — `null`, `5`, `[1,2]` — parses to an all-null struct
        indistinguishable from `{}`, which the UDP decoder KEEPS;
        the object-prefix test is exactly its isinstance(msg, dict)).
    The drop count is published as a named observation
    ("goflow2_json_decode_<n>": rows_in / rows_dropped; the suffix is
    a per-process counter because Spark rejects a plan with two
    CollectMetrics nodes of the SAME name — a fan-in of two JSON
    sources, e.g. listen="jsonl://a,kafka://b/flows", is exactly such
    a plan), which FlowMetricsListener folds by prefix into
    flows_decode_dropped_total — the counted half of log-and-drop.
    from_json CANNOT parse the binary address fields directly —
    BinaryType means base64 to Spark, and goflow2 emits
    dotted-quad/RFC 5952 strings — hence the two-step schema."""
    from ..functions.ip import ip_string_to_bytes

    raw = F.col(value_col).cast("string")
    base = df.select(
        F.from_json(
            raw, _JSON_FLOW_SCHEMA,
            {"columnNameOfCorruptRecord": _CORRUPT_COL},
        ).alias("m"),
        F.trim(raw).alias("_raw"),
    )
    keep = (
        F.col("m").isNotNull()
        & F.col(f"m.{_CORRUPT_COL}").isNull()
        & F.col("_raw").startswith("{")
    )
    # field-level numeric guard ≡ parse_datagram's int(v)-raises drop:
    # a PRESENT value that does not cast to the field's type (e.g.
    # "abc") drops the record; a missing/null field coalesces to 0
    for f in RAW_FLOW_SCHEMA.fields:
        if f.name not in _JSON_ADDR_FIELDS:
            v = F.col(f"m.{f.name}")
            keep = keep & (v.isNull() | v.try_cast(f.dataType).isNotNull())
    observed = base.observe(
        f"goflow2_json_decode_{next(_OBS_SEQ)}",
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(keep, 0).otherwise(1)).alias("rows_dropped"),
    )
    parsed = (
        observed.filter(keep)
        .select("m.*")
        .drop(_CORRUPT_COL)
    )
    cols = [
        ip_string_to_bytes(F.col(f.name)).alias(f.name)
        if f.name in _JSON_ADDR_FIELDS
        else F.coalesce(
            F.col(f.name).try_cast(f.dataType), F.lit(0).cast(f.dataType)
        ).alias(f.name)
        for f in RAW_FLOW_SCHEMA.fields
    ]
    return parsed.select(*cols)


@dataclass(frozen=True)
class SourceSpec:
    scheme: str
    target: str
    options: dict[str, str] = field(default_factory=dict)


def parse_listen(listen: str) -> list[SourceSpec]:
    """Parse a comma-separated listen string (main.go:207-219 shape).
    Unknown schemes raise ValueError (≡ log.Fatal at main.go:242)."""
    specs: list[SourceSpec] = []
    for part in listen.split(","):
        part = part.strip()
        if not part:
            continue
        u = urlparse(part)
        scheme = u.scheme.lower()
        if scheme not in _UDP_SCHEMES | {"file", "jsonl", "rate", "kafka", "udp"}:
            raise ValueError(f"unknown source scheme: {scheme!r} in {part!r}")
        options = {k: v[-1] for k, v in parse_qs(u.query).items()}
        target = (
            (u.netloc + u.path) if scheme not in {"file", "jsonl"} else u.path
        )
        specs.append(SourceSpec(scheme=scheme, target=target, options=options))
    if not specs:
        raise ValueError("empty listen string")
    return specs


#: assumed rows per dropped parquet file when deriving a file-count cap
#: from a row-count batch size (-batchsize is rows in the reference,
#: main.go:36; the file source can only cap files per trigger).
_ROWS_PER_FILE_ESTIMATE = 10_000


def open_stream(
    spark: SparkSession, spec: SourceSpec, batch_size: int | None = None
) -> DataFrame:
    """Materialize one source spec as a streaming DataFrame of raw
    flow records (RAW_FLOW_SCHEMA; string addresses for udp://).

    `batch_size` is the per-trigger row cap (-batchsize, main.go:36):
    mapped to each source's native cap (maxRowsPerTrigger for udp,
    maxOffsetsPerTrigger for kafka, a derived maxFilesPerTrigger for
    file). Explicit URL options always win. The rate source is a load
    generator — its volume knob is rowsPerSecond, so batch_size does
    not apply."""
    def _file_reader(reader):
        """Shared drop-dir batching for the file/jsonl sources: apply
        URL options, then derive the size-bound half of the reference's
        size-OR-time batcher (maxFilesPerTrigger from the row-count
        batch size) unless the URL pinned one — ONE copy, so the two
        drop-dir sources can't drift (r6 review)."""
        for k, v in spec.options.items():
            reader = reader.option(k, v)
        if "maxFilesPerTrigger" not in spec.options:
            files = (
                max(1, batch_size // _ROWS_PER_FILE_ESTIMATE)
                if batch_size else 8
            )
            reader = reader.option("maxFilesPerTrigger", str(files))
        return reader

    if spec.scheme == "file":
        reader = _file_reader(spark.readStream.schema(RAW_FLOW_SCHEMA))
        return reader.parquet(spec.target)

    if spec.scheme == "jsonl":
        # goflow2 `-transport file` replay: one JSON FlowMessage per
        # line. Same file-count batching as the parquet drop-dir.
        reader = _file_reader(spark.readStream.format("text"))
        return from_goflow2_json(reader.load(spec.target), "value")

    if spec.scheme == "rate":
        rate = spark.readStream.format("rate")
        for k, v in spec.options.items():
            rate = rate.option(k, v)
        return _synthetic_raw_flows(rate.load())

    if spec.scheme == "kafka":
        broker, _, topic = spec.target.partition("/")
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", broker)
            .option("subscribe", topic or spec.options.get("topic", "flows"))
        )
        if batch_size and "maxOffsetsPerTrigger" not in spec.options:
            reader = reader.option("maxOffsetsPerTrigger", str(batch_size))
        for k, v in spec.options.items():
            reader = reader.option(k, v)
        raw = reader.load()
        # goflow2's JSON output convention: one FlowMessage per record.
        # (r4 fix: previously from_json parsed the address fields as
        # BinaryType — i.e. base64 — so goflow2's dotted-quad strings
        # decoded to null; the shared converter parses them properly.)
        return from_goflow2_json(raw, "value")

    if spec.scheme in {"udp", "sflow", "netflow", "nfl"}:
        # native UDP listener (Spark 4 Python DataSource): binary sFlow
        # v5 (main.go:226-229 parity), NetFlow v5 (main.go:236-240),
        # and NetFlow v9 + IPFIX with per-listener template state
        # (main.go:231-235) all decoded in-process, goflow2-style JSON
        # as the fallback framing; sources/udp.py. sflow:// and
        # netflow://|nfl:// are the reference's listener spellings
        # with their default ports.
        if spec.target.startswith("[") or spec.target.count(":") > 1:
            # `[::1]:2055` split at the FIRST colon yielded port
            # ":1]:2055" and an unintelligible int() failure deep in
            # the data-source worker (r8 review); the listener socket
            # is AF_INET-only, so refuse loudly and early instead
            raise ValueError(
                f"IPv6 listener address {spec.target!r} is not "
                "supported — the UDP listener binds AF_INET; use an "
                "IPv4 host or 0.0.0.0"
            )
        from .udp import UdpFlowDataSource

        spark.dataSource.register(UdpFlowDataSource)
        host, _, port = spec.target.partition(":")
        default_port = "2055" if spec.scheme in {"netflow", "nfl"} else "6343"
        reader = (
            spark.readStream.format("udp_flows")
            .option("host", host or "0.0.0.0")
            .option("port", port or default_port)
        )
        if batch_size and "maxRowsPerTrigger" not in spec.options:
            reader = reader.option("maxRowsPerTrigger", str(batch_size))
        for k, v in spec.options.items():
            reader = reader.option(k, v)
        return reader.load()

    raise ValueError(f"unhandled scheme {spec.scheme}")


def _synthetic_raw_flows(rate_df: DataFrame) -> DataFrame:
    """Deterministic raw flows from the rate source (load testing)."""
    v = F.col("value")
    ip4 = lambda a, b: F.concat(  # noqa: E731 — 4-byte binary IPv4
        F.lit(bytes([a])), F.lit(bytes([b])),
        _byte(v % 251), _byte((v * 7) % 249),
    )
    ts = F.col("timestamp").cast("long")
    return rate_df.select(
        (v % 4 + 1).alias("Type"),
        ts.alias("TimeReceived"),
        (v % 100000).alias("SequenceNum"),
        F.lit(1000).cast("long").alias("SamplingRate"),
        (v % 2).alias("FlowDirection"),
        ip4(10, 0).alias("SamplerAddress"),
        (ts - v % 300).alias("TimeFlowStart"),
        (ts - v % 300 + v % 120).alias("TimeFlowEnd"),
        (40 + (v * 997) % 100000).alias("Bytes"),
        (1 + v % 64).alias("Packets"),
        ip4(192, 168).alias("SrcAddr"),
        ip4(172, 16).alias("DstAddr"),
        F.lit(2048).cast("long").alias("Etype"),
        F.when(v % 10 < 6, 6).when(v % 10 < 9, 17).otherwise(1)
        .cast("long").alias("Proto"),
        (1024 + v % 64000).alias("SrcPort"),
        F.lit(443).cast("long").alias("DstPort"),
        F.lit(64).cast("long").alias("ForwardingStatus"),
        F.when(v % 10 < 6, 2 + v % 32).otherwise(0).cast("long").alias("TCPFlags"),
        F.lit(0).cast("long").alias("IcmpType"),
        F.lit(0).cast("long").alias("IcmpCode"),
        F.lit(0).cast("long").alias("FragmentId"),
        F.lit(0).cast("long").alias("FragmentOffset"),
    )


def _byte(col):
    """One modular byte as 1-length binary (for synthetic IPs)."""
    return F.unhex(F.lpad(F.hex(col), 2, "0"))
