"""IP-address scalar functions.

The reference formats raw address bytes to strings with Go's
`net.IP.String()` at /root/reference/main.go:133,138,139. Semantics
replicated here (property-tested in tests/test_ip.py):

- 4-byte input → dotted quad;
- 16-byte IPv4-mapped (::ffff:a.b.c.d) → dotted quad (Go's To4());
- other 16-byte → RFC 5952 compressed lowercase IPv6;
- anything else → NULL (Go returns "?hex"; we prefer NULL for SQL).

`_format_ip` is the one formatter. The UDP listener calls it directly
as it hands rows to Spark (sources/udp.py), so the `udp://` ingest plan
carries string addresses and no Python UDF. `ip_to_string` is the
Arrow-vectorized pandas UDF over the same function, for inputs that
still carry packed bytes (parquet drop-dirs, the JSON transports, the
rate generator, batch ETL). The pure-column IPv4 variants
(`ipv4_num_to_string` / `ipv4_string_to_num`, ClickHouse's
IPv4NumToString/IPv4StringToNum) stay entirely JVM-side.
"""

from __future__ import annotations

import ipaddress
import socket

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)


_V4_MAPPED_PREFIX = bytes(10) + b"\xff\xff"
_ZERO_PREFIX = bytes(12)


def _format_ip(b: bytes | None) -> str | None:
    """Packed address → Go net.IP.String() text, via the C formatters.

    glibc's inet_ntop already follows RFC 5952 (longest zero run,
    first on a tie, no single-hextet `::`), the same output as
    `str(IPv6Address)`, except that it prints addresses whose first 12
    bytes are zero as `::a.b.c.d`; that range, rare on the wire, keeps
    the `ipaddress` path."""
    if b is None:
        return None
    if len(b) == 4:
        return socket.inet_ntoa(b)
    if len(b) == 16:
        head = b[:12]
        if head == _V4_MAPPED_PREFIX:  # Go To4() succeeds (main.go:133)
            return socket.inet_ntoa(b[12:])
        if head == _ZERO_PREFIX:
            return str(ipaddress.IPv6Address(b))
        return socket.inet_ntop(socket.AF_INET6, b)
    return None


@pandas_udf(StringType())
def ip_to_string(addr: pd.Series) -> pd.Series:
    return addr.map(_format_ip)


def _parse_ip_string(s) -> bytes:
    """Inverse of _format_ip for the JSON transport: dotted-quad or
    RFC 5952 string → packed bytes (4 for v4, 16 for v6). Unparseable
    or missing → 4 zero bytes — the identical fallback the UDP JSON
    decoder uses (sources/udp.parse_datagram), so the two ingestion
    paths can never disagree on a bad address.

    A digit-only string is treated as the INTEGER address form first:
    from_json coerces a numeric JSON field ({"SamplerAddress": 5})
    into this StringType column as "5", while the UDP decoder receives
    the int and ip_address(5) yields 0.0.0.5 — without this branch the
    two paths would decode the same message differently."""
    if isinstance(s, str) and s.isdigit():
        try:
            return ipaddress.ip_address(int(s)).packed
        except ValueError:
            return b"\x00\x00\x00\x00"
    try:
        return ipaddress.ip_address(s or "0.0.0.0").packed
    except ValueError:
        return b"\x00\x00\x00\x00"


@pandas_udf(BinaryType())
def ip_string_to_bytes(addr: pd.Series) -> pd.Series:
    return addr.map(_parse_ip_string)


def ipv4_num_to_string(col: Column | str) -> Column:
    """ClickHouse IPv4NumToString: uint32 → dotted quad. Pure column
    expression (whole-stage codegen; no Python)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(
        ".",
        F.shiftright(c, 24).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(c, 16).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(c, 8).bitwiseAND(F.lit(255)).cast("string"),
        c.bitwiseAND(F.lit(255)).cast("string"),
    )


def ipv4_string_to_num(col: Column | str) -> Column:
    """ClickHouse IPv4StringToNum: dotted quad → uint32 (as LongType).
    STRICT: exactly four octets, each 0-255 — out-of-range octets
    ("1.2.3.300") and trailing garbage ("1.2.3.4.5") previously folded
    into a wrong number (r6 review); ClickHouse throws on such input
    (IPv4StringToNumOrZero → 0). Malformed input yields 0, the OrZero
    convention — a throwing column would kill whole jobs on one dirty
    row. NULL input stays NULL (r7 advice): ClickHouse propagates NULL
    through functions (even IPv4StringToNumOrZero(NULL) is NULL), and
    rlike(NULL) made `valid` NULL so the otherwise-branch silently
    turned a missing address into 0.0.0.0.

    NULL pass-through is the `valid | isNull` disjunct, NOT a separate
    leading CASE branch: when the input is NULL the condition is TRUE
    and `num` (arithmetic over split(NULL)) is itself NULL — same
    result — while the extra explicit branch measured 2x on the
    enrichment-heavy flows_site_traffic bench entry (r7, A/B'd: 0.9 s
    one-branch vs 1.9 s two-branch at sf0.1)."""
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, r"\.")
    octets = [parts.getItem(i).cast("long") for i in range(4)]
    valid = c.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    for o in octets:
        valid = valid & (o <= 255)
    num = (
        octets[0] * 16777216 + octets[1] * 65536 + octets[2] * 256 + octets[3]
    )
    return F.when(valid | c.isNull(), num).otherwise(F.lit(0).cast("long"))


def ipv4_in_cidr(col: Column | str, cidr: str) -> Column:
    """True iff the dotted-quad IPv4 string is inside `cidr`
    ("10.0.0.0/8"). Pure column arithmetic — the network address and
    mask fold to literals at plan time, so the predicate is a single
    codegen'd compare: (ip_num & mask) == network. Portable: the DuckDB
    oracle replays the identical arithmetic."""
    net = ipaddress.ip_network(cidr, strict=True)
    mask = int(net.netmask)
    network = int(net.network_address)
    return (ipv4_string_to_num(col).bitwiseAND(F.lit(mask))) == F.lit(network)


def cidr_bounds(cidr: str) -> tuple[int, int]:
    """(lo, hi) uint32 bounds of a CIDR block — the row format for a
    range-joinable site/prefix dimension table."""
    net = ipaddress.ip_network(cidr, strict=True)
    return int(net.network_address), int(net.broadcast_address)


def cidr_stride_keys(
    sites: "DataFrame", stride_bits: int = 12, validate: bool = True
) -> "DataFrame":
    """Expand a (site, net_lo, net_hi) range table into fixed-stride
    equi-join keys: every 2^stride_bits-aligned block overlapping the
    range contributes one (site, ipkey) row, ipkey = block >> stride.

    Turns the CIDR range join into a broadcast HASH join (whole-stage
    codegen) instead of a BroadcastNestedLoopJoin — measured ~10x on
    the flows enrichment. Requires ranges aligned to (and at least as
    wide as) the stride so a block never splits across sites; prefixes
    narrower than the stride need the range-join fallback. With
    ``validate`` (default) the precondition is enforced with one tiny
    job over the sites dim — it is broadcast-sized by contract, and a
    misaligned site would otherwise silently tag a whole stride block
    with the wrong label. A /16 table at stride 12 expands 16x —
    prefix dimensions stay broadcastable.

    IPv6 note: the same construction works per-half — real v6
    allocations are /48..(/64) prefixes, entirely inside the hi half,
    so stride keys are `shiftrightunsigned(hi, 64 - p_stride)` with
    the identical alignment precondition; prefixes crossing the half
    boundary (longer than /64) fall back to the ip6_in_cidr range
    predicate."""
    stride = 1 << stride_bits
    if validate:
        bad = (
            sites.filter(
                (F.col("net_lo") % stride != 0)
                | ((F.col("net_hi") + 1) % stride != 0)
            )
            .select("site")
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"site {bad[0].site!r} range is not aligned to the "
                f"2^{stride_bits} stride; narrow/unaligned prefixes need "
                "the range-join fallback"
            )
    shift = F.lit(stride)
    return sites.select(
        "site",
        F.explode(
            F.sequence(
                (F.col("net_lo") / shift).cast("long"),
                (F.col("net_hi") / shift).cast("long"),
            )
        ).alias("ipkey"),
    )


#: RFC 1918 private ranges — the classifier every flow deployment needs
RFC1918 = ("10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16")


def ipv4_is_private(col: Column | str) -> Column:
    """True iff the address is in any RFC 1918 range."""
    preds = [ipv4_in_cidr(col, c) for c in RFC1918]
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


# ---------------------------------------------------------------------------
# IPv6 — the reference emits v6 strings via the same net.IP.String()
# (main.go:133,138,139); the analytics side represents a v6 address as
# two signed 64-bit halves (hi, lo) so membership tests stay pure
# column arithmetic (two's-complement bits are engine-portable).
# ---------------------------------------------------------------------------

_U64 = 1 << 64
_S64_MAX = 1 << 63


def signed64(v: int) -> int:
    """Two's-complement signed view of an unsigned 64-bit value — the
    form a BIGINT column carries in Spark and DuckDB alike."""
    return v - _U64 if v >= _S64_MAX else v


def ipv6_halves(addr: str) -> tuple[int, int]:
    """(hi, lo) signed-64 halves of a v6 address literal."""
    v = int(ipaddress.IPv6Address(addr))
    return signed64(v >> 64), signed64(v & (_U64 - 1))


@pandas_udf(StringType())
def _ipv6_bits_to_string_udf(hi: pd.Series, lo: pd.Series) -> pd.Series:
    """Implementation over STRING-cast halves — see the wrapper below
    for why the longs never reach pandas directly."""

    def fmt(h, lo_) -> str | None:
        if h is None or lo_ is None:
            return None
        v = ((int(h) % _U64) << 64) | (int(lo_) % _U64)
        a = ipaddress.IPv6Address(v)
        # Go net.IP.String() runs To4() first: an IPv4-mapped address
        # (::ffff:a.b.c.d) prints as the dotted quad — without this
        # branch the hi/lo path diverged from ip_to_string's bytes
        # path for the same address (r6 review), breaking joins
        # between the two representations
        m = a.ipv4_mapped
        return str(m) if m is not None else str(a)

    return pd.Series([fmt(h, lo_) for h, lo_ in zip(hi, lo)])


def ipv6_bits_to_string(hi: Column | str, lo: Column | str) -> Column:
    """(hi, lo) signed halves → RFC 5952 compressed lowercase string
    (Go net.IP.String() parity). Arrow-vectorized.

    The halves are cast to STRING column-side before the pandas UDF
    (exact for any BIGINT, NULL-preserving): a null-bearing long batch
    reaches pandas as float64 — the NaN crashed int() and, worse,
    every OTHER row's half got rounded through float64, silently
    corrupting any address with a half beyond 2^53 (most real v6
    addresses) whenever one NULL shared its batch (r8 review)."""
    h = F.col(hi) if isinstance(hi, str) else hi
    lo_ = F.col(lo) if isinstance(lo, str) else lo
    return _ipv6_bits_to_string_udf(h.cast("string"), lo_.cast("string"))


@pandas_udf(
    StructType([StructField("hi", LongType()), StructField("lo", LongType())])
)
def ipv6_string_to_bits(addr: pd.Series) -> pd.DataFrame:
    """v6 string (any RFC 4291 textual form) → (hi, lo) signed halves;
    NULL row for unparseable input."""

    def parse(s):
        try:
            v = int(ipaddress.IPv6Address(s))
        except (ipaddress.AddressValueError, TypeError, ValueError):
            # dotted quad → IPv4-mapped halves, Go net.ParseIP().To16()
            # parity: the formatter prints v4-mapped addresses as the
            # quad (To4() branch), so the parser must round-trip it
            try:
                v = int(ipaddress.IPv6Address(f"::ffff:{s}"))
            except (ipaddress.AddressValueError, TypeError, ValueError):
                return None, None
        return signed64(v >> 64), signed64(v & (_U64 - 1))

    pairs = [parse(s) for s in addr]
    return pd.DataFrame({"hi": [p[0] for p in pairs], "lo": [p[1] for p in pairs]})


def ip6_in_cidr(hi: Column | str, lo: Column | str, cidr: str) -> Column:
    """True iff the (hi, lo) halves are inside the v6 `cidr`. Pure
    column arithmetic: prefix comparison via unsigned right shifts
    against plan-time literals — one codegen'd compare per half, no
    UDF, portable to any engine with >> semantics."""
    net = ipaddress.ip_network(cidr, strict=True)
    if net.version != 6:
        raise ValueError(f"not an IPv6 CIDR: {cidr}")
    p = net.prefixlen
    v = int(net.network_address)
    hi_u, lo_u = v >> 64, v & (_U64 - 1)
    hi_c = F.col(hi) if isinstance(hi, str) else hi
    lo_c = F.col(lo) if isinstance(lo, str) else lo
    if p == 0:
        return F.lit(True)
    if p < 64:
        return F.shiftrightunsigned(hi_c, 64 - p) == F.lit(hi_u >> (64 - p))
    hi_eq = hi_c == F.lit(signed64(hi_u))
    if p == 64:
        return hi_eq
    if p == 128:
        return hi_eq & (lo_c == F.lit(signed64(lo_u)))
    return hi_eq & (
        F.shiftrightunsigned(lo_c, 128 - p) == F.lit(lo_u >> (128 - p))
    )


def ipv6_classify(hi: Column | str, lo: Column | str) -> Column:
    """Well-known-range classifier over (hi, lo) halves: unique-local
    (fc00::/7), link-local (fe80::/10), multicast (ff00::/8),
    documentation (2001:db8::/32), IPv4-mapped (::ffff:0:0/96), else
    'global'. Specific ranges test first; all tests are literal
    compares, so the whole CASE stays in whole-stage codegen."""
    return (
        F.when(ip6_in_cidr(hi, lo, "fc00::/7"), "ula")
        .when(ip6_in_cidr(hi, lo, "fe80::/10"), "link_local")
        .when(ip6_in_cidr(hi, lo, "ff00::/8"), "multicast")
        .when(ip6_in_cidr(hi, lo, "2001:db8::/32"), "documentation")
        .when(ip6_in_cidr(hi, lo, "::ffff:0:0/96"), "v4_mapped")
        .otherwise("global")
    )


def ip6_stride_sites(
    spark, mapping: dict[str, str], key_bits: int = 48
) -> "DataFrame":
    """Expand a {site: v6 CIDR} mapping into (site, ip6key) equi-join
    rows — the IPv6 form of cidr_stride_keys. The key is the leading
    `key_bits` of the address: build side enumerates each prefix's
    blocks at plan time (driver-side Python over a broadcast-sized
    dim), probe side is one `shiftrightunsigned(hi, 64-key_bits)` —
    float-free, so the sign bit of the hi half can't corrupt keys the
    way integer-division striding would. Prefixes must be ≤ key_bits
    (and ≤ 64: inside the hi half); longer ones need the ip6_in_cidr
    range predicate instead."""
    rows: list[tuple[str, int]] = []
    for site, cidr in mapping.items():
        net = ipaddress.ip_network(cidr, strict=True)
        if net.version != 6:
            raise ValueError(f"not an IPv6 CIDR: {cidr}")
        p = net.prefixlen
        if p > key_bits or p > 64:
            raise ValueError(
                f"{site}: /{p} is narrower than the {key_bits}-bit key; "
                "use the ip6_in_cidr range join for it"
            )
        base = (int(net.network_address) >> 64) >> (64 - key_bits)
        # signed64: at key_bits=64 the unsigned hi half can exceed
        # 2^63-1 (overflows LongType) and must agree with the probe
        # side, whose shiftrightunsigned(hi, 0) returns the SIGNED hi;
        # for key_bits < 64 the fold is the identity
        rows.extend(
            (site, signed64(base + i)) for i in range(1 << (key_bits - p))
        )
    from ..schema import local_rel

    return local_rel(spark, rows, "site string, ip6key long")


def ip6_stride_key(hi: Column | str, key_bits: int = 48) -> Column:
    """Probe-side key matching ip6_stride_sites: unsigned shift of the
    hi half — always non-negative, one codegen'd instruction."""
    hi_c = F.col(hi) if isinstance(hi, str) else hi
    return F.shiftrightunsigned(hi_c, 64 - key_bits)


def ip_is_private(col: Column | str) -> Column:
    """v4/v6-aware successor of ipv4_is_private over address STRINGS in
    canonical form (what ip_to_string emits): RFC 1918 for dotted
    quads; unique-local (fc00::/7) + link-local (fe80::/10) for v6.
    The v6 test is a prefix check on the canonical lowercase string —
    valid because RFC 5952 compression never elides leading hextet
    digits (fc.., fd.., fe8..feb prefixes survive compression)."""
    c = F.col(col) if isinstance(col, str) else col
    is6 = c.contains(":")
    lower = F.lower(c)
    v6_private = (
        lower.startswith("fc")
        | lower.startswith("fd")
        | lower.startswith("fe8")
        | lower.startswith("fe9")
        | lower.startswith("fea")
        | lower.startswith("feb")
    )
    return F.when(is6, v6_private).otherwise(ipv4_is_private(col))
