"""Property + golden tests for IP formatting parity with Go's
net.IP.String() (reference main.go:133,138,139) — SURVEY.md §5.2.1.
"""

from __future__ import annotations

import ipaddress

from hypothesis import given, settings
from hypothesis import strategies as st

from goflow2clickhouse_spark.functions.ip import (
    _format_ip,
    ipv4_num_to_string,
    ipv4_string_to_num,
)

# ---- pure-Python formatting core (the pandas UDF maps this) ----------------

GOLDEN = [
    (bytes([192, 168, 1, 1]), "192.168.1.1"),
    (bytes([0, 0, 0, 0]), "0.0.0.0"),
    (bytes([255, 255, 255, 255]), "255.255.255.255"),
    # IPv4-mapped IPv6 → Go To4() → dotted quad (main.go:133)
    (bytes(10) + b"\xff\xff" + bytes([10, 0, 0, 1]), "10.0.0.1"),
    # RFC 5952 compression
    (ipaddress.IPv6Address("2001:db8::1").packed, "2001:db8::1"),
    (ipaddress.IPv6Address("::1").packed, "::1"),
    (ipaddress.IPv6Address("::").packed, "::"),
    # longest zero-run compressed, lowercase hex
    (
        ipaddress.IPv6Address("2001:0:0:1:0:0:0:1").packed,
        "2001:0:0:1::1",
    ),
    (bytes(3), None),  # invalid length → NULL (Go prints "?...")
    (None, None),
]


def test_golden_ip_formatting():
    for raw, expected in GOLDEN:
        assert _format_ip(raw) == expected, raw


@given(st.binary(min_size=4, max_size=4))
@settings(max_examples=300, deadline=None)
def test_ipv4_matches_python_ipaddress(b):
    assert _format_ip(b) == str(ipaddress.IPv4Address(b))


@given(st.binary(min_size=16, max_size=16))
@settings(max_examples=300, deadline=None)
def test_ipv6_matches_go_semantics(b):
    v6 = ipaddress.IPv6Address(b)
    expected = str(v6.ipv4_mapped) if v6.ipv4_mapped else str(v6)
    assert _format_ip(b) == expected


def _reference_format_ip(b: bytes | None) -> str | None:
    """The stdlib formatter with Go's To4() rule — the reference the
    C-level `_format_ip` must match byte for byte."""
    if b is None:
        return None
    if len(b) == 4:
        return str(ipaddress.IPv4Address(b))
    if len(b) == 16:
        v6 = ipaddress.IPv6Address(b)
        mapped = v6.ipv4_mapped
        return str(mapped) if mapped is not None else str(v6)
    return None


# hextets drawn mostly from {0} and {1..15}, so that zero runs of every
# length, ties between runs, and runs at either end come up often
_HEXTET = st.one_of(
    st.just(0), st.integers(1, 15), st.integers(0, 0xFFFF)
)
_V6_HEXTETS = st.lists(_HEXTET, min_size=8, max_size=8).map(
    lambda hs: b"".join(h.to_bytes(2, "big") for h in hs)
)
_QUAD = st.binary(min_size=4, max_size=4)
_ADDRESSES = st.one_of(
    _V6_HEXTETS,
    _QUAD.map(lambda q: bytes(10) + b"\xff\xff" + q),  # ::ffff:a.b.c.d
    _QUAD.map(lambda q: bytes(12) + q),                 # ::a.b.c.d
    st.sampled_from([bytes(16), bytes(15) + b"\x01"]),  # ::, ::1
    _QUAD,
    st.sampled_from([0, 1, 5, 17]).flatmap(
        lambda n: st.binary(min_size=n, max_size=n)
    ),
)


@given(_ADDRESSES)
@settings(max_examples=2000, deadline=None)
def test_format_ip_matches_reference_on_hostile_addresses(b):
    assert _format_ip(b) == _reference_format_ip(b)


# ---- column-expression variants (JVM-side) ---------------------------------


def test_ipv4_num_string_roundtrip(spark):
    from pyspark.sql import functions as F

    nums = [0, 1, 167772161, 3232235777, 4294967295]
    df = spark.createDataFrame([(n,) for n in nums], ["n"])
    out = (
        df.select(
            "n",
            ipv4_num_to_string("n").alias("s"),
        )
        .select("n", "s", ipv4_string_to_num("s").alias("rt"))
        .collect()
    )
    for row in out:
        assert row.s == str(ipaddress.IPv4Address(row.n))
        assert row.rt == row.n


def test_ip_to_string_udf(spark):
    """The Arrow-vectorized UDF end-to-end on a DataFrame."""
    from pyspark.sql import functions as F

    from goflow2clickhouse_spark.functions.ip import ip_to_string

    data = [(raw,) for raw, _ in GOLDEN if raw is not None]
    df = spark.createDataFrame(data, "addr binary")
    got = [r.s for r in df.select(ip_to_string("addr").alias("s")).collect()]
    expected = [exp for raw, exp in GOLDEN if raw is not None]
    assert got == expected


def test_ipv4_in_cidr_boundaries(spark):
    """CIDR membership at the exact range edges, against the stdlib."""
    import ipaddress as ipa

    from goflow2clickhouse_spark.functions.ip import (
        ipv4_in_cidr,
        ipv4_is_private,
    )

    cases = [
        "9.255.255.255", "10.0.0.0", "10.255.255.255", "11.0.0.0",
        "172.15.255.255", "172.16.0.0", "172.31.255.255", "172.32.0.0",
        "192.167.255.255", "192.168.0.0", "192.168.255.255", "192.169.0.0",
        "8.8.8.8", "127.0.0.1",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "ip string")
    got = {
        r.ip: (r.in10, r.priv)
        for r in df.select(
            "ip",
            ipv4_in_cidr("ip", "10.0.0.0/8").alias("in10"),
            ipv4_is_private("ip").alias("priv"),
        ).collect()
    }
    for c in cases:
        a = ipa.ip_address(c)
        assert got[c][0] == (a in ipa.ip_network("10.0.0.0/8")), c
        # note: RFC 1918 only — loopback is "private" to the stdlib but
        # not an RFC 1918 range
        want_priv = any(
            a in ipa.ip_network(n)
            for n in ("10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16")
        )
        assert got[c][1] == want_priv, c


def test_cidr_stride_keys_equiv_range_join(spark):
    """The stride-key equi-join (flows_site_traffic's fast path) tags
    every address identically to the reference range join, for CIDRs at
    and wider than the stride, across range edges."""
    from pyspark.sql import functions as F

    from goflow2clickhouse_spark.functions.ip import (
        cidr_stride_keys,
        ipv4_string_to_num,
    )
    from goflow2clickhouse_spark.streaming.windows import sites_table

    mapping = {
        "a": "192.168.0.0/20",    # == stride width
        "b": "192.168.16.0/20",
        "c": "10.0.0.0/8",        # much wider than stride
    }
    sites = sites_table(spark, mapping)
    # probe: all CIDR edges ± 1 plus interior and far-outside points
    import ipaddress as ipa

    probes = set()
    for c in mapping.values():
        net = ipa.ip_network(c)
        lo, hi = int(net.network_address), int(net.broadcast_address)
        for n in (lo - 1, lo, lo + 1, (lo + hi) // 2, hi - 1, hi, hi + 1):
            probes.add(str(ipa.ip_address(n & 0xFFFFFFFF)))
    probes |= {"8.8.8.8", "255.255.255.255", "0.0.0.0"}
    df = spark.createDataFrame([(p,) for p in sorted(probes)], "ip string")
    num = ipv4_string_to_num("ip")

    ranged = {
        r.ip: r.site
        for r in df.join(
            F.broadcast(sites),
            (num >= sites["net_lo"]) & (num <= sites["net_hi"]),
            "left",
        ).select("ip", "site").collect()
    }
    keys = cidr_stride_keys(sites, stride_bits=12)
    strided = {
        r.ip: r.site
        for r in df.withColumn("ipkey", (num / (1 << 12)).cast("long"))
        .join(F.broadcast(keys), "ipkey", "left")
        .select("ip", "site")
        .collect()
    }
    assert strided == ranged


# ---- IPv6 (hi, lo) halves ---------------------------------------------------


@given(st.integers(min_value=0, max_value=(1 << 128) - 1))
@settings(max_examples=300, deadline=None)
def test_ipv6_halves_roundtrip_pure(v):
    from goflow2clickhouse_spark.functions.ip import ipv6_halves, signed64

    s = str(ipaddress.IPv6Address(v))
    hi, lo = ipv6_halves(s)
    assert hi == signed64(v >> 64) and lo == signed64(v & ((1 << 64) - 1))


def test_ipv6_string_bits_roundtrip(spark):
    """format → parse → format identity through the Arrow UDFs, over
    addresses exercising compression, high-bit halves, and mapped v4."""
    from pyspark.sql import functions as F

    from goflow2clickhouse_spark.functions.ip import (
        ipv6_bits_to_string,
        ipv6_halves,
        ipv6_string_to_bits,
    )

    addrs = [
        "::", "::1", "2001:db8::1", "fe80::1%0".replace("%0", ""),
        "fd12:3456:789a:1::1", "ff02::fb", "2001:0:0:1::1",
        "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff", "::ffff:10.0.0.1",
        "8000::", "::8000:0:0:0", "1:2:3:4:5:6:7:8",
    ]
    rows = [ipv6_halves(a) for a in addrs]
    df = spark.createDataFrame(rows, "hi long, lo long")
    out = (
        df.select("hi", "lo", ipv6_bits_to_string("hi", "lo").alias("s"))
        .select("hi", "lo", "s", ipv6_string_to_bits("s").alias("b"))
        .collect()
    )
    for r in out:
        assert (r.b.hi, r.b.lo) == (r.hi, r.lo), r.s
    got = {(r.hi, r.lo): r.s for r in out}
    for a in addrs:
        # Go net.IP.String() parity: IPv4-mapped prints as the dotted
        # quad (To4() branch), everything else as RFC 5952 (r6 review —
        # the hi/lo path previously diverged from the bytes path here)
        mapped = ipaddress.IPv6Address(a).ipv4_mapped
        want = str(mapped) if mapped is not None else str(
            ipaddress.IPv6Address(a)
        )
        assert got[ipv6_halves(a)] == want, a


def test_ip6_in_cidr_against_stdlib(spark):
    """Membership at range edges for prefixes straddling the 64-bit
    half boundary (p<64, p=64, 64<p<128, p=128), vs the stdlib."""
    from goflow2clickhouse_spark.functions.ip import ip6_in_cidr, ipv6_halves

    cidrs = [
        "fc00::/7", "fe80::/10", "2001:db8::/32", "ff00::/8",
        "2001:db8:1:2::/64", "2001:db8:1:2:3::/80", "::ffff:0:0/96",
        "2001:db8::42/128",
    ]
    probes = set()
    for c in cidrs:
        net = ipaddress.ip_network(c)
        lo, hi = int(net.network_address), int(net.broadcast_address)
        for v in (lo - 1, lo, lo + 1, (lo + hi) // 2, hi - 1, hi, hi + 1):
            probes.add(str(ipaddress.IPv6Address(v % (1 << 128))))
    df = spark.createDataFrame(
        [ipv6_halves(p) + (p,) for p in sorted(probes)],
        "hi long, lo long, addr string",
    )
    sel = df.select(
        "addr",
        *[
            ip6_in_cidr("hi", "lo", c).alias(f"c{i}")
            for i, c in enumerate(cidrs)
        ],
    )
    for r in sel.collect():
        a = ipaddress.ip_address(r.addr)
        for i, c in enumerate(cidrs):
            want = a in ipaddress.ip_network(c)
            assert r[f"c{i}"] == want, (r.addr, c)


def test_ip_is_private_mixed(spark):
    from goflow2clickhouse_spark.functions.ip import ip_is_private

    cases = {
        "10.1.2.3": True, "8.8.8.8": False, "192.168.0.9": True,
        "fd00::1": True, "fc00::": True, "fe80::1": True,
        "feb0::1": True, "fec0::1": False, "2001:db8::1": False,
        "::1": False,
    }
    df = spark.createDataFrame([(k,) for k in cases], "ip string")
    got = {r.ip: r.p for r in df.select("ip", ip_is_private("ip").alias("p")).collect()}
    assert got == cases


def test_cidr_stride_keys_rejects_misaligned(spark):
    import pytest as _pytest

    from goflow2clickhouse_spark.functions.ip import cidr_stride_keys
    from goflow2clickhouse_spark.streaming.windows import sites_table

    sites = sites_table(spark, {"narrow": "192.168.1.0/24"})
    with _pytest.raises(ValueError, match="not aligned"):
        cidr_stride_keys(sites, stride_bits=12).collect()


def test_ip6_stride_sites_equiv_cidr_predicate(spark):
    """Stride-key tagging must agree with the ip6_in_cidr range
    predicate at prefix edges, including sign-bit (fc00::/7-space)
    prefixes that integer-division striding would corrupt."""
    from pyspark.sql import functions as F

    from goflow2clickhouse_spark.functions.ip import (
        ip6_in_cidr,
        ip6_stride_key,
        ip6_stride_sites,
        ipv6_halves,
    )

    mapping = {
        "pod-a": "2001:db8:a::/48",
        "lab": "fd42:dead::/32",
    }
    sites = ip6_stride_sites(spark, mapping, key_bits=48)
    probes = set()
    for c in mapping.values():
        net = ipaddress.ip_network(c)
        lo, hi = int(net.network_address), int(net.broadcast_address)
        # stay inside the hi half (stride keys ignore the lo half)
        for v in (lo - (1 << 64), lo, lo + (1 << 70), hi - (1 << 70),
                  hi - ((1 << 64) - 1), hi + 1):
            probes.add(str(ipaddress.IPv6Address(v % (1 << 128))))
    probes |= {"2620:1ec::1", "::1"}
    df = spark.createDataFrame(
        [ipv6_halves(p) + (p,) for p in sorted(probes)],
        "hi long, lo long, addr string",
    )
    strided = {
        r.addr: r.site
        for r in df.withColumn("ip6key", ip6_stride_key("hi", 48))
        .join(F.broadcast(sites), "ip6key", "left")
        .select("addr", "site")
        .collect()
    }
    pred = {
        r.addr: ("pod-a" if r.a else "lab" if r.b else None)
        for r in df.select(
            "addr",
            ip6_in_cidr("hi", "lo", mapping["pod-a"]).alias("a"),
            ip6_in_cidr("hi", "lo", mapping["lab"]).alias("b"),
        ).collect()
    }
    assert strided == pred


def test_ip6_stride_sites_rejects_unsupported(spark):
    import pytest as _pytest

    from goflow2clickhouse_spark.functions.ip import ip6_stride_sites

    with _pytest.raises(ValueError, match="narrower"):
        ip6_stride_sites(spark, {"x": "2001:db8::/64"}, key_bits=48)
    with _pytest.raises(ValueError, match="IPv6"):
        ip6_stride_sites(spark, {"x": "10.0.0.0/8"})


def test_ipv4_string_to_num_null_passthrough(spark):
    """NULL input stays NULL (r7 advice): ClickHouse propagates NULL —
    even IPv4StringToNumOrZero(NULL) is NULL — but rlike(NULL) made the
    guard NULL so the otherwise-branch returned 0, silently turning a
    missing address into 0.0.0.0. The dialect SQL template mirrors it."""
    from goflow2clickhouse_spark.functions.dialect import translate

    df = spark.createDataFrame(
        [("1.2.3.4",), (None,), ("garbage",)], ["ip"]
    )
    got = {
        (r.ip or "<null>"): r.n
        for r in df.select("ip", ipv4_string_to_num("ip").alias("n")).collect()
    }
    assert got == {"1.2.3.4": 16909060, "<null>": None, "garbage": 0}

    df.createOrReplaceTempView("_ip_null_t")
    sql = translate("SELECT ip, IPv4StringToNum(ip) AS n FROM _ip_null_t")
    got_sql = {(r.ip or "<null>"): r.n for r in spark.sql(sql).collect()}
    assert got_sql == got


def test_ipv6_bits_to_string_null_half_in_batch(spark):
    """A NULL half sharing a batch with real addresses: the long
    columns used to reach pandas as float64 — int(NaN) crashed the
    task AND every other row's half got rounded through float64,
    corrupting any address beyond 2^53 (r8 review; halves now travel
    as strings)."""
    from pyspark.sql import functions as F

    from goflow2clickhouse_spark.functions.ip import (
        ipv6_bits_to_string,
        ipv6_halves,
    )

    hi, lo = ipv6_halves("2001:db8::1")  # hi is far beyond 2^53
    df = spark.createDataFrame(
        [(1, hi, lo), (2, None, None), (3, None, lo)],
        "i long, hi long, lo long",
    )
    got = {
        r["i"]: r["s"]
        for r in df.select("i", ipv6_bits_to_string("hi", "lo").alias("s"))
        .collect()
    }
    assert got == {1: "2001:db8::1", 2: None, 3: None}
