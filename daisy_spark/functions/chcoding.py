"""Reference-exact coding/IP/CRC helpers for the corpus surface.

Pure-python implementations registered as row-at-a-time UDFs — these
back corpus/test statements only; nothing here sits on a distributed
hot path (the registry queries never call them).

- CRC32IEEE / CRC64: the reference's reflected table algorithm with
  init 0 and no final xor (src/Functions/CRC.cpp CRCImpl — note it is
  NOT the zlib/XZ parameterization; CRC32 proper IS zlib and maps to
  Spark's built-in crc32).
- IPv6 text <-> 16-byte binary (src/Functions/FunctionsCoding.h
  IPv6NumToString / IPv6StringToNum): python's ipaddress produces the
  reference's RFC 5952 compressed lowercase form except the
  v4-mapped/compatible dotted-quad tails, which are special-cased in
  ipv6_ntos; bare IPv4 input maps to ::ffff:a.b.c.d in ipv6_ston.
- javaHash over UTF-16LE bytes (src/Functions/FunctionsHashing.h
  JavaHashUTF16LEImpl) — fused with the convertCharset(utf-8 ->
  utf-16le) feeding it in the tests, so no binary-in-string transit.
"""

from __future__ import annotations

import ipaddress


def _crc_table(poly: int, width: int) -> list[int]:
    tab = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (poly ^ (c >> 1)) if (c & 1) else (c >> 1)
        tab.append(c)
    return tab


_CRC64_TAB = _crc_table(0xC96C5795D7870F42, 64)
_CRC32IEEE_TAB = _crc_table(0xEDB88320, 32)


def crc64(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC64_TAB[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc


def crc32ieee(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC32IEEE_TAB[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc


def ipv6_ntos(b) -> str | None:
    """formatIPv6 (src/Functions/FunctionsCoding.h formatIPv6.cpp):
    like inet_ntop, a leading all-zero run of 6 words (v4-compatible)
    or 5 words followed by 0xffff (v4-mapped) renders the tail as a
    dotted quad — python's ipaddress prints hex words there instead,
    so those two classes are special-cased."""
    if b is None:
        return None
    if isinstance(b, str):
        b = b.encode("utf-8", "surrogateescape")
    b = bytes(b)[:16].ljust(16, b"\0")
    words = [(b[i] << 8) | b[i + 1] for i in range(0, 16, 2)]
    best_base = best_len = cur_base = cur_len = 0
    for i in range(9):
        if i < 8 and words[i] == 0:
            if cur_len == 0:
                cur_base = i
            cur_len += 1
        else:
            if cur_len > best_len:
                best_base, best_len = cur_base, cur_len
            cur_len = 0
    if best_base == 0 and (
        best_len == 6 or (best_len == 5 and words[5] == 0xFFFF)
    ):
        quad = ".".join(str(x) for x in b[12:16])
        return ("::" if best_len == 6 else "::ffff:") + quad
    return str(ipaddress.IPv6Address(b))


def ipv6_ston(s: str | None) -> bytes | None:
    """IPv6StringToNum: bare IPv4 text parses by prefixing '::ffff:'
    (v4-mapped bytes), mirroring the reference's tryParseIPv4 fallback."""
    if s is None:
        return None
    try:
        return ipaddress.IPv6Address(s).packed
    except (ipaddress.AddressValueError, ValueError):
        pass
    try:
        v4 = ipaddress.IPv4Address(s)
        return b"\0" * 10 + b"\xff\xff" + v4.packed
    except (ipaddress.AddressValueError, ValueError):
        return b"\0" * 16


def java_hash_utf16le_from_utf8(s: str | None) -> int | None:
    """javaHashUTF16LE(convertCharset(s, 'utf-8', 'utf-16le')): Java's
    String.hashCode over the UTF-16 code units."""
    if s is None:
        return None
    data = s.encode("utf-16-le")
    h = 0
    for i in range(0, len(data), 2):
        cu = data[i] | (data[i + 1] << 8)
        h = (h * 31 + cu) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def register_udfs(spark) -> None:
    from daisy_spark.functions.chhash import _to_i64

    # long (two's-complement) so Spark's hex() prints the same 16
    # big-endian digits the reference prints for the UInt64 value
    spark.udf.register(
        "ch_crc64",
        lambda s: None if s is None else _to_i64(crc64(s.encode("utf-8"))),
        "long",
    )
    spark.udf.register(
        "ch_crc32ieee",
        lambda s: None if s is None else crc32ieee(s.encode("utf-8")),
        "long",
    )
    spark.udf.register("ch_ipv6_ntos", ipv6_ntos, "string")
    spark.udf.register("ch_ipv6_ston", ipv6_ston, "binary")
    spark.udf.register(
        "ch_bin_bitop",
        lambda a, b, op: (
            None if a is None or b is None else bytes(
                (~x) & 0xFF if op == "not"
                else x & y if op == "and"
                else x | y if op == "or" else x ^ y
                for x, y in zip(bytes(a), bytes(b))
            )
        ),
        "binary",
    )
    spark.udf.register(
        "ch_javahash_utf16le_utf8", java_hash_utf16le_from_utf8, "long"
    )
    spark.udf.register("ch_urlhash", url_hash, "long")
    spark.udf.register("ch_url_hierarchy", url_hierarchy, "array<string>")
    spark.udf.register("ch_cut_fss_custom", cut_to_fss_custom, "string")
    spark.udf.register("ch_fss_custom", fss_custom, "string")


def _url_level_length(level: int, s: bytes) -> int:
    """URLHierarchyHashImpl::findLevelLength (FunctionsHashing.h:1121);
    note the reference's protocol scan uses STRICT comparisons (letters
    'a' and 'z' themselves excluded) — bug-compatible."""
    n = len(s)
    pos = 0
    while pos < n and (
        (ord("a") < s[pos] < ord("z")) or (ord("0") < s[pos] < ord("9"))
    ):
        pos += 1
    if (
        pos == 0 or pos >= n or s[pos] != ord(":")
        or pos + 3 >= n + 1 or s[pos + 1 : pos + 3] != b"//"
        or pos + 3 >= n
    ):
        return n if level == 0 else 0
    pos += 3
    while pos < n and s[pos] not in b"/?#":
        pos += 1
    if pos != n:
        pos += 1
    if level == 0:
        return pos
    cur = 0
    while cur != level and pos < n:
        while pos < n and s[pos] in b"/?#":
            pos += 1
        if pos == n:
            break
        while pos < n and s[pos] not in b"/?#":
            pos += 1
        if pos != n:
            pos += 1
        cur += 1
    return pos if cur == level else 0


def url_hash(s: str | None, level=None) -> int | None:
    """URLHash (FunctionsHashing.h URLHashImpl): CityHash64 ignoring
    one trailing /?# character; the level form hashes the hierarchy
    prefix of that level."""
    from daisy_spark.functions.chhash import _to_i64, cityhash64

    if s is None:
        return None
    data = s.encode("utf-8")
    if level is not None:
        data = data[: _url_level_length(int(level), data)]
    if data and data[-1] in b"/?#":
        data = data[:-1]
    return _to_i64(cityhash64(data))


def url_hierarchy(s: str | None) -> list[str] | None:
    """URLHierarchy (src/Functions/URL/URLPathHierarchy.cpp — the file
    names are swapped in the reference): growing URL prefixes split at
    /?# after the protocol://domain element; URLs without protocol://
    yield the whole string as the only element."""
    if s is None:
        return None
    b = s.encode("utf-8")
    n = len(b)
    if n == 0:
        return []
    out = []
    pos = 0
    while pos < n and (
        (ord("a") < b[pos] < ord("z")) or (ord("0") < b[pos] < ord("9"))
    ):
        pos += 1
    if (
        pos == 0 or pos >= n or b[pos] != ord(":")
        or b[pos + 1 : pos + 3] != b"//" or pos + 3 >= n
    ):
        return [s]
    pos += 3
    while pos < n and b[pos] not in b"/?#":
        pos += 1
    if pos != n:
        pos += 1
    out.append(b[:pos].decode("utf-8", "replace"))
    while True:
        while pos < n and b[pos] in b"/?#":
            pos += 1
        if pos == n:
            break
        while pos < n and b[pos] not in b"/?#":
            pos += 1
        if pos != n:
            pos += 1
        out.append(b[:pos].decode("utf-8", "replace"))
    return out


# --- first-significant-subdomain with a custom TLD list -----------------
# (src/Functions/URL/ExtractFirstSignificantSubdomain.h executeCustom +
# FirstSignificantSubdomainCustomImpl.h; the list file is the PUBLIC
# publicsuffix.org data the reference's test config ships)

_TLD_CACHE: dict[str, frozenset] = {}


def _tld_list(name: str) -> frozenset:
    if name in _TLD_CACHE:
        return _TLD_CACHE[name]
    import os

    path = os.environ.get(
        "DAISY_TLD_LIST_DIR",
        "/root/reference/tests/config/top_level_domains",
    ) + f"/{name}.dat"
    entries = set()
    try:
        with open(path, encoding="utf-8") as fh:
            for ln in fh:
                ln = ln.strip()
                if not ln or ln.startswith("//"):
                    continue
                # wildcard/exception markers store the base entry
                entries.add(ln.lstrip("!").removeprefix("*."))
    except OSError:
        pass
    out = frozenset(entries)
    _TLD_CACHE[name] = out
    return out


def _extract_host(s: str) -> str:
    """getURLHost + without_www: chars after an optional scheme:// (or
    //) up to :/?#, leading www. and one trailing dot removed; a host
    with no dot is not a domain."""
    import re as _re

    s = _re.sub(r"^([a-zA-Z][a-zA-Z0-9+.\-]*:)?//", "", s)
    host = _re.split(r"[/:?#]", s, 1)[0]
    if host.startswith("www."):
        host = host[4:]
    if host.endswith("."):
        host = host[:-1]
    if "." not in host:
        return ""
    return host


def cut_to_fss_custom(s: str | None, name: str | None) -> str | None:
    """cutToFirstSignificantSubdomainCustom: left-to-right dot scan —
    the first dot whose whole remainder is in the list wins, keeping
    one label before it (executeCustom), extended to the domain end."""
    if s is None or name is None:
        return None
    tld = _tld_list(str(name))
    host = _extract_host(str(s))
    if not host:
        return ""
    labels = host.split(".")
    for i in range(1, len(labels)):
        if ".".join(labels[i:]) in tld:
            return ".".join(labels[i - 1:])
    return host if len(labels) == 2 else ".".join(labels[-2:])


def fss_custom(s: str | None, name: str | None) -> str | None:
    """firstSignificantSubdomainCustom: the default last-3-periods
    algorithm (ExtractFirstSignificantSubdomain::execute) but with the
    custom list answering the one 2-label-suffix lookup."""
    if s is None or name is None:
        return None
    tld = _tld_list(str(name))
    host = _extract_host(str(s))
    if not host:
        return ""
    labels = host.split(".")
    if len(labels) == 2:
        return labels[0]
    if ".".join(labels[-2:]) in tld:
        return labels[-3]
    return labels[-2]
