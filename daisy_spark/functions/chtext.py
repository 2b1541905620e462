"""Text-shaping scalar functions ported from the reference's semantics.

- ``formatReadableTimeDelta`` — src/Functions/formatReadableTimeDelta.cpp:
  greedy unit decomposition (years 365d, months 30.5d, days, hours,
  minutes, seconds), ", " separators with " and " before the final part,
  singular/plural unit names.
- ``normalizeQuery`` / ``normalizeQueryKeepNames`` —
  src/Parsers/queryNormalization.h: lexer-driven rewrite replacing
  literals with ``?``, comma-separated literal lists with ``?..``, and
  complex identifiers with ``?`` (unless keep_names).
- ``UUIDNumToString`` / ``UUIDStringToNum`` —
  src/Functions/FunctionsCoding.h: FixedString(16) <-> canonical UUID
  text.

Python UDFs: these are presentation-layer functions on cold paths; the
hot path never calls them.
"""

from __future__ import annotations

import math
import re

_UNITS = [
    ("year", 365 * 24 * 3600.0),
    ("month", 30.5 * 24 * 3600.0),
    ("day", 24 * 3600.0),
    ("hour", 3600.0),
    ("minute", 60.0),
    ("second", 1.0),
]

_MAX_UNIT_START = {
    "": 0, "years": 0, "months": 1, "days": 2,
    "hours": 3, "minutes": 4, "seconds": 5,
}


def format_readable_time_delta(value, max_unit: str = "") -> str | None:
    if value is None:
        return None
    value = float(value)
    if math.isnan(value):
        return "nan"
    if math.isinf(value):
        return "inf" if value > 0 else "-inf"
    start = _MAX_UNIT_START.get(max_unit or "", 0)
    out = []
    neg = value < 0
    if neg:
        value = -value
    has_output = False
    for name, size in _UNITS[start:]:
        if value + 1.0 == value:
            # too large for exact smaller units: float text (the
            # reference's writeText(Float64) — no '+' after 'e')
            v = math.floor(value / size)
            txt = repr(v) if v < 2**53 and v == int(v) else None
            if txt is None or "e" in str(v):
                txt = repr(float(v)).replace("e+", "e")
            else:
                txt = str(int(v))
            out.append((", " if has_output else "", f"{txt} {name}s"))
            value = 0.0
            has_output = True
            continue
        num = int(value // size)
        if num == 0:
            if size > 1 or has_output:
                continue
        value -= num * size
        sep = ""
        if has_output:
            sep = " and " if value < 1 else ", "
        out.append((sep, f"{num} {name}" + ("s" if num != 1 else "")))
        has_output = True
    text = "".join(sep + part for sep, part in out)
    return ("-" if neg else "") + text


def _lex(s: str):
    """Minimal port of the reference Lexer for normalization purposes:
    yields (type, start, end) with type in {'ws', 'number', 'string',
    'qident', 'word', 'comma', 'op'}."""
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            j = i + 1
            while j < n and s[j].isspace():
                j += 1
            yield ("ws", i, j)
            i = j
            continue
        if c == "-" and i + 1 < n and s[i + 1] == "-":
            j = s.find("\n", i)
            j = n if j < 0 else j
            yield ("ws", i, j)
            i = j
            continue
        if c == "/" and i + 1 < n and s[i + 1] == "*":
            j = s.find("*/", i + 2)
            j = n if j < 0 else j + 2
            yield ("ws", i, j)
            i = j
            continue
        if c == "'":
            j = i + 1
            while j < n:
                if s[j] == "\\":
                    j += 2
                    continue
                if s[j] == "'":
                    j += 1
                    break
                j += 1
            yield ("string", i, j)
            i = j
            continue
        if c in "`\"":
            q = c
            j = i + 1
            while j < n and s[j] != q:
                j += 1
            j = min(j + 1, n)
            yield ("qident", i, j)
            i = j
            continue
        if c.isdigit() or (
            c == "." and i + 1 < n and s[i + 1].isdigit()
        ):
            j = i
            if s.startswith("0x", i) or s.startswith("0X", i):
                j = i + 2
                while j < n and (s[j] in "abcdefABCDEF" or s[j].isdigit()):
                    j += 1
            else:
                while j < n and (
                    s[j].isdigit() or s[j] in ".eE"
                    or (s[j] in "+-" and j > i and s[j - 1] in "eE")
                ):
                    j += 1
            yield ("number", i, j)
            i = j
            continue
        if c.isalpha() or c == "_":
            j = i + 1
            while j < n and (s[j].isalnum() or s[j] == "_"):
                j += 1
            yield ("word", i, j)
            i = j
            continue
        if c == ",":
            yield ("comma", i, i + 1)
            i += 1
            continue
        yield ("op", i, i + 1)
        i += 1


def normalize_query(s, keep_names: bool = False) -> str | None:
    if s is None:
        return None
    res: list[str] = []
    prev_insignificant = False
    num_literals = 0
    prev_comma = False
    prev_ws = False
    for typ, a, b in _lex(s):
        if typ == "ws":
            if not prev_insignificant:
                if num_literals == 0:
                    if a != 0:
                        res.append(" ")
                else:
                    prev_ws = True
            prev_insignificant = True
            continue
        prev_insignificant = False
        if typ in ("number", "string"):
            if num_literals == 0:
                res.append("?")
            num_literals += 1
            prev_ws = False
            prev_comma = False
            continue
        if typ == "comma" and num_literals:
            prev_comma = True
            continue
        if num_literals > 1:
            res.append("..")
        if prev_comma:
            res.append(",")
        if prev_ws:
            res.append(" ")
        num_literals = 0
        prev_comma = False
        prev_ws = False
        tok = s[a:b]
        if typ == "qident" or (
            typ == "word" and (b >= len(s) or s[b] != "(")
        ):
            if keep_names:
                res.append(tok)
            else:
                complex_ = len(tok) >= 36
                if not complex_:
                    digits = 0
                    for ch in tok:
                        if ch.isspace():
                            complex_ = True
                            break
                        if ch.isdigit():
                            digits += 1
                            if digits > 2:
                                complex_ = True
                                break
                res.append("`?`" if complex_ else tok)
            continue
        res.append(tok)
    if num_literals > 1:
        res.append("..")
    if prev_comma:
        res.append(",")
    if prev_ws:
        res.append(" ")
    return "".join(res)


def normalized_query_hash(s, keep_names: bool = False) -> int | None:
    """sipHash64 over the reference's normalized token markers
    (queryNormalization.h normalizedQueryHash)."""
    if s is None:
        return None
    from daisy_spark.functions.chhash import siphash64

    buf = bytearray()
    num_literals = 0
    prev_comma = False
    for typ, a, b in _lex(s):
        if typ == "ws":
            continue
        if typ in ("number", "string"):
            if num_literals == 0:
                buf += b"\x00"
            num_literals += 1
            prev_comma = False
            continue
        if typ == "comma" and num_literals:
            prev_comma = True
            continue
        if num_literals > 1:
            buf += b"\x00"
        if prev_comma:
            buf += b","
        num_literals = 0
        prev_comma = False
        tok = s[a:b]
        if typ == "qident" or (
            typ == "word" and (b >= len(s) or s[b] != "(")
        ):
            if keep_names:
                buf += tok.encode()
            else:
                complex_ = len(tok) >= 36
                if not complex_:
                    digits = 0
                    for ch in tok:
                        if ch.isspace():
                            complex_ = True
                            break
                        if ch.isdigit():
                            digits += 1
                            if digits > 2:
                                complex_ = True
                                break
                buf += b"\x01" if complex_ else tok.encode()
            continue
        buf += tok.encode()
    h = siphash64(bytes(buf))
    return h - (1 << 64) if h >= (1 << 63) else h


def uuid_num_to_string(b) -> str | None:
    if b is None:
        return None
    if isinstance(b, str):
        b = b.encode("latin-1", "replace")
    b = (bytes(b) + b"\x00" * 16)[:16]
    h = b.hex()
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def uuid_mem_image(s) -> bytes | None:
    """The UUID's in-memory byte image: two little-endian UInt64
    halves, i.e. each 8-byte half of the canonical big-endian form
    REVERSED (src/Functions/reinterpretAs.cpp + DataTypeUUID layout)."""
    if s is None:
        return None
    h = str(s).replace("-", "")
    try:
        b = bytes.fromhex(h)[:16].ljust(16, b"\x00")
    except ValueError:
        return b"\x00" * 16
    return b[0:8][::-1] + b[8:16][::-1]


def reinterpret_as_uuid(b) -> str | None:
    """reinterpretAsUUID: the first 16 input bytes (zero-padded) are
    the in-memory image — reverse each half back to canonical form."""
    if b is None:
        return None
    if isinstance(b, str):
        b = b.encode("latin-1", "replace")
    b = (bytes(b) + b"\x00" * 16)[:16]
    h = (b[0:8][::-1] + b[8:16][::-1]).hex()
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def uuid_string_to_num(s) -> bytes | None:
    if s is None:
        return None
    h = str(s).replace("-", "")
    try:
        return bytes.fromhex(h)[:16]
    except ValueError:
        return b"\x00" * 16


_XML_ENTITY_RE = re.compile(r"&(?:(quot|lt|gt|amp|apos)|#([0-9]+)|#[xX]([0-9a-fA-F]+));")
_XML_NAMED = {"quot": '"', "lt": "<", "gt": ">", "amp": "&", "apos": "'"}


def decode_xml_component(s) -> str | None:
    """decodeXMLComponent: the five standard named entities plus
    decimal / hex numeric character references; anything unrecognized
    (bad name, out-of-range codepoint) stays verbatim
    (src/Functions/decodeXMLComponent.cpp)."""
    if s is None:
        return None

    def _sub(m):
        if m.group(1):
            return _XML_NAMED[m.group(1)]
        cp = int(m.group(2) or m.group(3), 10 if m.group(2) else 16)
        if cp > 0x10FFFF:
            return m.group(0)
        try:
            return chr(cp)
        except ValueError:
            return m.group(0)

    return _XML_ENTITY_RE.sub(_sub, str(s))


def register_udfs(spark) -> None:
    spark.udf.register("ch_decode_xml", decode_xml_component, "string")
    spark.udf.register(
        "ch_fmt_timedelta",
        lambda v, u: format_readable_time_delta(v, u or ""),
        "string",
    )
    spark.udf.register(
        "ch_normalize_query",
        lambda s: normalize_query(s, keep_names=False),
        "string",
    )
    spark.udf.register(
        "ch_normalize_query_keep",
        lambda s: normalize_query(s, keep_names=True),
        "string",
    )
    spark.udf.register(
        "ch_uuid_num_to_string", uuid_num_to_string, "string"
    )
    spark.udf.register("ch_uuid_mem", uuid_mem_image, "binary")
    spark.udf.register(
        "ch_reinterpret_uuid", reinterpret_as_uuid, "string"
    )
    spark.udf.register(
        "ch_binrev",
        lambda b: None if b is None else bytes(b)[::-1],
        "binary",
    )
    spark.udf.register(
        "ch_normalized_query_hash",
        lambda s: normalized_query_hash(s, keep_names=False),
        "long",
    )
    spark.udf.register(
        "ch_normalized_query_hash_keep",
        lambda s: normalized_query_hash(s, keep_names=True),
        "long",
    )
    # binary return: the 16-byte image must not transit a Spark string
    # (invalid-UTF8 bytes would be replaced)
    spark.udf.register(
        "ch_uuid_string_to_num", uuid_string_to_num, "binary"
    )
    spark.udf.register("ch_enum_ranked", ch_enum_ranked_json, "string")


# ---------------------------------------------------------------------------
# arrayEnumerateUniqRanked / arrayEnumerateDenseRanked core
# (src/Functions/array/arrayEnumerateRanked.h executeMethodImpl: walk
# the zipped arrays to the maximum effective depth, enumerate key
# tuples, resetting the counter at each element of depth clear_depth-1;
# shallower args are stretched by duplication)
# ---------------------------------------------------------------------------


def _er_freeze(v):
    if isinstance(v, list):
        return tuple(_er_freeze(x) for x in v)
    return v


def enum_ranked(clear: int, args: list, depths: list[int], dense: bool):
    """Nested-list result for one row; raises ValueError('190') on
    size mismatches (SIZES_OF_ARRAYS_DOESNT_MATCH)."""
    md = max(depths)
    counter: dict = {}
    next_rank = [0]

    def rec(subs, level):
        n = None
        for s, d in zip(subs, depths):
            if d >= level:
                if not isinstance(s, list):
                    raise ValueError("190")
                if n is None:
                    n = len(s)
                elif len(s) != n:
                    raise ValueError("190")
        out = []
        for i in range(n or 0):
            if level == clear - 1:
                counter.clear()
                next_rank[0] = 0
            nsubs = [
                s[i] if d >= level else s for s, d in zip(subs, depths)
            ]
            if level == md:
                key = tuple(
                    _er_freeze(x) for x in nsubs
                )
                if dense:
                    if key not in counter:
                        next_rank[0] += 1
                        counter[key] = next_rank[0]
                    out.append(counter[key])
                else:
                    counter[key] = counter.get(key, 0) + 1
                    out.append(counter[key])
            else:
                out.append(rec(nsubs, level + 1))
        return out

    return rec(args, 1)


def ch_enum_ranked_json(spec: str, data: str) -> str:
    """Runtime bridge: spec = {clear, depths (null = use the value's
    own nesting depth), dense}; data = to_json(named_struct(a0..aN)).
    Returns the COMPACT rendering — byte-equal to the reference's
    Array(UInt32) TSV text."""
    import json

    sp = json.loads(spec)
    d = json.loads(data)
    args = [d.get(f"a{i}") for i in range(len(sp["depths"]))]

    def vdepth(v):
        if not isinstance(v, list):
            return 0
        return 1 + max((vdepth(x) for x in v), default=0)

    depths = [
        dp if dp is not None else max(vdepth(a), 1)
        for dp, a in zip(sp["depths"], args)
    ]
    res = enum_ranked(sp["clear"], args, depths, bool(sp["dense"]))
    return json.dumps(res, separators=(",", ":"))
