"""Cartesian / spherical polygon functions and WKT codec.

The reference wraps boost::geometry behind scalar functions
(src/Functions/polygonsWithin.cpp, polygonsDistance.cpp,
polygonsEquals.cpp, polygonPerimeter.cpp, polygonArea.cpp,
polygonConvexHull.cpp, readWkt.cpp, wkt.cpp).  This module re-derives
the same results from the published geometry formulas:

* cartesian area  — shoelace;
* spherical area  — per-edge spherical excess
  ``2*atan2(tan(dlon/2)*(tan(lat1/2)+tan(lat2/2)),
  1+tan(lat1/2)*tan(lat2/2))`` on the unit sphere (the classical
  Chamberlain-Duquette / l'Huilier trapezoid form boost uses);
* spherical distance — haversine central angle (radians);
* convex hull     — Andrew monotone chain, emitted clockwise from the
  lexicographically smallest vertex (boost output convention);
* within          — even-odd membership of every vertex plus a proper
  segment-crossing test (planar; adequate for the corpus shapes).

ClickHouse geometry model: Point = Tuple(Float64, Float64) (rendered
as struct col1/col2 in our engine), Ring = Array(Point), Polygon =
Array(Ring) (first ring outer, rest holes), MultiPolygon =
Array(Polygon).  The dialect passes arguments through ``to_json`` so a
single UDF signature accepts any nesting depth.

Corpus-presentation tier (same as functions/chh3.py): plain Python
UDFs, never on a distributed hot path.
"""

from __future__ import annotations

import json
import math


# -- parsing / normalisation ------------------------------------------------

def _from_json(s: str | None):
    if s is None:
        return None
    v = json.loads(s)

    def conv(x):
        if isinstance(x, dict):  # {"col1": lon, "col2": lat}
            return (float(x["col1"]), float(x["col2"]))
        return [conv(e) for e in x]

    return conv(v)


def _depth(g) -> int:
    """0 = point, 1 = ring, 2 = polygon, 3 = multipolygon."""
    d = 0
    while isinstance(g, list):
        if not g:
            return d + 1
        g = g[0]
        d += 1
    return d


def _as_multi(g) -> list:
    """Promote point/ring/polygon to a multipolygon."""
    d = _depth(g)
    for _ in range(3 - d):
        g = [g]
    return g


def _open_ring(ring):
    """Drop the duplicate closing vertex for vertex/edge math."""
    if len(ring) > 1 and ring[0] == ring[-1]:
        return ring[:-1]
    return ring


def _edges(ring):
    r = _open_ring(ring)
    n = len(r)
    for i in range(n):
        yield r[i], r[(i + 1) % n]


# -- wkt codec --------------------------------------------------------------

def _wkt_num(v: float) -> str:
    if v == int(v) and abs(v) < 9e15:
        return str(int(v))
    return repr(v)


def _wkt_ring(ring, close: bool) -> str:
    pts = list(ring)
    if close and len(pts) > 1 and pts[0] != pts[-1]:
        pts.append(pts[0])
    return "(" + ",".join(f"{_wkt_num(x)} {_wkt_num(y)}" for x, y in pts) + ")"


def wkt(s: str | None) -> str | None:
    """Serialize a geometry: a bare ring prints its vertices verbatim,
    polygon/multipolygon rings are closed (boost correct())."""
    g = _from_json(s)
    if g is None:
        return None
    d = _depth(g)
    if d == 0:
        return f"POINT({_wkt_num(g[0])} {_wkt_num(g[1])})"
    if d == 1:
        return "POLYGON" + "(" + _wkt_ring(g, close=False) + ")"
    if d == 2:
        return "POLYGON(" + ",".join(_wkt_ring(r, True) for r in g) + ")"
    return "MULTIPOLYGON(" + ",".join(
        "(" + ",".join(_wkt_ring(r, True) for r in poly) + ")" for poly in g
    ) + ")"


def _parse_wkt_ring(txt: str):
    return [
        (float(a), float(b))
        for a, b in (p.split() for p in txt.split(",") if p.strip())
    ]


def _split_parens(txt: str) -> list[str]:
    """Split depth-0 comma-separated parenthesised groups."""
    out, depth, cur = [], 0, []
    for ch in txt:
        if ch == "(":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == ")":
            depth -= 1
            if depth == 0:
                out.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return out


def read_wkt_point(s: str | None):
    if not s:
        return None
    inner = s.strip()[len("POINT"):].strip().strip("()")
    x, y = inner.split()
    return (float(x), float(y))


def read_wkt_ring(s: str | None):
    if not s:
        return None
    body = _split_parens(s.strip()[len("POLYGON"):])[0]
    return _parse_wkt_ring(_split_parens(body)[0])


def read_wkt_polygon(s: str | None):
    if not s:
        return None
    body = _split_parens(s.strip()[len("POLYGON"):])[0]
    return [_parse_wkt_ring(r) for r in _split_parens(body)]


def read_wkt_multipolygon(s: str | None):
    if not s:
        return None
    body = _split_parens(s.strip()[len("MULTIPOLYGON"):])[0]
    return [[_parse_wkt_ring(r) for r in _split_parens(p)]
            for p in _split_parens(body)]


# -- measures ---------------------------------------------------------------

def perimeter_cartesian(s: str | None) -> float | None:
    g = _from_json(s)
    if g is None:
        return None
    total = 0.0
    for poly in _as_multi(g):
        for ring in poly:
            for (x1, y1), (x2, y2) in _edges(ring):
                total += math.hypot(x2 - x1, y2 - y1)
    return total


def area_cartesian(s: str | None) -> float | None:
    g = _from_json(s)
    if g is None:
        return None
    if not any(
        ring for poly in _as_multi(g) for ring in poly
    ):
        # the reference raises BAD_ARGUMENTS (36) for empty geometry
        raise ValueError("polygonAreaCartesian: empty geometry")
    total = 0.0
    for poly in _as_multi(g):
        for k, ring in enumerate(poly):
            a = 0.0
            for (x1, y1), (x2, y2) in _edges(ring):
                a += x1 * y2 - x2 * y1
            # outer ring adds, holes subtract
            total += abs(a) / 2.0 * (1 if k == 0 else -1)
    return total


def area_spherical(s: str | None) -> float | None:
    g = _from_json(s)
    if g is None:
        return None
    total = 0.0
    for poly in _as_multi(g):
        for k, ring in enumerate(poly):
            e_sum = 0.0
            for (lon1, lat1), (lon2, lat2) in _edges(ring):
                l1, p1 = math.radians(lon1), math.radians(lat1)
                l2, p2 = math.radians(lon2), math.radians(lat2)
                t1, t2 = math.tan(p1 / 2), math.tan(p2 / 2)
                e_sum += 2 * math.atan2(
                    math.tan((l2 - l1) / 2) * (t1 + t2), 1 + t1 * t2
                )
            total += abs(e_sum) * (1 if k == 0 else -1)
    return total


def _haversine(lon1, lat1, lon2, lat2) -> float:
    l1, p1 = math.radians(lon1), math.radians(lat1)
    l2, p2 = math.radians(lon2), math.radians(lat2)
    a = (
        math.sin((p2 - p1) / 2) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin((l2 - l1) / 2) ** 2
    )
    return 2 * math.asin(math.sqrt(a))


# -- predicates -------------------------------------------------------------

def _pt_in_polygon(pt, poly) -> bool:
    """Even-odd over all rings (holes flip parity)."""
    x, y = pt
    inside = False
    for ring in poly:
        for (x1, y1), (x2, y2) in _edges(ring):
            if (y1 > y) != (y2 > y):
                xi = (x2 - x1) * (y - y1) / (y2 - y1) + x1
                if x < xi:
                    inside = not inside
    return inside


def _pt_in_multi(pt, mp) -> bool:
    return any(_pt_in_polygon(pt, poly) for poly in mp)


def _segs_cross(a1, a2, b1, b2) -> bool:
    """Proper intersection (shared endpoints / collinear touch do not
    count)."""
    d1x, d1y = a2[0] - a1[0], a2[1] - a1[1]
    d2x, d2y = b2[0] - b1[0], b2[1] - b1[1]
    den = d1x * d2y - d1y * d2x
    if den == 0:
        return False
    t = ((b1[0] - a1[0]) * d2y - (b1[1] - a1[1]) * d2x) / den
    u = ((b1[0] - a1[0]) * d1y - (b1[1] - a1[1]) * d1x) / den
    return 0 < t < 1 and 0 < u < 1


def _all_edges(mp):
    for poly in mp:
        for ring in poly:
            yield from _edges(ring)


def polygons_within(sa: str | None, sb: str | None) -> int | None:
    ga, gb = _from_json(sa), _from_json(sb)
    if ga is None or gb is None:
        return None
    a, b = _as_multi(ga), _as_multi(gb)
    ea = list(_all_edges(a))
    eb = list(_all_edges(b))
    for p1, p2 in ea:
        for q1, q2 in eb:
            if _segs_cross(p1, p2, q1, q2):
                return 0
    for poly in a:
        for ring in poly:
            for pt in _open_ring(ring):
                if not _pt_in_multi(pt, b):
                    return 0
    return 1


def polygons_distance_cartesian(sa: str | None, sb: str | None):
    ga, gb = _from_json(sa), _from_json(sb)
    if ga is None or gb is None:
        return None
    a, b = _as_multi(ga), _as_multi(gb)
    ea, eb = list(_all_edges(a)), list(_all_edges(b))
    # overlapping or containing -> 0
    for p1, p2 in ea:
        for q1, q2 in eb:
            if _segs_cross(p1, p2, q1, q2):
                return 0.0
    pa = [pt for poly in a for ring in poly for pt in _open_ring(ring)]
    pb = [pt for poly in b for ring in poly for pt in _open_ring(ring)]
    if (pa and eb and _pt_in_multi(pa[0], b)) or (
        pb and ea and _pt_in_multi(pb[0], a)
    ):
        return 0.0

    def seg_pt(p, a1, a2):
        ax, ay = a2[0] - a1[0], a2[1] - a1[1]
        den = ax * ax + ay * ay
        if den == 0:
            return math.hypot(p[0] - a1[0], p[1] - a1[1])
        t = max(0.0, min(1.0, ((p[0] - a1[0]) * ax + (p[1] - a1[1]) * ay) / den))
        return math.hypot(p[0] - (a1[0] + t * ax), p[1] - (a1[1] + t * ay))

    best = math.inf
    if not ea:
        ea = [(p, p) for p in pa]
    if not eb:
        eb = [(p, p) for p in pb]
    for p1, p2 in ea:
        for q1, q2 in eb:
            best = min(
                best, seg_pt(p1, q1, q2), seg_pt(p2, q1, q2),
                seg_pt(q1, p1, p2), seg_pt(q2, p1, p2),
            )
    return best


def polygons_distance_spherical(sa: str | None, sb: str | None):
    ga, gb = _from_json(sa), _from_json(sb)
    if ga is None or gb is None:
        return None
    pa = [
        pt for poly in _as_multi(ga) for ring in poly
        for pt in _open_ring(ring)
    ]
    pb = [
        pt for poly in _as_multi(gb) for ring in poly
        for pt in _open_ring(ring)
    ]
    if not pa or not pb:
        return None
    return min(
        _haversine(x1, y1, x2, y2) for x1, y1 in pa for x2, y2 in pb
    )


def _canon_ring(ring):
    r = _open_ring(ring)
    if not r:
        return ()
    # orientation-normalise (reverse is the same ring), rotate to min
    rev = list(reversed(r))

    def rot(rr):
        k = rr.index(min(rr))
        return tuple(rr[k:] + rr[:k])

    return min(rot(r), rot(rev))


def polygons_equals(sa: str | None, sb: str | None) -> int | None:
    ga, gb = _from_json(sa), _from_json(sb)
    if ga is None or gb is None:
        return None
    ca = sorted(
        tuple(_canon_ring(ring) for ring in poly) for poly in _as_multi(ga)
    )
    cb = sorted(
        tuple(_canon_ring(ring) for ring in poly) for poly in _as_multi(gb)
    )
    return 1 if ca == cb else 0


def convex_hull_cartesian(s: str | None):
    """Hull of all vertices, emitted as a closed clockwise ring starting
    at the lexicographically smallest vertex (boost convention)."""
    g = _from_json(s)
    if g is None:
        return None
    pts = sorted(
        {pt for poly in _as_multi(g) for ring in poly for pt in ring}
    )
    if len(pts) < 3:
        ring = list(pts) + [pts[0]] if pts else []
        return [ring]

    def cross(o, p, q):
        return (p[0] - o[0]) * (q[1] - o[1]) - (p[1] - o[1]) * (q[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    ccw = lower[:-1] + upper[:-1]
    cw = list(reversed(ccw))
    k = cw.index(min(cw))
    ring = cw[k:] + cw[:k]
    ring.append(ring[0])
    return [ring]


# -- registration -----------------------------------------------------------

def register_udfs(spark) -> None:
    _PT = "struct<col1:double,col2:double>"
    _POLY = f"array<array<{_PT}>>"
    _MULTI = f"array<{_POLY}>"
    spark.udf.register("ch_wkt", wkt, "string")
    spark.udf.register("ch_read_wkt_point", read_wkt_point, _PT)
    spark.udf.register("ch_read_wkt_ring", read_wkt_ring, f"array<{_PT}>")
    spark.udf.register("ch_read_wkt_polygon", read_wkt_polygon, _POLY)
    spark.udf.register(
        "ch_read_wkt_multipolygon", read_wkt_multipolygon, _MULTI
    )
    spark.udf.register(
        "ch_polygon_perimeter_cartesian", perimeter_cartesian, "double"
    )
    spark.udf.register("ch_polygon_area_cartesian", area_cartesian, "double")
    spark.udf.register("ch_polygon_area_spherical", area_spherical, "double")
    spark.udf.register("ch_polygons_within", polygons_within, "tinyint")
    spark.udf.register(
        "ch_polygons_distance_cartesian", polygons_distance_cartesian,
        "double",
    )
    spark.udf.register(
        "ch_polygons_distance_spherical", polygons_distance_spherical,
        "double",
    )
    spark.udf.register("ch_polygons_equals", polygons_equals, "tinyint")
    spark.udf.register(
        "ch_polygon_convex_hull_cartesian", convex_hull_cartesian, _POLY
    )
