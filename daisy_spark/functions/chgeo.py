"""Reference-exact geo distance functions.

Implements the published sphinxsearch-derived fast geodist algorithm the
reference uses (src/Functions/greatCircleDistance.cpp, Apache-2.0 from
sphinxsearch): cos/asin-sqrt/metric lookup tables in FLOAT32 arithmetic,
flat-ellipsoid model under 13 degrees of longitude difference, haversine
beyond.  Float32 ops are mirrored with numpy.float32 so results are
bit-comparable with the reference's printed shortest-round-trip floats.

Python UDF surface (corpus/test scale) — not a 100-TB hot path.
"""

from __future__ import annotations

import math

import numpy as np

_PI = 3.14159265358979323846
_RAD_IN_DEG = np.float32(_PI / 180.0)
_RAD_IN_DEG_HALF = np.float32(_PI / 360.0)
_COS_LUT_SIZE = 1024
_ASIN_SQRT_LUT_SIZE = 512
_METRIC_LUT_SIZE = 1024
_EARTH_RADIUS = np.float32(6371007.180918475)
_EARTH_DIAMETER = np.float32(2) * _EARTH_RADIUS

_cos_lut = np.array(
    [math.cos(2 * _PI * i / _COS_LUT_SIZE) for i in range(_COS_LUT_SIZE + 1)],
    dtype=np.float32,
)
_asin_sqrt_lut = np.array(
    [
        math.asin(math.sqrt(i / _ASIN_SQRT_LUT_SIZE))
        for i in range(_ASIN_SQRT_LUT_SIZE + 1)
    ],
    dtype=np.float32,
)
_sphere_metric_lut = np.zeros(_METRIC_LUT_SIZE + 1, dtype=np.float32)
_sphere_metric_meters_lut = np.zeros(_METRIC_LUT_SIZE + 1, dtype=np.float32)
_wgs84_metric_meters_lut = np.zeros(2 * (_METRIC_LUT_SIZE + 1), dtype=np.float32)
for _i in range(_METRIC_LUT_SIZE + 1):
    _latitude = _i * (_PI / _METRIC_LUT_SIZE) - _PI * 0.5
    _wgs84_metric_meters_lut[_i * 2] = (
        111132.09 - 566.05 * math.cos(2 * _latitude)
        + 1.20 * math.cos(4 * _latitude)
    ) ** 2
    _wgs84_metric_meters_lut[_i * 2 + 1] = (
        111415.13 * math.cos(_latitude) - 94.55 * math.cos(3 * _latitude)
        + 0.12 * math.cos(5 * _latitude)
    ) ** 2
    _sphere_metric_meters_lut[_i] = (
        float(_EARTH_DIAMETER) * _PI / 360
    ) ** 2 * math.cos(_latitude) ** 2
    _sphere_metric_lut[_i] = np.float32(math.cos(_latitude)) ** 2


def _deg_diff(f: np.float32) -> np.float32:
    f = np.float32(abs(float(f)))
    if f > 180:
        f = np.float32(360) - f
    return f


def _fast_cos(x: np.float32) -> np.float32:
    y = np.float32(abs(float(x))) * np.float32(_COS_LUT_SIZE / _PI / 2)
    i = int(y)
    y -= np.float32(i)
    i &= _COS_LUT_SIZE - 1
    return _cos_lut[i] + (_cos_lut[i + 1] - _cos_lut[i]) * y


def _fast_sin(x: np.float32) -> np.float32:
    y = np.float32(abs(float(x))) * np.float32(_COS_LUT_SIZE / _PI / 2)
    i = int(y)
    y -= np.float32(i)
    i = (i - _COS_LUT_SIZE // 4) & (_COS_LUT_SIZE - 1)
    return _cos_lut[i] + (_cos_lut[i + 1] - _cos_lut[i]) * y


def _fast_asin_sqrt(x: np.float32) -> np.float32:
    if x < np.float32(0.122):
        y = np.float32(math.sqrt(float(x)))
        return (
            y + x * y * np.float32(0.166666666666666)
            + x * x * y * np.float32(0.075)
            + x * x * x * y * np.float32(0.044642857142857)
        )
    if x < np.float32(0.948):
        x = x * np.float32(_ASIN_SQRT_LUT_SIZE)
        i = int(x)
        return _asin_sqrt_lut[i] + (
            _asin_sqrt_lut[i + 1] - _asin_sqrt_lut[i]
        ) * (x - np.float32(i))
    return np.float32(math.asin(math.sqrt(float(x))))


def distance(
    lon1: float, lat1: float, lon2: float, lat2: float, method: str
) -> float:
    """method: 'degrees' | 'sphere' | 'wgs84'."""
    lon1 = np.float32(lon1)
    lat1 = np.float32(lat1)
    lon2 = np.float32(lon2)
    lat2 = np.float32(lat2)
    lat_diff = _deg_diff(lat1 - lat2)
    lon_diff = _deg_diff(lon1 - lon2)
    if lon_diff < 13:
        latitude_midpoint = (
            (lat1 + lat2 + np.float32(180))
            * np.float32(_METRIC_LUT_SIZE)
            / np.float32(360)
        )
        idx = int(latitude_midpoint) & (_METRIC_LUT_SIZE - 1)
        frac = latitude_midpoint - np.float32(int(latitude_midpoint))
        if method == "degrees":
            k_lat = np.float32(1)
            k_lon = _sphere_metric_lut[idx] + (
                _sphere_metric_lut[idx + 1] - _sphere_metric_lut[idx]
            ) * frac
        elif method == "sphere":
            k_lat = np.float32((float(_EARTH_DIAMETER) * _PI / 360) ** 2)
            k_lon = _sphere_metric_meters_lut[idx] + (
                _sphere_metric_meters_lut[idx + 1]
                - _sphere_metric_meters_lut[idx]
            ) * frac
        else:
            k_lat = _wgs84_metric_meters_lut[idx * 2] + (
                _wgs84_metric_meters_lut[(idx + 1) * 2]
                - _wgs84_metric_meters_lut[idx * 2]
            ) * frac
            k_lon = _wgs84_metric_meters_lut[idx * 2 + 1] + (
                _wgs84_metric_meters_lut[(idx + 1) * 2 + 1]
                - _wgs84_metric_meters_lut[idx * 2 + 1]
            ) * frac
        return float(
            np.float32(
                math.sqrt(
                    float(
                        k_lat * lat_diff * lat_diff
                        + k_lon * lon_diff * lon_diff
                    )
                )
            )
        )
    a = (
        _fast_sin(lat_diff * _RAD_IN_DEG_HALF) ** 2
        + _fast_cos(lat1 * _RAD_IN_DEG)
        * _fast_cos(lat2 * _RAD_IN_DEG)
        * _fast_sin(lon_diff * _RAD_IN_DEG_HALF) ** 2
    )
    if method == "degrees":
        return float(np.float32(360.0 / _PI) * _fast_asin_sqrt(a))
    return float(_EARTH_DIAMETER * _fast_asin_sqrt(a))


def register_udfs(spark) -> None:
    def _mk(method):
        return lambda a, b, c, d: (
            None if None in (a, b, c, d)
            else distance(a, b, c, d, method)
        )

    spark.udf.register("ch_great_circle_distance", _mk("sphere"), "float")
    spark.udf.register(
        "ch_geohashes_in_box", geohashes_in_box, "array<string>"
    )
    spark.udf.register("ch_geo_distance", _mk("wgs84"), "float")
    spark.udf.register("ch_great_circle_angle", _mk("degrees"), "float")
    spark.udf.register(
        "ch_geohash_encode",
        lambda lon, lat, p: (
            None if lon is None or lat is None
            else _geohash_encode_py(
                float(lon), float(lat), 12 if p is None else int(p)
            )
        ),
        "string",
    )
    spark.udf.register(
        "ch_geohash_decode", _geohash_decode_py,
        "struct<col1:double,col2:double>",
    )

_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_encode_py(lon: float, lat: float, precision: int) -> str:
    """Pure-python geohashEncode (src/Functions/GeoHash.cpp
    geohashEncodeImpl): interleaved bisection, base32."""
    p = precision if 0 < precision <= 12 else 12
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    for i in range(5 * p):
        if i % 2 == 0:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
    out = []
    for g in range(p):
        v = 0
        for b in bits[g * 5 : g * 5 + 5]:
            v = (v << 1) | b
        out.append(_GEOHASH_ALPHABET[v])
    return "".join(out)


def _geohash_decode_py(s: str | None):
    """geohashDecode (src/Functions/GeoHash.cpp geohashDecode):
    bisection midpoint of the decoded cell; empty input -> (0, 0),
    input truncated at 12 symbols, unknown symbols decode as 0x1F
    masked bits."""
    if s is None:
        return None
    p = min(len(s), 12)
    if p == 0:
        return (0.0, 0.0)
    bits = []
    for ch in s[:p]:
        v = _GEOHASH_ALPHABET.find(ch)
        v = (0xFF if v < 0 else v) & 0x1F
        for k in (4, 3, 2, 1, 0):
            bits.append((v >> k) & 1)
    lon_bits = bits[0::2]
    lat_bits = bits[1::2]

    def _dec(bs, lo, hi):
        mid = (lo + hi) / 2
        for b in bs:
            if b:
                lo = mid
            else:
                hi = mid
            mid = (lo + hi) / 2
        return mid

    return (_dec(lon_bits, -180.0, 180.0), _dec(lat_bits, -90.0, 90.0))


def geohashes_in_box(lon_min, lat_min, lon_max, lat_max, precision):
    """geohashesInBox (src/Functions/GeoHash.cpp geohashesInBoxPrepare +
    geohashesInBox): grid of geohash cell origins covering the box."""
    import math as _m

    if None in (lon_min, lat_min, lon_max, lat_max, precision):
        return None
    lon_min, lat_min = float(lon_min), float(lat_min)
    lon_max, lat_max = float(lon_max), float(lat_max)
    p = int(precision)
    p = p if 0 < p <= 12 else 12
    if (
        lon_max < lon_min or lat_max < lat_min
        or any(_m.isnan(v) for v in (lon_min, lat_min, lon_max, lat_max))
    ):
        return []
    lon_min = min(max(lon_min, -180.0), 180.0)
    lon_max = min(max(lon_max, -180.0), 180.0)
    lat_min = min(max(lat_min, -90.0), 90.0)
    lat_max = min(max(lat_max, -90.0), 90.0)
    bits_lon = (5 * p) // 2 + (1 if p % 2 else 0)
    bits_lat = (5 * p) // 2
    lon_step = _m.ldexp(360.0, -bits_lon)
    lat_step = _m.ldexp(180.0, -bits_lat)
    lon0 = _m.floor(lon_min / lon_step) * lon_step
    lat0 = _m.floor(lat_min / lat_step) * lat_step
    lon1 = _m.ceil(lon_max / lon_step) * lon_step
    lat1 = _m.ceil(lat_max / lat_step) * lat_step
    lon_items = int((lon1 - lon0) / lon_step)
    lat_items = int((lat1 - lat0) / lat_step)
    if lon_items * lat_items > 2_000_000:
        raise ValueError("geohashesInBox: too many cells")
    out = []
    for i in range(lon_items):
        for j in range(lat_items):
            out.append(_geohash_encode_py(
                lon0 + lon_step * i, lat0 + lat_step * j, p
            ))
    if not out:
        out.append(_geohash_encode_py(lon0, lat0, p))
    return out

