"""Scalar Column builders the registry queries compose (SURVEY §2.8).

ClickHouse scalar names resolve through the SQL dialect
(``plans/dialect.py``); the builders here are the DataFrame-side forms a
``queries*.py`` query calls directly.  Each produces a Spark ``Column``
from ``Column`` args, built from ``pyspark.sql.functions`` only, so
everything stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    """Coerce python literals to Columns."""
    return x if isinstance(x, Column) else F.lit(x)


def to_start_of_hour(x):
    return F.date_trunc("hour", _c(x))


def ipv4_num_to_string(x):
    x = _c(x).cast("bigint")
    return F.concat_ws(
        ".",
        (F.shiftright(x, 24) % 256).cast("string"),
        (F.shiftright(x, 16) % 256).cast("string"),
        (F.shiftright(x, 8) % 256).cast("string"),
        (x % 256).cast("string"),
    )


def mac_num_to_string(x):
    """MACNumToString: 48-bit int -> aa:bb:cc:dd:ee:ff."""
    h = F.lower(F.lpad(F.hex(_c(x).cast("bigint")), 12, "0"))
    return F.concat_ws(
        ":", *[F.substring(h, i * 2 + 1, 2) for i in range(6)]
    )


def bitmask_to_list(x):
    """bitmaskToList(n): comma-joined powers of two summing to n,
    ascending (src/Functions/FunctionsCoding.h)."""
    n = _c(x).cast("bigint")
    # 2^i via double pow is exact for powers of two (single mantissa bit)
    bits = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(62)),
            lambda i: F.pow(F.lit(2.0), i).cast("bigint"),
        ),
        lambda b: (n.bitwiseAND(b)) != 0,
    )
    return F.array_join(F.transform(bits, lambda b: b.cast("string")), ",")


def great_circle_distance(lon1, lat1, lon2, lat2):
    """greatCircleDistance in meters — haversine on the reference's sphere
    radius 6371 km (src/Functions/greatCircleDistance.cpp)."""
    rlat1, rlat2 = F.radians(_c(lat1)), F.radians(_c(lat2))
    dlat = rlat2 - rlat1
    dlon = F.radians(_c(lon2)) - F.radians(_c(lon1))
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(a))


def neighbor(x, offset: int, order_by, partition_by: list | None = None, default=None):
    """neighbor(x, offset) — value at row offset away. The reference's form
    is block-local ("approximate" per its own docs); ours is the exact
    window version and therefore needs an explicit order column."""
    from pyspark.sql import Window

    w = Window.partitionBy(*(partition_by or [])).orderBy(_c(order_by))
    if offset >= 0:
        return F.lead(_c(x), offset, default).over(w)
    return F.lag(_c(x), -offset, default).over(w)


def running_difference(x, order_by, partition_by: list | None = None):
    """runningDifference(x): x − previous x in order; 0 for the first row
    (matches the reference's first-row-in-block behavior)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*(partition_by or [])).orderBy(_c(order_by))
    return _c(x) - F.lag(_c(x), 1, None).over(w)


def running_accumulate(x, order_by, partition_by: list | None = None):
    """runningAccumulate(state): running sum in order (the reference
    accumulates an aggregation state; sum is its overwhelming use)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*(partition_by or []))
        .orderBy(_c(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.sum(_c(x)).over(w)

