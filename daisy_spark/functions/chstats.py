"""Statistical-test aggregate finalizers matching the reference
bit-for-bit.

The reference computes p-values by 1e6-step Simpson integration in
IEEE doubles with a long-double step (src/AggregateFunctions/
StatCommon.h:integrateSimpson), NOT by a closed-form incomplete-beta —
so byte-exact parity requires replaying the same arithmetic: the same
accumulation order (naive sequential double adds), the same libm calls
(math.pow/math.lgamma bind the same glibc functions std::pow/lgamma_r
use), and a long-double step via numpy.longdouble (x86 80-bit, like the
reference's ``long double``).

These run as Python UDFs over ONE collected row per aggregation group —
corpus/test surface only, never a distributed hot path (the DataFrame
API versions in functions/stats.py are the scale path).

- welchTTest / studentTTest: AggregateFunctionWelchTTest.cpp /
  AggregateFunctionStudentTTest.cpp + AggregateFunctionTTest.h
- mannWhitneyUTest: AggregateFunctionMannWhitney.h
- rankCorr: AggregateFunctionRankCorrelation.h
"""

from __future__ import annotations

import ctypes
import ctypes.util
import math

import numpy as np

# CPython's math.lgamma is its own Lanczos implementation; the reference
# calls glibc lgamma_r, which differs by ~1 ulp — visible at df~1000
# where lgamma(499) ~ 2600 and 1 ulp is 4.5e-13 absolute. Bind glibc's.
try:
    _libm = ctypes.CDLL(ctypes.util.find_library("m") or "libm.so.6")
    _lgamma_r = _libm.lgamma_r
    _lgamma_r.restype = ctypes.c_double
    _lgamma_r.argtypes = [ctypes.c_double, ctypes.POINTER(ctypes.c_int)]

    def _lgamma(x: float) -> float:
        sign = ctypes.c_int(0)
        return _lgamma_r(x, ctypes.byref(sign))
except Exception:  # noqa: BLE001
    _lgamma = math.lgamma


def _integrate_simpson(a: float, b: float, func) -> float:
    """StatCommon.h:integrateSimpson — 1e6+ iterations, long-double h,
    sequential double accumulation."""
    iterations = int(max(1e6, 1e4 * abs(round(b) - round(a))))
    # (b - a) / iterations happens in DOUBLE (both operands convert to
    # double) and only the RESULT widens to the long-double h
    h = np.longdouble((b - a) / iterations)
    a_ld = np.longdouble(a)
    idx_odd = np.arange(1, iterations, 2, dtype=np.longdouble)
    xs_odd = (a_ld + idx_odd * h).astype(np.float64).tolist()
    sum_odds = 0.0
    for x in xs_odd:
        sum_odds += func(x)
    idx_even = np.arange(2, iterations, 2, dtype=np.longdouble)
    xs_even = (a_ld + idx_even * h).astype(np.float64).tolist()
    sum_evens = 0.0
    for x in xs_even:
        sum_evens += func(x)
    total = np.longdouble(
        func(a) + func(b) + 2 * sum_evens + 4 * sum_odds
    ) * h / np.longdouble(3)
    return float(total)


def _t_p_value(degrees_of_freedom: float, t_stat2: float) -> float:
    """AggregateFunctionTTest.h:getPValue."""
    df = degrees_of_freedom
    ex = df / 2 - 1

    def f(x: float) -> float:
        if x == 0.0 and ex < 0:
            return math.inf
        try:
            return math.pow(x, ex) / math.sqrt(1 - x)
        except ValueError:
            return 0.0

    numerator = _integrate_simpson(0.0, df / (t_stat2 + df), f)
    denominator = math.exp(
        _lgamma(df / 2) + _lgamma(0.5) - _lgamma(df / 2 + 0.5)
    )
    return min(1.0, max(0.0, numerator / denominator))


def _split_xy(values, groups):
    xs, ys = [], []
    for v, g in zip(values, groups):
        if v is None or g is None:
            continue
        (ys if int(g) else xs).append(float(v))
    return xs, ys


def _moments(sample):
    """TTestMoments: n, sum, sum of squares accumulated in row order."""
    n = 0.0
    s1 = 0.0
    s2 = 0.0
    for v in sample:
        n += 1
        s1 += v
        s2 += v * v
    return n, s1, s2


def welch_ttest(values, groups):
    if values is None or groups is None:
        return None
    xs, ys = _split_xy(values, groups)
    if len(xs) < 2 or len(ys) < 2:
        return None
    nx, x1, x2 = _moments(xs)
    ny, y1, y2 = _moments(ys)
    mean_x = x1 / nx
    mean_y = y1 / ny
    sx2 = (x2 + nx * mean_x * mean_x - 2 * mean_x * x1) / (nx - 1)
    sy2 = (y2 + ny * mean_y * mean_y - 2 * mean_y * y1) / (ny - 1)
    t_stat = (mean_x - mean_y) / math.sqrt(sx2 / nx + sy2 / ny)
    numerator_sqrt = sx2 / nx + sy2 / ny
    numerator = numerator_sqrt * numerator_sqrt
    denominator_x = sx2 * sx2 / (nx * nx * (nx - 1))
    denominator_y = sy2 * sy2 / (ny * ny * (ny - 1))
    df = numerator / (denominator_x + denominator_y)
    p = min(1.0, max(0.0, _t_p_value(df, t_stat * t_stat)))
    return (t_stat, p)


def student_ttest(values, groups):
    if values is None or groups is None:
        return None
    xs, ys = _split_xy(values, groups)
    if len(xs) < 2 or len(ys) < 2:
        return None
    nx, x1, x2 = _moments(xs)
    ny, y1, y2 = _moments(ys)
    mean_x = x1 / nx
    mean_y = y1 / ny
    df = nx + ny - 2
    all_x = x2 + nx * mean_x * mean_x - 2 * mean_x * x1
    all_y = y2 + ny * mean_y * mean_y - 2 * mean_y * y1
    s2 = (all_x + all_y) / df
    std_err2 = s2 * (1.0 / nx + 1.0 / ny)
    t_stat = (mean_x - mean_y) / math.sqrt(std_err2)
    p = min(1.0, max(0.0, _t_p_value(df, t_stat * t_stat)))
    return (t_stat, p)


def _ranks_and_tie_correction(values):
    """StatCommon.h:computeRanksAndTieCorrection — averaged ranks,
    Kendall tie correction factor."""
    size = len(values)
    indexes = sorted(range(size), key=lambda k: values[k])
    left = 0
    tie_numerator = 0.0
    out = [0.0] * size
    while left < size:
        right = left
        while right < size and values[indexes[left]] == values[indexes[right]]:
            right += 1
        adjusted = (left + right + 1.0) / 2.0
        count_equal = right - left
        if count_equal == size:
            raise ValueError("All numbers in both samples are identical")
        tie_numerator += math.pow(count_equal, 3) - count_equal
        for it in range(left, right):
            out[indexes[it]] = adjusted
        left = right
    return out, 1 - (tie_numerator / (math.pow(size, 3) - size))


def mann_whitney_utest(values, groups, alternative="two-sided",
                       continuity=1):
    if values is None or groups is None:
        return None
    xs, ys = _split_xy(values, groups)
    if not xs or not ys:
        return None
    # Bit-parity quirk: the reference's ConcatenatedSamples::operator[]
    # (AggregateFunctionMannWhitney.h:109-113) reads
    # second[ind % first.size()] for ind >= first.size(), which equals a
    # true concatenation only while n2 <= n1; when n2 > n1 it re-reads
    # the first n1 elements of `second`.  Replicate the wrap so the
    # computed ranks (and hence U and the p-value) match byte-for-byte.
    both = xs + [ys[k % len(xs)] for k in range(len(ys))]
    ranks, tie_correction = _ranks_and_tie_correction(both)
    n1 = float(len(xs))
    n2 = float(len(ys))
    r1 = 0.0
    for i in range(int(n1)):
        r1 += ranks[i]
    u1 = n1 * n2 + (n1 * (n1 + 1.0)) / 2.0 - r1
    u2 = n1 * n2 - u1
    meanrank = n1 * n2 / 2.0 + 0.5 * (1 if continuity else 0)
    sd = math.sqrt(tie_correction * n1 * n2 * (n1 + n2 + 1) / 12.0)
    alt = (alternative or "two-sided").strip().lower()
    if alt == "two-sided":
        u = max(u1, u2)
    elif alt == "less":
        u = u1
    elif alt == "greater":
        u = u2
    else:
        raise ValueError(f"mannWhitneyUTest: unknown alternative {alt}")
    z = (u - meanrank) / sd
    if alt == "two-sided":
        z = abs(z)
    cdf = _integrate_simpson(
        0.0, z,
        lambda t: math.pow(math.e, -0.5 * t * t) / math.sqrt(2 * math.pi),
    )
    if alt == "two-sided":
        p_value = 1 - 2 * cdf
    else:
        p_value = 0.5 - cdf
    return (u2, p_value)


def rank_corr(xs, ys):
    if xs is None or ys is None:
        return None
    pairs = [
        (float(a), float(b)) for a, b in zip(xs, ys)
        if a is not None and b is not None
    ]
    if not pairs:
        return None
    ranks_x, _ = _ranks_and_tie_correction([p[0] for p in pairs])
    ranks_y, _ = _ranks_and_tie_correction([p[1] for p in pairs])
    size = len(pairs)
    answer = 0.0
    for j in range(size):
        answer += (ranks_x[j] - ranks_y[j]) * (ranks_x[j] - ranks_y[j])
    answer *= 6
    answer /= size * (size * size - 1)
    return 1 - answer


def register_udfs(spark) -> None:
    spark.udf.register(
        "ch_welch_ttest", welch_ttest,
        "struct<col1:double,col2:double>",
    )
    spark.udf.register(
        "ch_student_ttest", student_ttest,
        "struct<col1:double,col2:double>",
    )
    spark.udf.register(
        "ch_mann_whitney",
        lambda v, g, alt, cont: mann_whitney_utest(v, g, alt, cont),
        "struct<col1:double,col2:double>",
    )
    spark.udf.register("ch_rank_corr", rank_corr, "double")
