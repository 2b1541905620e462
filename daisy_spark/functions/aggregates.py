"""Aggregate Column builders the registry queries compose (SURVEY §2.4).

ClickHouse aggregate names resolve through the SQL dialect
(``plans/dialect.py``); the builders here are the DataFrame-side forms a
``queries*.py`` query calls directly.  Spark's groupBy().agg() already
gives partial/final split, spill, and AQE — each builder only supplies
*semantics*: a Column aggregate expression usable inside
``df.groupBy(...).agg(...)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def map_aggs_df(df, group_cols, keys, values, aggs):
    """df-level sumMap/minMap/maxMap — the scale path: explode the parallel
    key/value arrays to narrow (group, k, v) rows, aggregate per
    (group, key) with full map-side partial aggregation, then re-assemble
    the reference's key-sorted entries arrays (one ``collect_list`` per
    output, bounded by the distinct-key count, not the group size).

    Two shuffles total and no whole-group pair array ever materializes —
    use this instead of the expression-level ``sum_map``/``min_map``/
    ``max_map`` whenever groups can be large.

    ``aggs``: {out_col: callable(Column) -> Column}, e.g. {"sm": F.sum}.
    """
    z = df.select(
        *group_cols,
        F.explode(F.arrays_zip(_c(keys).alias("k"), _c(values).alias("v"))).alias("p"),
    )
    per_key = z.groupBy(*group_cols, F.col("p.k").alias("__k")).agg(
        *[
            fn(F.col("p.v").cast("double")).alias(f"__{name}")
            for name, fn in aggs.items()
        ]
    )
    entries = [
        F.array_sort(
            F.collect_list(
                F.struct(F.col("__k").alias("key"), F.col(f"__{name}").alias("value"))
            )
        ).alias(name)
        for name in aggs
    ]
    return per_key.groupBy(*group_cols).agg(*entries)


def group_bitmap(x):
    """groupBitmap: cardinality of the distinct-value bitmap
    (AggregateFunctionGroupBitmap.cpp returns cardinality)."""
    return F.countDistinct(_c(x))


def max_intersections(start, end):
    """maxIntersections(start, end): max number of simultaneously
    overlapping [start, end) intervals (AggregateFunctionMaxIntersections.h).

    Sweep-line over collected ±1 deltas sorted by point; end-events sort
    before start-events at the same point (half-open intervals)."""
    deltas = F.flatten(
        F.collect_list(
            F.array(
                F.struct(_c(start).cast("double").alias("p"), F.lit(1).alias("d")),
                F.struct(_c(end).cast("double").alias("p"), F.lit(-1).alias("d")),
            )
        )
    )
    swept = F.array_sort(deltas)  # struct sort: by p, then d (-1 before +1)
    return F.aggregate(
        swept,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best")),
        lambda acc, e: F.struct(
            (acc["cur"] + e["d"]).alias("cur"),
            F.greatest(acc["best"], acc["cur"] + e["d"]).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def welch_ttest(x, sample_index):
    """welchTTest(value, sample_index): Welch's two-sample t-test
    (AggregateFunctionTTest.h / WelchTTestData). Returns
    struct(t_stat, df) — the t statistic and Welch–Satterthwaite degrees
    of freedom. Pure moment arithmetic: one hash aggregation, map-side
    combinable, scale-safe. (The reference also evaluates the Student-t
    CDF for a p-value; that requires the incomplete beta function, which
    neither Spark SQL nor the oracle has natively — callers needing a
    p-value apply scipy on the 2-value result, which is driver-side O(1).)
    """
    v = _c(x).cast("double")
    g = _c(sample_index).cast("int")
    n0 = F.count(F.when(g == 0, v))
    n1 = F.count(F.when(g == 1, v))
    m0 = F.avg(F.when(g == 0, v))
    m1 = F.avg(F.when(g == 1, v))
    s0 = F.var_samp(F.when(g == 0, v))
    s1 = F.var_samp(F.when(g == 1, v))
    se2 = s0 / n0 + s1 / n1
    t = (m0 - m1) / F.sqrt(se2)
    df = (se2 * se2) / (
        (s0 / n0) * (s0 / n0) / (n0 - 1) + (s1 / n1) * (s1 / n1) / (n1 - 1)
    )
    return F.struct(t.alias("t_stat"), df.alias("df"))


def student_ttest(x, sample_index):
    """studentTTest(value, sample_index): equal-variance two-sample t-test.
    Returns struct(t_stat, df) with pooled variance, df = n0+n1-2."""
    v = _c(x).cast("double")
    g = _c(sample_index).cast("int")
    n0 = F.count(F.when(g == 0, v))
    n1 = F.count(F.when(g == 1, v))
    m0 = F.avg(F.when(g == 0, v))
    m1 = F.avg(F.when(g == 1, v))
    s0 = F.var_samp(F.when(g == 0, v))
    s1 = F.var_samp(F.when(g == 1, v))
    sp2 = ((n0 - 1) * s0 + (n1 - 1) * s1) / (n0 + n1 - 2)
    t = (m0 - m1) / F.sqrt(sp2 * (F.lit(1.0) / n0 + F.lit(1.0) / n1))
    return F.struct(t.alias("t_stat"), (n0 + n1 - 2).cast("double").alias("df"))

