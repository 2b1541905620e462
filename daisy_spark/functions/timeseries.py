"""Time-series builders the registry queries compose (SURVEY §2.4).

- deltaSum(x)          src/AggregateFunctions/AggregateFunctionDeltaSum.h
- histogram            .../AggregateFunctionHistogram.h
- segmentLengthSum     total covered length of [start, end] segments

The funnel family (windowFunnel, retention, sequenceMatch,
sequenceCount) has one implementation, the SQL dialect's templates
(``plans/dialect.py``); registry queries reach it through ``plans.sql``.
The ``*_df`` forms here are DataFrame transforms: one shuffle on the
group key, no per-group event buffer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def delta_sum_df(df, ts, x, group_cols: list[str], out_col: str = "delta_sum"):
    """deltaSum as a DataFrame transform — the scale path.

    lag() over (group, time) then sum of positive diffs: the window sort
    spills to disk under skew instead of building a per-key in-memory
    array the way the collect_list fold does.  One shuffle on the group
    key, reused by both the window and the final groupBy (no second
    exchange in the plan).

    Returns one row per group: ``group_cols + [out_col]``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(_c(ts))
    d = _c(x).cast("double") - F.lag(_c(x).cast("double")).over(w)
    return (
        df.withColumn("__d", d)
        .groupBy(*group_cols)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__d") > 0, F.col("__d"))), F.lit(0.0)
            ).alias(out_col)
        )
    )


def histogram_df(df, x, nbins: int, group_cols: list[str] | None = None):
    """Equal-width histogram as a two-pass DataFrame transform — the scale
    path: pass 1 aggregates min/max per group (tiny, broadcast back);
    pass 2 buckets each row arithmetically and counts per (group, bin).
    No row buffer anywhere — both passes are plain hash aggregations with
    map-side combine, so a single global histogram over 100 TB works.

    Returns ``group_cols + [bin, lower, upper, height]`` with all
    ``nbins`` bins present (zero-height bins included).
    """
    group_cols = group_cols or []
    v = _c(x).cast("double")
    bounds = df.groupBy(*group_cols).agg(
        F.min(v).alias("__mn"), F.max(v).alias("__mx")
    )
    joined = (
        df.join(F.broadcast(bounds), on=group_cols)
        if group_cols
        else df.crossJoin(F.broadcast(bounds))
    )
    width = (F.col("__mx") - F.col("__mn")) / nbins
    bin_ = F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("__mn")) / width).cast("int"), F.lit(nbins - 1)
        )
    )
    counts = (
        joined.withColumn("__bin", bin_)
        .groupBy(*group_cols, "__mn", "__mx", "__bin")
        .agg(F.count(F.lit(1)).alias("height"))
    )
    # materialize empty bins so the output shape is stable
    grid = bounds.select(
        *group_cols, "__mn", "__mx",
        F.explode(F.sequence(F.lit(0), F.lit(nbins - 1))).alias("__bin"),
    )
    out = grid.join(counts, on=group_cols + ["__mn", "__mx", "__bin"], how="left")
    width2 = (F.col("__mx") - F.col("__mn")) / nbins
    return out.select(
        *group_cols,
        F.col("__bin").alias("bin"),
        (F.col("__mn") + F.col("__bin") * width2).alias("lower"),
        (F.col("__mn") + (F.col("__bin") + 1) * width2).alias("upper"),
        F.coalesce(F.col("height"), F.lit(0)).cast("double").alias("height"),
    )


def segment_length_sum_df(df, ts_start, ts_end, group_cols, out_col="active_sec"):
    """df-level segmentLengthSum — the scale path: a running
    ``max(end) OVER (... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)``
    clamps each segment to its uncovered part, then a plain sum per
    group.  One shuffle on the group key, spills instead of buffering —
    no per-group array, so a heavy-hitter key can't OOM (unlike the
    dialect's segmentLengthSum, which collects each group).
    """
    from pyspark.sql import Window

    s = F.unix_micros(_c(ts_start).cast("timestamp"))
    e = F.unix_micros(_c(ts_end).cast("timestamp"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(s.asc(), e.asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(e).over(w)
    contrib = F.greatest(e - F.greatest(s, F.coalesce(prev_end, s)), F.lit(0).cast("long"))
    return (
        df.select(*group_cols, contrib.alias("__seg_contrib"))
        .groupBy(*group_cols)
        .agg((F.sum("__seg_contrib") / 1_000_000.0).alias(out_col))
    )

