"""Correctness queries for previously-untested operators (SURVEY §2):
FINAL engine semantics, CUBE, LIMIT WITH TIES, quantiles, topK,
sequenceMatch, two-pass histogram, segmentLengthSum, statistics,
aggregate combinators, groupArray, CROSS join, sampling.

Same contract as :mod:`daisy_spark.queries`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from daisy_spark.catalog import load_table
from daisy_spark.functions import timeseries as TS
from daisy_spark.operators import final as FIN
from daisy_spark.operators import modifiers as M
from daisy_spark.operators import topk as TK

_t = load_table


# --------------------------------------------------------------------------
# FINAL engine semantics (operators/final.py)
# --------------------------------------------------------------------------

def q_final_replacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree FINAL: last version per (user_id, event_type);
    version = (ts, event_id) for a deterministic winner."""
    e = _t(spark, sf_dir, "events").withColumn(
        "__v", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = FIN.replacing_final(e, ["user_id", "event_type"], version="__v")
    return out.select(
        "user_id", "event_type", "event_id",
        F.round("value", 6).alias("value"),
    ).orderBy("user_id", "event_type")


ORACLE_FINAL_REPLACING = """
SELECT user_id, event_type, event_id, round(value, 6) AS value
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
"""


def q_final_summing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SummingMergeTree FINAL: one row per key, declared columns summed."""
    l = _t(spark, sf_dir, "lineitem")
    out = FIN.summing_final(
        l.select("l_suppkey", "l_returnflag", "l_quantity", "l_extendedprice"),
        key=["l_suppkey", "l_returnflag"],
        summed=["l_quantity", "l_extendedprice"],
    )
    return out.select(
        "l_suppkey", "l_returnflag",
        F.round("l_quantity", 2).alias("sum_qty"),
        F.round("l_extendedprice", 2).alias("sum_price"),
    ).orderBy("l_suppkey", "l_returnflag")


ORACLE_FINAL_SUMMING = """
SELECT l_suppkey, l_returnflag,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY l_suppkey, l_returnflag
ORDER BY l_suppkey, l_returnflag
"""


def q_final_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollapsingMergeTree FINAL: +1 rows for every order, -1 cancels for
    even orderkeys -> odd orderkeys survive.

    The +1/-1 feed is ONE scan + a conditional-array explode (identical
    row multiset to the previous plus ∪ minus union of two scans —
    guide §6 input bytes, §2.4): Generate preserves the bucketed scan's
    hash distribution on o_orderkey, so the collapse groupBy needs no
    exchange, where the union form re-scanned orders per branch and
    destroyed the bucket info.  Same-window interleaved A/B: med
    0.429 → 0.286 s, byte-equal results."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    signs = F.concat(
        F.array(F.lit(1)),
        F.when(F.col("o_orderkey") % 2 == 0, F.array(F.lit(-1)))
        .otherwise(F.array().cast("array<int>")),
    )
    data = o.select("o_orderkey", "o_totalprice", F.explode(signs).alias("sign"))
    out = FIN.collapsing_final(data, ["o_orderkey"], "sign")
    return out.agg(
        F.count(F.lit(1)).alias("survivors"),
        F.sum("o_orderkey").alias("key_sum"),
    )


ORACLE_FINAL_COLLAPSING = """
SELECT count(*) AS survivors, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 2 = 1
"""


def q_final_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionedCollapsingMergeTree FINAL: v1 inserts for all, v1 cancels
    for even keys, v2 re-inserts for keys divisible by 3; latest surviving
    version per key wins."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    # ONE scan + conditional-array explode instead of three scans
    # unioned (guide §6/§2.4): identical row multiset, and Generate
    # preserves the bucketed scan's o_orderkey distribution, so both
    # collapse aggregations run exchange-free where the union form
    # re-scanned orders per branch and shuffled.  Same-window
    # interleaved A/B: med 1.686 → 0.764 s, byte-equal results.
    empty = F.array().cast("array<struct<sign:int,ver:int>>")
    sv = F.concat(
        F.array(F.struct(F.lit(1).alias("sign"), F.lit(1).alias("ver"))),
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.array(F.struct(F.lit(-1).alias("sign"), F.lit(1).alias("ver"))),
        ).otherwise(empty),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.array(F.struct(F.lit(1).alias("sign"), F.lit(2).alias("ver"))),
        ).otherwise(empty),
    )
    data = o.select("o_orderkey", F.explode(sv).alias("__sv")).select(
        "o_orderkey",
        F.col("__sv.sign").alias("sign"),
        F.col("__sv.ver").alias("ver"),
    )
    out = FIN.versioned_collapsing_final(data, ["o_orderkey"], "sign", "ver")
    return out.select("o_orderkey", "ver").orderBy("o_orderkey")


ORACLE_FINAL_VERSIONED = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS ver
FROM orders
WHERE o_orderkey % 3 = 0 OR o_orderkey % 2 = 1
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# Modifiers: CUBE, LIMIT WITH TIES, sampling
# --------------------------------------------------------------------------

def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE (CubeStep.cpp)."""
    o = _t(spark, sf_dir, "orders")
    out = M.cube_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        {"cnt": F.count(F.lit(1)), "sum_price": F.round(F.sum("o_totalprice"), 2)},
    )
    return out.orderBy(
        F.col("o_orderstatus").asc_nulls_last(),
        F.col("o_orderpriority").asc_nulls_last(),
    )


ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST
"""


def q_limit_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT 5 WITH TIES on quantity (threshold semi-join, no global
    window)."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    out = M.limit_with_ties(
        l, 5,
        order=[F.col("l_quantity").desc()],
        tie_cols=[F.col("l_quantity")],
    )
    return out.orderBy("l_quantity", "l_orderkey", "l_linenumber")


ORACLE_LIMIT_TIES = """
SELECT l_orderkey, l_linenumber, l_quantity FROM (
    SELECT *, rank() OVER (ORDER BY l_quantity DESC) AS rk FROM lineitem
) WHERE rk <= 5
ORDER BY l_quantity, l_orderkey, l_linenumber
"""


def q_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE fraction (Bernoulli).  The member set is seed-dependent, so
    the oracle checks the exact total plus the statistical-bounds
    invariant on the sampled count."""
    e = _t(spark, sf_dir, "events")
    # one action: both counts live in one plan (cross join of two 1-row
    # aggs) instead of two counts + a driver-side createDataFrame
    n = M.sample_fraction(e, 0.5, seed=42).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        e.agg(F.count(F.lit(1)).alias("total"))
        .crossJoin(n)
        .select(
            "total",
            (
                (F.col("_n") >= 0.35 * F.col("total"))
                & (F.col("_n") <= 0.65 * F.col("total"))
            ).alias("within_bounds"),
        )
    )


ORACLE_SAMPLE_FRACTION = """
SELECT count(*) AS total, TRUE AS within_bounds FROM events
"""


# --------------------------------------------------------------------------
# Aggregates: quantiles, topK, stats, combinators, groupArray
# --------------------------------------------------------------------------

def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantilesExact(0.25, 0.5, 0.75) per return flag.

    Flattened to one scalar column per quantile (not an array column):
    the external driver canonicalizes rows with pandas, which cannot
    hash list-valued cells.
    """
    l = _t(spark, sf_dir, "lineitem")
    q = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(q.getItem(0), 4).alias("q25"),
            F.round(q.getItem(1), 4).alias("q50"),
            F.round(q.getItem(2), 4).alias("q75"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_QUANTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS q50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS q75
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topK(3) event types per user bucket (operators/topk.py two-level
    aggregation — the SpaceSaving replacement)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 10).cast("int")
    )
    out = TK.top_k_df(e, "event_type", k=3, group_cols=["bucket"])
    return out.orderBy("bucket", "rank")


ORACLE_TOP_K = """
SELECT bucket, value, cnt, rank FROM (
    SELECT bucket, value, cnt,
           row_number() OVER (PARTITION BY bucket ORDER BY cnt DESC, value) AS rank
    FROM (
        SELECT CAST(user_id % 10 AS INT) AS bucket, event_type AS value,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    )
) WHERE rank <= 3
ORDER BY bucket, rank
"""


def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatch('(?1)(?2)'): click then later purchase, per user,
    through the dialect."""
    from daisy_spark.queries import _dialect

    return _dialect(
        spark, sf_dir, ("events",),
        """
        SELECT user_id,
               sequenceMatch('(?1)(?2)')(ts, event_type = 'click',
                                         event_type = 'purchase') = 1 AS matched
        FROM events GROUP BY user_id ORDER BY user_id
        """,
    )


ORACLE_SEQUENCE_MATCH = """
SELECT user_id,
       coalesce(min(ts) FILTER (event_type = 'click')
                < max(ts) FILTER (event_type = 'purchase'), FALSE) AS matched
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass equal-width histogram of event values, 10 bins
    (timeseries.histogram_df — no per-group row buffer)."""
    e = _t(spark, sf_dir, "events")
    out = TS.histogram_df(e, F.col("value"), 10)
    return out.select(
        "bin",
        F.round("lower", 6).alias("lower"),
        F.round("upper", 6).alias("upper"),
        "height",
    ).orderBy("bin")


ORACLE_HISTOGRAM = """
WITH b AS (SELECT min(value) mn, max(value) mx FROM events),
binned AS (
    SELECT least(CAST(floor((value - mn) / ((mx - mn) / 10)) AS INT), 9) AS bin
    FROM events, b
),
grid AS (SELECT unnest(range(0, 10)) AS bin)
SELECT grid.bin,
       round(mn + grid.bin * (mx - mn) / 10, 6) AS lower,
       round(mn + (grid.bin + 1) * (mx - mn) / 10, 6) AS upper,
       CAST(coalesce(cnt, 0) AS DOUBLE) AS height
FROM grid CROSS JOIN b
LEFT JOIN (SELECT bin, count(*) cnt FROM binned GROUP BY bin) c
       ON grid.bin = c.bin
ORDER BY grid.bin
"""


def q_segment_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """segmentLengthSum: union length of [ts, ts+5min) activity windows
    per user."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 300 SECOND")).alias("t"),
    )
    out = TS.segment_length_sum_df(e, F.col("s"), F.col("t"), ["user_id"])
    return out.select(
        "user_id", F.round("active_sec", 3).alias("active_sec")
    ).orderBy("user_id")


ORACLE_SEGMENT_SUM = """
WITH seg AS (
    SELECT user_id, ts AS s, ts + INTERVAL 300 SECOND AS t FROM events
), w AS (
    SELECT user_id, s, t,
           max(t) OVER (PARTITION BY user_id ORDER BY s, t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM seg
)
SELECT user_id,
       round(sum(greatest(epoch_us(t) - epoch_us(greatest(s, coalesce(prev_end, s))), 0))
             / 1000000.0, 3) AS active_sec
FROM w GROUP BY user_id ORDER BY user_id
"""


def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics family: variance/stddev/covariance/correlation."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.var_pop("value"), 4).alias("var_pop"),
            F.round(F.var_samp("value"), 4).alias("var_samp"),
            F.round(F.stddev_samp("value"), 4).alias("stddev_samp"),
            (F.round(F.covar_pop("value", "user_id"), 4) + F.lit(0.0)).alias("covar_pop"),
            (F.round(F.corr("value", "user_id"), 6) + F.lit(0.0)).alias("corr_vu"),
        )
        .orderBy("event_type")
    )


ORACLE_STATS = """
SELECT event_type,
       round(var_pop(value), 4) AS var_pop,
       round(var_samp(value), 4) AS var_samp,
       round(stddev_samp(value), 4) AS stddev_samp,
       round(covar_pop(value, user_id), 4) + 0.0 AS covar_pop,
       round(corr(value, user_id), 6) + 0.0 AS corr_vu
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-If combinators + argMax/argMin + avgWeighted per return flag."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("cnt_hi_disc"),
            F.round(
                F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))), 2
            ).alias("sum_hi_disc"),
            F.round(
                F.avg(F.when(F.col("l_quantity") < 10, F.col("l_extendedprice"))), 4
            ).alias("avg_small_qty"),
            F.max_by(
                "l_orderkey", F.struct("l_extendedprice", "l_orderkey")
            ).alias("argmax_price"),
            F.min_by(
                "l_orderkey", F.struct("l_extendedprice", "l_orderkey")
            ).alias("argmin_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity"),
                4,
            ).alias("avg_weighted"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_COMBINATORS = """
WITH ranked AS (
    SELECT l_returnflag, l_orderkey, l_extendedprice, l_discount, l_quantity,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rmax,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rmin
    FROM lineitem
)
SELECT l_returnflag,
       count(*) FILTER (l_discount > 0.05) AS cnt_hi_disc,
       round(sum(l_extendedprice) FILTER (l_discount > 0.05), 2) AS sum_hi_disc,
       round(avg(l_extendedprice) FILTER (l_quantity < 10), 4) AS avg_small_qty,
       max(l_orderkey) FILTER (rmax = 1) AS argmax_price,
       max(l_orderkey) FILTER (rmin = 1) AS argmin_price,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS avg_weighted
FROM ranked
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_group_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupUniqArray (sorted for determinism) per order status.

    Joined to a '|' string (not an array column): the external driver's
    pandas canonicalizer cannot hash list-valued cells.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), "|"
            ).alias("priorities")
        )
        .orderBy("o_orderstatus")
    )


ORACLE_GROUP_ARRAY = """
SELECT o_orderstatus,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN region x nation."""
    from daisy_spark.operators.joins import cross_join

    r = _t(spark, sf_dir, "region").select("r_name")
    n = _t(spark, sf_dir, "nation").select("n_name")
    return cross_join(r, n).orderBy("r_name", "n_name")


ORACLE_CROSS = """
SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name
"""


def q_agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-State/-Merge (AggregatingMergeTree): partial states at
    (user, day) grain merged up to user grain — must equal direct
    aggregation, which is what the oracle computes."""
    from daisy_spark.functions import states as STX

    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyyMMdd").cast("int")
    )
    st = STX.state_by(
        e,
        ["user_id", "day"],
        {
            "cnt": ("count", F.col("value")),
            "total": ("sum", F.col("value")),
            "avg_v": ("avg", F.col("value")),
            "mx": ("max", F.col("value")),
        },
    )
    merged = STX.merge_states(
        st, ["user_id"], {"cnt": "count", "total": "sum", "avg_v": "avg", "mx": "max"}
    )
    # The merged avg reassociates float summation, so no fixed rounding of it
    # can be compared digit-for-digit with a direct avg (verified in DuckDB
    # alone: 6dp and even 4dp straddle boundaries on ~1/150 groups). The
    # comparable form derives avg from the already-rounded (total, cnt) pair —
    # bit-identical on both sides — while `avg_ok` keeps the merged avg state
    # in the checked plan as an in-plan invariant (merge == total/cnt to 1e-6).
    return merged.select(
        "user_id", "cnt",
        F.round("total", 2).alias("total"),
        F.round(F.round("total", 2) / F.col("cnt"), 6).alias("avg_v"),
        (F.abs(F.col("avg_v") - F.col("total") / F.col("cnt")) < 1e-6).alias("avg_ok"),
        F.round("mx", 6).alias("mx"),
    ).orderBy("user_id")


ORACLE_AGG_STATE = """
SELECT user_id, count(value) AS cnt, round(sum(value), 2) AS total,
       round(round(sum(value), 2) / count(value), 6) AS avg_v,
       true AS avg_ok, round(max(value), 6) AS mx
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_uniq_approx_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniq/uniqCombined (HLL) sanity: approx within 5% of exact — the
    oracle-checkable invariant for an approximate aggregate."""
    o = _t(spark, sf_dir, "orders")
    # rsd 0.02: measured error <= 0.7% at sf0.001-0.1 and ~3x cheaper than
    # rsd 0.01 (register count grows 1/rsd^2); 0.05 breaches the 5% bound.
    # distinct-first: one shuffle with map-side partial distinct, then both
    # aggregates read the deduped set — ~2.5x faster than mixing an exact
    # countDistinct (Expand over all rows) with the HLL in a single agg.
    # single job: the invariant is computed as a column over the one agg
    # row (no driver collect + re-parallelize round-trip)
    d = o.select("o_custkey").distinct()
    return d.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.count(F.lit(1)).alias("exact"),
    ).select(
        (F.abs(F.col("approx") - F.col("exact")) <= 0.05 * F.col("exact")).alias(
            "within_5pct"
        )
    )


ORACLE_UNIQ = "SELECT TRUE AS within_5pct"


QUERIES_EXT: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "final_replacing": q_final_replacing,
    "final_summing": q_final_summing,
    "final_collapsing": q_final_collapsing,
    "final_versioned": q_final_versioned,
    "cube": q_cube,
    "limit_with_ties": q_limit_with_ties,
    "sample_fraction": q_sample_fraction,
    "quantiles": q_quantiles,
    "top_k": q_top_k,
    "sequence_match": q_sequence_match,
    "histogram": q_histogram,
    "segment_sum": q_segment_sum,
    "stats": q_stats,
    "combinators": q_combinators,
    "group_array": q_group_array,
    "cross_join": q_cross_join,
    "agg_state_merge": q_agg_state_merge,
    "uniq_approx": q_uniq_approx_invariant,
}

ORACLE_SQL_EXT: dict[str, str] = {
    "final_replacing": ORACLE_FINAL_REPLACING,
    "final_summing": ORACLE_FINAL_SUMMING,
    "final_collapsing": ORACLE_FINAL_COLLAPSING,
    "final_versioned": ORACLE_FINAL_VERSIONED,
    "cube": ORACLE_CUBE,
    "limit_with_ties": ORACLE_LIMIT_TIES,
    "sample_fraction": ORACLE_SAMPLE_FRACTION,
    "quantiles": ORACLE_QUANTILES,
    "top_k": ORACLE_TOP_K,
    "sequence_match": ORACLE_SEQUENCE_MATCH,
    "histogram": ORACLE_HISTOGRAM,
    "segment_sum": ORACLE_SEGMENT_SUM,
    "stats": ORACLE_STATS,
    "combinators": ORACLE_COMBINATORS,
    "group_array": ORACLE_GROUP_ARRAY,
    "cross_join": ORACLE_CROSS,
    "agg_state_merge": ORACLE_AGG_STATE,
    "uniq_approx": ORACLE_UNIQ,
}
