"""``catalog.load_table``'s footer-keyed schema cache.

A warm load launches no Spark job, and every load equals the plain
``spark.read.parquet`` on schema and rows, across appends, in-place
rewrites, OPTIMIZE and overwrites.  Once the tables' schemas are cached,
building a registry query launches no job."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from daisy_spark import maintenance
from daisy_spark import streaming as ST
from daisy_spark.catalog import load_table, table_path
from daisy_spark.queries import QUERIES

#: queries whose build runs Spark jobs by design, and the most it runs
BUILD_JOBS = {
    # trains during build: the value-range and binned-cell passes are
    # collected to the driver for the Newton fit (4 jobs at sf0.001)
    "logistic_regression": 4,
}


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted by job group."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_plain(spark, df, path):
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert sorted(map(tuple, df.collect()), key=repr) == sorted(
        map(tuple, plain.collect()), key=repr
    )


def _rows(spark, day, first, n=10):
    return spark.createDataFrame(
        [(f"k{i}", i, f"{day} {i % 24:02d}:00:00") for i in range(first, first + n)],
        "_idem string, v long, _time string",
    ).withColumn("_time", F.col("_time").cast("timestamp"))


def _write_ts(path, unit):
    """24 hourly rows with ``ts`` stored in ``unit``; the random ids make
    the footer (its column statistics) new to the cache."""
    base = 1_704_067_200 * 10**9  # 2024-01-01 00:00:00 UTC
    ns = [base + i * 3_600 * 10**9 + i * 1_001_999 for i in range(24)]
    ts = pa.array(ns, pa.timestamp("ns"))
    if unit == "us":
        ts = ts.cast(pa.timestamp("us"), safe=False)
    first = uuid.uuid4().int % 10**12
    pq.write_table(
        pa.table({"id": pa.array(range(first, first + 24), pa.int64()), "ts": ts}),
        path,
        version="2.6",
    )


def test_append_to_partitioned_sink_hits_cache(spark, tmp_path):
    root = str(tmp_path)
    path = table_path(root, "sink")
    ST.ingest_batch(_rows(spark, "2024-01-01", 0), path)
    load_table(spark, root, "sink")
    # a later _part: the first data file by path, and its footer, stay
    ST.ingest_batch(_rows(spark, "2024-01-02", 10), path)
    df, jobs = _jobs(spark, lambda: load_table(spark, root, "sink"))
    assert jobs == 0
    assert df.count() == 20
    _assert_plain(spark, df, path)


@pytest.mark.parametrize("before,after", [("ns", "us"), ("us", "ns")])
def test_in_place_rewrite_misses_cache(spark, tmp_path, before, after):
    root = str(tmp_path)
    path = table_path(root, "tbl")
    _write_ts(path, before)
    old = load_table(spark, root, "tbl").schema
    _write_ts(path, after)  # same path, ts stored in the other unit
    df, jobs = _jobs(spark, lambda: load_table(spark, root, "tbl"))
    assert jobs >= 1  # the new footer's schema is inferred
    assert df.schema["ts"].dataType != old["ts"].dataType
    _assert_plain(spark, df, path)


def test_optimize_and_overwrite_with_new_column(spark, tmp_path):
    root = str(tmp_path)
    path = table_path(root, "sink")
    for day, first in (("2024-01-01", 0), ("2024-01-02", 10), ("2024-01-01", 20)):
        ST.ingest_batch(_rows(spark, day, first), path)
    load_table(spark, root, "sink")

    maintenance.optimize(spark, path)
    df = load_table(spark, root, "sink")
    assert df.count() == 30
    _assert_plain(spark, df, path)

    (
        ST.with_ingest_columns(_rows(spark, "2024-01-03", 0))
        .withColumn("extra", F.lit(7))
        .write.mode("overwrite")
        .partitionBy(ST.PARTITION_COL)
        .parquet(path)
    )
    df = load_table(spark, root, "sink")
    assert "extra" in df.columns and df.count() == 10
    _assert_plain(spark, df, path)


def test_nanos_events_warm_load_equals_cold(spark, tmp_path):
    root = str(tmp_path)
    _write_ts(table_path(root, "events"), "ns")
    cold = load_table(spark, root, "events", start_time="2024-01-01 05:00:00")
    warm, jobs = _jobs(
        spark,
        lambda: load_table(spark, root, "events", start_time="2024-01-01 05:00:00"),
    )
    assert jobs == 0
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())
    plan = warm._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts,1704085200000000000)" in plan, plan


def test_registry_builds_launch_no_job_when_warm(spark, sf_dir):
    over = {}
    for name, build in QUERIES.items():
        build(spark, sf_dir)  # caches the schema of every table it reads
        _, jobs = _jobs(spark, lambda: build(spark, sf_dir))
        if jobs > BUILD_JOBS.get(name, 0):
            over[name] = jobs
    assert not over, f"jobs launched by a warm build: {over}"
