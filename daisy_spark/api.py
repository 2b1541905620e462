"""Search / query API with the reference's `_time` conventions.

The reference's REST search endpoint takes a query plus optional
``start_time`` / ``end_time`` / ``offset`` / ``page_size`` params
(src/Server/RestRouterHandlers/SearchHandler.cpp:25) and injects
``_time >= start AND _time < end`` into the WHERE of every SELECT that
reads a `_time`-bearing table (src/Interpreters/AddTimeParamVisitor.cpp:
84-119).

Spark-first: rather than rewriting SQL text, the time predicate is
applied AT THE SCAN — ``search`` registers a temp view per table, each
time-bounded by :func:`daisy_spark.catalog.load_table` where the table
has a time column, then runs the (dialect-translated) query against
them.  Catalyst pushes the bound into the parquet scan's
``PushedFilters``.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession

from daisy_spark.catalog import TESTDATA_TABLES, load_table, table_path


def load_time_bounded(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    start_time: str | _dt.datetime | None = None,
    end_time: str | _dt.datetime | None = None,
) -> DataFrame:
    """Table ``name`` read from its parquet (never the bucketed mirror)
    with the `_time` bound applied in the scan — see
    :func:`daisy_spark.catalog.load_table`."""
    return load_table(
        spark, sf_dir, name, plain=True, start_time=start_time, end_time=end_time
    )


def search(
    spark: SparkSession,
    query: str,
    sf_dir: str,
    start_time: str | _dt.datetime | None = None,
    end_time: str | _dt.datetime | None = None,
    offset: int = 0,
    page_size: int | None = None,
) -> DataFrame:
    """Run a reference-dialect query with `_time` bounds + pagination
    (the REST search contract, minus HTTP)."""
    from daisy_spark.plans import sql as dsql

    for t in TESTDATA_TABLES:
        if os.path.exists(table_path(sf_dir, t)):
            load_time_bounded(
                spark, sf_dir, t, start_time, end_time
            ).createOrReplaceTempView(t)
    out = dsql(spark, query)
    if offset:
        out = out.offset(offset)
    if page_size is not None:
        out = out.limit(page_size)
    return out
