"""Function implementations the SQL dialect and the registry queries use.

ClickHouse function names resolve in one place, the dialect's
name -> template tables (``plans/dialect.py`` ``FUNC_MAP`` and
``PARAMETRIC_MAP``).  This package holds what those templates and the
``queries*.py`` registry call into:

- ``ch*``        reference-exact Python UDFs the templates lower to
                  (``ch_*`` routines, registered by :func:`register_udfs`)
- ``scalar``, ``aggregates``, ``timeseries``
                  Column builders the registry queries compose
                  (toStartOfHour, welchTTest, deltaSum, histogram, ...)
- ``stats``      DataFrame-level statistical tests (the scale path)
- ``states``     -State / -Merge partial aggregation states
- ``nphash``     vectorised hashes for the dedup operators
"""


def register_udfs(spark) -> None:
    """Register every ``ch_*`` Python UDF the dialect lowers to, once per
    SparkSession."""
    if getattr(spark, "_daisy_ch_udfs", False):
        return
    from daisy_spark.functions import (
        chcoding, chgeo, chh3, chhash, chpoly, chstats, chtext, chweek,
    )

    for mod in (chtext, chstats, chcoding, chhash, chgeo, chh3, chweek, chpoly):
        mod.register_udfs(spark)
    spark._daisy_ch_udfs = True
