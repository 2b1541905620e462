"""Table resolution and engine semantics.

:func:`load_table` is the one path from a table name to a DataFrame.  It
owns the ``<sf_dir>/<name>.parquet`` layout, the bucketed-mirror lookup,
each table's time column with its search bound (the reference's `_time`
auto-column — src/Server/RestRouterHandlers/TableRestRouterHandler.cpp:
55-58), and the read of TIMESTAMP(NANOS) columns as µs timestamps.

The reference's tables are IStorage implementations whose engine choice
(MergeTree / ReplacingMergeTree / SummingMergeTree / ...) carries
*merge-time semantics* (reference: src/Storages/MergeTree/
registerStorageMergeTree.cpp:943-960).  In a Spark-first design the data
lives in partitioned Parquet and the engine semantics become *read-time
normalization rules* applied by :mod:`daisy_spark.operators.final` when a
query asks for ``FINAL``.  A :class:`TableSpec` records the engine part of
what the CREATE TABLE would have said: engine kind, ORDER BY key (the
dedup/merge key), version, sign, summed and aggregate columns.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: tables the test-data driver generates (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: time column per table (events uses ``ts`` as its `_time`).  Test data
#: has stored it both as timestamp[us] and as TIMESTAMP(NANOS), which
#: Spark reads as long (spark.sql.legacy.parquet.nanosAsLong);
#: :func:`load_table` branches on the stored type.
TIME_COLUMNS = {"events": "ts"}


@dataclass
class TableSpec:
    name: str
    # engine semantics (read-time normalization under FINAL)
    engine: str = "MergeTree"  # MergeTree|Replacing|Summing|Aggregating|Collapsing|VersionedCollapsing
    order_by: tuple[str, ...] = ()  # dedup/merge key
    version_column: str | None = None  # ReplacingMergeTree(version)
    sign_column: str | None = None  # CollapsingMergeTree(sign)
    summed_columns: tuple[str, ...] = ()  # SummingMergeTree cols ((), = all numeric)
    # AggregatingMergeTree: column -> declared AggregateFunction name
    # (e.g. "sum", "anyIf"); None = declarations unknown, use the
    # shape heuristic.  Ordinary (undeclared) columns merge as FIRST
    # per the reference (AggregatingSortedAlgorithm::startGroup).
    agg_columns: dict[str, str] | None = None


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: bucketed mirrors built by :func:`build_bucketed_mirror`:
#: (abs sf_dir, table) -> managed-table name.  Session-local — bucket
#: metadata lives in the in-memory catalog of the session that built it.
BUCKETED_MIRRORS: dict[tuple[str, str], str] = {}

#: the big-join tables and their co-location keys (SURVEY §4.3: the
#: reference sorts by ORDER BY key at insert; bucketing-by-join-key at
#: write is the Spark equivalent — the l⋈o join then needs NO shuffle).
#: customer is bucketed by custkey so the o⋈c join reads the customer
#: side with no shuffle at any scale: at 100x data the customer
#: broadcast stops being free, and the probe side (orders) shuffles
#: into customer's bucket distribution instead of materializing a
#: multi-GB broadcast per executor.
BUCKET_SPECS = (
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
)


def build_bucketed_mirror(
    spark: SparkSession,
    sf_dir: str,
    specs: tuple[tuple[str, str], ...] = BUCKET_SPECS,
    buckets: int = 32,
) -> None:
    """Write bucketed + sorted managed-table mirrors of the big join
    tables, so orderkey-equi-joins read co-located sorted buckets and
    skip both the shuffle AND the sort (storage-side preparation, the
    analogue of the reference's MergeTree insert-time sort).

    At 100-TB scale this is exactly the layout a production deployment
    would write once at ingest: bucket count scales with cluster cores,
    and every orderkey join/aggregation downstream rides the layout."""
    key_dir = os.path.abspath(sf_dir)
    tag = hashlib.md5(key_dir.encode()).hexdigest()[:8]
    for name, key in specs:
        if not os.path.exists(table_path(sf_dir, name)):
            continue
        # bucket count is part of the identity: re-attaching files
        # written with a different count would declare a false
        # co-location and let Spark elide shuffles incorrectly
        tbl = f"{name}_bkt{buckets}_{tag}"
        try:
            if not spark.catalog.tableExists(tbl):
                # a PREVIOUS session's mirror survives as files in the
                # warehouse dir (the in-memory catalog does not) — and
                # managed saveAsTable refuses an existing location.
                # Re-attach those files as an EXTERNAL bucketed table:
                # same bucket layout, zero rewrite cost per session.
                wh = spark.conf.get(
                    "spark.sql.warehouse.dir", "spark-warehouse"
                ).removeprefix("file:")
                loc = os.path.join(wh, tbl)
                if os.path.exists(os.path.join(loc, "_SUCCESS")):
                    df = load_table(spark, sf_dir, name)
                    cols = ", ".join(
                        f"`{f.name}` {f.dataType.simpleString()}"
                        for f in df.schema.fields
                    )
                    spark.sql(
                        f"CREATE TABLE `{tbl}` ({cols}) USING PARQUET "
                        f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
                        f"INTO {buckets} BUCKETS "
                        f"LOCATION '{loc}'"
                    )
                else:
                    import shutil

                    shutil.rmtree(loc, ignore_errors=True)  # partial write
                    df = load_table(spark, sf_dir, name)
                    (
                        df.write.mode("overwrite")
                        .bucketBy(buckets, key)
                        .sortBy(key)
                        .saveAsTable(tbl)
                    )
            BUCKETED_MIRRORS[(key_dir, name)] = tbl
        except Exception:  # noqa: BLE001
            # bucketing is an optimization only — never break a query
            BUCKETED_MIRRORS.pop((key_dir, name), None)


def _to_epoch_ns(t: str | _dt.datetime) -> int:
    if isinstance(t, str):
        t = _dt.datetime.fromisoformat(t)
    if t.tzinfo is None:
        t = t.replace(tzinfo=_dt.timezone.utc)
    return int(t.timestamp() * 1_000_000) * 1000


#: footer digest + inference confs -> the data schema (partition columns
#: excluded) Spark infers from that footer.  Holds schemas only, never
#: file listings or data; emptied when it reaches SCHEMA_CACHE_SIZE
#: entries.  Process-wide: a value depends on its key alone, so callers
#: and threads sharing it cannot change each other's results.
_SCHEMAS: dict[tuple, T.StructType] = {}
SCHEMA_CACHE_SIZE = 1024

#: session confs the footer -> Spark schema conversion reads.  They are
#: part of the cache key: :func:`load_table` sets nanosAsLong before every
#: read, and a session that differs in any of these gets its own entries.
#: With ``spark.sql.parquet.mergeSchema`` on, inference reads every
#: footer, so :func:`_read_parquet` does not use the cache at all.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _listed(name: str) -> bool:
    """Whether Spark's file index lists ``name`` (a file or directory
    name; HadoopFSUtils.shouldFilterOutPathName)."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(("_common_metadata", "_metadata"))


def _first_footer(path: str) -> tuple[str, bytes] | None:
    """The file Spark's non-merging parquet inference reads its schema
    from, with a digest of its footer bytes.

    That file is the table path itself for a single-file table, else the
    first listed data file by full path string (ParquetUtils.inferSchema
    with mergeSchema off; it assumes every other file agrees).  None
    when there is no such footer to key on: no data file on the local
    filesystem, a summary file (inference would prefer it), or a file
    too short or vanished."""
    if os.path.isfile(path):
        first = path
    else:
        files = []
        for root, dirs, names in os.walk(path, followlinks=True):
            dirs[:] = [d for d in dirs if _listed(d)]
            files += [os.path.join(root, n) for n in names if _listed(n)]
        if not files or any(os.path.basename(f).startswith("_") for f in files):
            return None
        first = min(files)
    try:
        with open(first, "rb") as f:
            size = f.seek(0, os.SEEK_END)
            if size < 12:
                return None
            f.seek(size - 8)
            tail = f.read(8)
            n = int.from_bytes(tail[:4], "little")
            if tail[4:] != b"PAR1" or n > size - 12:
                return None
            f.seek(size - 8 - n)
            return first, hashlib.blake2b(f.read(n), digest_size=16).digest()
    except OSError:
        return None  # rewritten under us: the plain read reports it


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job when
    the footer it would infer from has been seen before.

    The inferred schema is a function of the footer's bytes and the
    session's inference confs only, so the key is content-based: a
    rewrite in place (same path, new footer) misses, however coarse the
    filesystem's mtime.  The hit passes only the data schema, so Spark
    still lists the files and infers partition columns and their types
    on every read, exactly as the plain read does."""
    if spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return spark.read.parquet(path)
    found = _first_footer(path)
    if found is None:
        return spark.read.parquet(path)
    first, digest = found
    key = (digest, *(spark.conf.get(c) for c in _INFER_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        # one file: Spark infers from exactly this footer, no partitions
        schema = spark.read.parquet(first).schema
        if len(_SCHEMAS) >= SCHEMA_CACHE_SIZE:
            _SCHEMAS.clear()
        _SCHEMAS[key] = schema
    return spark.read.schema(schema).parquet(path)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    plain: bool = False,
    start_time: str | _dt.datetime | None = None,
    end_time: str | _dt.datetime | None = None,
) -> DataFrame:
    """Table ``name`` under ``sf_dir``, its time column as µs timestamps.

    ``plain=True`` skips the bucketed mirror: a BROADCAST build side
    gains nothing from bucket co-location and pays for it (32 small
    bucket files to open + schedule vs one parquet — measured ~0.1-0.2s
    on the sf1 region_revenue broadcast of customer).

    ``start_time`` / ``end_time`` bound the time column to
    ``[start, end)``; tables without one ignore them.  The bound filters
    the STORED column, before the nanos conversion, so it lands in the
    parquet scan's ``PushedFilters`` for both storage types (a filter on
    the converted column would not)."""
    df = None
    tbl = (
        None if plain
        else BUCKETED_MIRRORS.get((os.path.abspath(sf_dir), name))
    )
    if tbl is not None:
        try:
            df = spark.table(tbl)
        except Exception:  # noqa: BLE001
            pass  # other session / dropped — fall back to parquet
    if df is None:
        # Spark has no nanosecond timestamp type; without this conf a read
        # of a TIMESTAMP(NANOS) column dies with PARQUET_TYPE_ILLEGAL.  It
        # is runtime-settable, so set it here rather than relying on the
        # caller's session factory (callers may pass a vanilla session).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # noqa: BLE001
            pass  # already set read-only / unsupported build — reads will tell
        df = _read_parquet(spark, table_path(sf_dir, name))
    tcol = TIME_COLUMNS.get(name)
    if tcol is None or tcol not in df.columns:
        return df
    ttype = df.schema[tcol].dataType  # long (nanos), timestamp or timestamp_ntz
    nanos = isinstance(ttype, T.LongType)

    def stored(t: str | _dt.datetime):
        return F.lit(_to_epoch_ns(t)) if nanos else F.lit(str(t)).cast(ttype)

    if start_time is not None:
        df = df.filter(F.col(tcol) >= stored(start_time))
    if end_time is not None:
        df = df.filter(F.col(tcol) < stored(end_time))
    if nanos:
        # integer division: epoch-ns ~1.7e18 exceeds double's exact range,
        # float division would land ~12% of timestamps 1µs off the
        # oracle's exact truncation
        df = df.withColumn(tcol, F.timestamp_micros(F.expr(f"`{tcol}` div 1000")))
    return df
