"""search() time-bound injection (with pushdown proof), formats, table
functions."""

from __future__ import annotations

import os

import pytest

from daisy_spark import sources as SRC
from daisy_spark.api import load_time_bounded, search
from daisy_spark.catalog import load_table

SF_DIR = os.environ.get("DAISY_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_search_time_bounds(spark, duck):
    out = search(
        spark,
        "SELECT count() AS cnt FROM events",
        SF_DIR,
        start_time="2024-01-02 00:00:00",
        end_time="2024-01-04 00:00:00",
    )
    want = duck.execute(
        "SELECT count(*) FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-04'"
    ).fetchone()[0]
    assert out.collect()[0].cnt == want


def test_time_filter_reaches_parquet_scan(spark):
    df = load_time_bounded(
        spark, SF_DIR, "events", start_time="2024-01-02 00:00:00"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the bound must be applied to the raw int64 nanos column and appear
    # as a pushed parquet filter, not a post-scan timestamp comparison
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(ts" in plan, plan


@pytest.fixture()
def nanos_dir(tmp_path):
    """An ``events.parquet`` whose ``ts`` is stored as TIMESTAMP(NANOS),
    with sub-microsecond parts that must be truncated, not rounded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_704_067_200 * 10**9  # 2024-01-01 00:00:00 UTC
    ts = [base + i * 3_600 * 10**9 + i * 1_001_999 for i in range(120)]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(120), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    return str(tmp_path)


def test_nanos_ts_truncates_like_duckdb(spark, nanos_dir):
    import duckdb

    got = sorted(
        r[0] for r in load_table(spark, nanos_dir, "events")
        .selectExpr("unix_micros(ts)").collect()
    )
    want = sorted(
        r[0] for r in duckdb.connect().execute(
            "SELECT epoch_us(CAST(ts AS TIMESTAMP)) FROM "
            f"'{nanos_dir}/events.parquet'"
        ).fetchall()
    )
    assert got == want


def test_nanos_time_bound_pushed_on_raw_long(spark, nanos_dir):
    df = load_table(
        spark, nanos_dir, "events", plain=True,
        start_time="2024-01-02 00:00:00",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts,1704153600000000000)" in plan, plan


def test_nanos_search_time_bounds(spark, nanos_dir):
    import duckdb

    out = search(
        spark,
        "SELECT count() AS cnt FROM events",
        nanos_dir,
        start_time="2024-01-02 00:00:00",
        end_time="2024-01-04 00:00:00",
    )
    want = duckdb.connect().execute(
        f"SELECT count(*) FROM '{nanos_dir}/events.parquet' "
        "WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-04'"
    ).fetchone()[0]
    assert 0 < want < 120
    assert out.collect()[0].cnt == want


def test_search_pagination(spark):
    q = "SELECT event_id FROM events ORDER BY event_id"
    page = search(spark, q, SF_DIR, offset=10, page_size=5).collect()
    assert [r.event_id for r in page] == [10, 11, 12, 13, 14]


def test_csv_json_roundtrip(spark, tmp_path):
    df = SRC.numbers(spark, 10).withColumnRenamed("number", "n")
    p_csv = str(tmp_path / "c")
    p_json = str(tmp_path / "j")
    SRC.write_format(df, p_csv, "CSVWithNames")
    SRC.write_format(df, p_json, "JSONEachRow")
    back_csv = SRC.read_format(spark, p_csv, "CSVWithNames")
    back_json = SRC.read_format(spark, p_json, "JSONEachRow", schema="n LONG")
    assert sorted(r.n for r in back_csv.collect()) == list(range(10))
    assert sorted(r.n for r in back_json.collect()) == list(range(10))


def test_unknown_format_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="not supported"):
        SRC.read_format(spark, str(tmp_path), "Native")


def test_numbers_is_distributed(spark):
    df = SRC.numbers(spark, 1000)
    assert df.rdd.getNumPartitions() > 1
    assert df.agg({"number": "sum"}).collect()[0][0] == 499500


def test_generate_random_deterministic(spark):
    a = SRC.generate_random(spark, {"x": "long", "s": "string"}, 5).collect()
    b = SRC.generate_random(spark, {"x": "long", "s": "string"}, 5).collect()
    assert a == b
    assert len({r.x for r in a}) == 5
