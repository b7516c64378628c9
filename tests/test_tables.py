"""The fixed-table catalog (sources/tables.py): declared schemas equal
what Spark infers from the footers, a file missing a declared column is
refused, and ``events.ts`` reads exactly from both TIMESTAMP units."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datapipeline_scraping_spark.sources.tables import SCHEMAS, load_table

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def _assert_declared_equals_inferred(spark, sf_dir, names):
    for name in names:
        declared = load_table(spark, sf_dir, name).schema
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert declared == inferred, f"{sf_dir} {name}: {declared} != {inferred}"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_equal_inferred(spark, sf):
    _assert_declared_equals_inferred(spark, f"/root/testdata/{sf}", SCHEMAS)


def test_declared_schemas_equal_inferred_on_generated_tpch(spark, tmp_path):
    from perfbench.gen import write_tpch

    write_tpch(str(tmp_path), seed=3, n_orders=300)
    written = [n for n in SCHEMAS if os.path.exists(tmp_path / f"{n}.parquet")]
    assert {"region", "nation", "customer", "supplier", "part", "orders",
            "lineitem"} <= set(written)
    _assert_declared_equals_inferred(spark, str(tmp_path), written)


def test_declared_read_starts_no_spark_job(spark):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    for name in SCHEMAS:
        load_table(spark, "/root/testdata/sf0.001", name)
    assert set(tracker.getJobIdsForGroup(None)) == before


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_missing_declared_column_raises(spark, tmp_path, layout):
    """A declared read would return the missing column as NULL; the
    footer check refuses it instead, for a single file and for a
    Spark-written directory of part files alike."""
    lacking = pa.table({"r_regionkey": pa.array([0, 1], pa.int32())})
    full = lacking.append_column("r_name", pa.array(["A", "B"]))
    for sf, table in (("bad", lacking), ("good", full)):
        path = tmp_path / sf / "region.parquet"
        if layout == "directory":
            path.mkdir(parents=True)
            (path / "_SUCCESS").touch()
            path = path / "part-00000-0.snappy.parquet"
        else:
            path.parent.mkdir()
        pq.write_table(table, path)
    with pytest.raises(ValueError, match=r"'region'.*r_name"):
        load_table(spark, str(tmp_path / "bad"), "region")
    got = load_table(spark, str(tmp_path / "good"), "region").collect()
    assert sorted(tuple(r) for r in got) == [(0, "A"), (1, "B")]


def _write_events(path, ts: pa.Array) -> None:
    n = len(ts)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(['{"k": 1}'] * n, pa.string()),
        }),
        path,
    )


def _micros_ntz(ns: int) -> dt.datetime:
    # exact integer truncation toward -inf, as ``ts div 1000`` for ns >= 0
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ns // 1000)


def test_events_nanos_truncate_exactly_to_micros(spark, tmp_path):
    ns = [
        1_704_067_200_000_000_999,  # 2024-01-01, sub-µs remainder 999
        1_706_572_800_123_456_789,  # 2024-01-30, 456 µs + 789 ns
        9_007_199_254_740_993,  # 2^53 + 1 ns (double would round it)
        2**62 + 1,  # far above 2^53 ns, year 2116
    ]
    _write_events(tmp_path / "events.parquet", pa.array(ns, pa.timestamp("ns")))
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type.unit == "ns"
    spark.conf.unset(NANOS_KEY)
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = {r["event_id"]: r["ts"] for r in df.select("event_id", "ts").collect()}
    assert got == {i: _micros_ntz(v) for i, v in enumerate(ns)}
    # the legacy conf is scoped to the read: unset before, unset after
    assert spark.conf.get(NANOS_KEY, None) is None
    spark.conf.set(NANOS_KEY, "false")
    load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(NANOS_KEY) == "false"
    spark.conf.unset(NANOS_KEY)


def test_events_micros_take_the_plain_path(spark, tmp_path):
    us = [1_704_067_200_000_001, 1_706_572_800_123_456]
    _write_events(tmp_path / "events.parquet", pa.array(us, pa.timestamp("us")))
    df = load_table(spark, str(tmp_path), "events")
    # no div/timestamp_micros projection over the scan: ts is the
    # file's own column
    assert "timestamp_micros" not in df._jdf.queryExecution().analyzed().toString()
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = {r["event_id"]: r["ts"] for r in df.select("event_id", "ts").collect()}
    assert got == {
        i: dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=v)
        for i, v in enumerate(us)
    }
