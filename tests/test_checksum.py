"""H1 checksum semantics — the engine twin of the reference's
``tests/test_scraper.py:9-36`` (determinism, field-subset selection,
extra fields ignored, input-order insensitivity)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from datapipeline_scraping_spark.functions.checksum import (
    UNIT_SEP,
    checksum_sql,
    row_checksum,
    with_row_checksum,
)


def _golden(vals: list[str]) -> str:
    return hashlib.md5(UNIT_SEP.join(vals).encode()).hexdigest()


def test_checksum_golden_value(spark):
    df = spark.createDataFrame([("1", "alpha", "ignored")], "id string, name string, extra string")
    got = df.select(row_checksum(["id", "name"]).alias("h")).collect()[0]["h"]
    assert got == _golden(["1", "alpha"])  # extra field ignored


def test_checksum_sorted_field_order(spark):
    """sort_keys=True semantics: declaration order must not matter."""
    df = spark.createDataFrame([("1", "alpha")], "id string, name string")
    a = df.select(row_checksum(["id", "name"]).alias("h")).collect()[0]["h"]
    b = df.select(row_checksum(["name", "id"]).alias("h")).collect()[0]["h"]
    assert a == b == _golden(["1", "alpha"])


def test_checksum_missing_becomes_empty(spark):
    df = spark.createDataFrame([(None, "alpha")], "id string, name string")
    got = df.select(row_checksum(["id", "name"]).alias("h")).collect()[0]["h"]
    assert got == _golden(["", "alpha"])


def test_checksum_separator_prevents_collisions(spark):
    df = spark.createDataFrame([("ab", "c"), ("a", "bc")], "x string, y string")
    hashes = [r["h"] for r in df.select(row_checksum(["x", "y"]).alias("h")).collect()]
    assert hashes[0] != hashes[1]


def test_checksum_sql_matches_spark(spark):
    """The DuckDB rendering is byte-identical to the Spark column."""
    import duckdb

    df = spark.createDataFrame([("7", "x")], "id string, name string")
    spark_hash = df.select(row_checksum(["id", "name"]).alias("h")).collect()[0]["h"]
    duck_hash = duckdb.sql(
        f"SELECT {checksum_sql(['id', 'name'])} AS h FROM (SELECT '7' AS id, 'x' AS name)"
    ).fetchone()[0]
    assert spark_hash == duck_hash


def test_with_row_checksum_attaches_column(spark):
    df = spark.createDataFrame([("1", "a")], "id string, name string")
    out = with_row_checksum(df, ["id", "name"])
    assert "row_hash" in out.columns
    assert out.filter(F.col("row_hash").isNull()).count() == 0


def test_sql_string_checksum_matches_duckdb_and_python(spark):
    """with_row_checksum's one-string expression is byte-identical to
    checksum_sql run in DuckDB and to Python md5, on NULLs, empty
    strings, non-ASCII text and values containing the separator."""
    import duckdb

    rows = [
        (None, "alpha", "x"),
        ("", "", ""),
        ("ñandú", "日本語", "Ωmega"),
        ("a\x1fb", "c", "\x1f"),
        ("it's", "back\\slash", None),
    ]
    df = spark.createDataFrame(rows, "id string, name string, `odd col` string")
    got = [
        r["row_hash"]
        for r in with_row_checksum(df, ["name", "odd col", "id"]).collect()
    ]
    py = [
        _golden([r[0] or "", r[1] or "", r[2] or ""])  # sorted: id, name, odd col
        for r in rows
    ]
    con = duckdb.connect()
    con.execute('CREATE TABLE t (i INT, id VARCHAR, name VARCHAR, "odd col" VARCHAR)')
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", [(i, *r) for i, r in enumerate(rows)])
    expr = checksum_sql(["id", "name", '"odd col"'])
    duck = [h for (h,) in con.execute(f"SELECT {expr} FROM t ORDER BY i").fetchall()]
    assert got == py == duck
