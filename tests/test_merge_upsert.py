"""Clause-free MERGE: the broadcast anti-join upsert.

With no clause and no schema evolution, ``merge_commit`` — behind
``merge_write`` and SQL ``MERGE INTO ... UPDATE SET * ... INSERT *`` —
commits ``source ∪ (target ▷ source.pk)``
(``operators/merge.py::merge_upsert``) instead of ``merge_into``'s
full-outer join. These tests pin that the two give the same table,
that SQL ``MERGE`` and ``merge_write`` leave identical tables, that
the source lineage runs once, and that the call leaves the session's
cache as it found it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from datapipeline_scraping_spark.operators.merge import merge_into
from datapipeline_scraping_spark.operators.txn import (
    ConstraintViolationError,
    ManifestTable,
    merge_write,
)
from datapipeline_scraping_spark.sources.manifest_sql import register_table, sql

SCHEMA = "pk long, v string, n long"


def _shape(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _check_parity(spark, tbl: ManifestTable, source, pk: str = "pk"):
    """merge_write on ``tbl`` equals merge_into (no clauses) on the
    same target, in rows and in (name, type) schema."""
    expected = merge_into(tbl.read(spark), source, pk)
    want_rows, want_shape = _rows(expected), _shape(expected.schema)
    merge_write(spark, tbl.root, source, pk, writer="manifest")
    got = tbl.read(spark)
    assert _shape(got.schema) == want_shape
    assert _rows(got) == want_rows


def _table(spark, tmp_path, rows, schema=SCHEMA) -> ManifestTable:
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.createDataFrame(rows, schema).repartition(2))
    return tbl


def test_parity_null_pks_both_sides(spark, tmp_path):
    tbl = _table(spark, tmp_path, [(1, "a", 1), (None, "tn", 2), (3, "c", 3)])
    src = spark.createDataFrame(
        [(1, "A", 10), (None, "sn", 20), (4, "D", 40)], SCHEMA
    )
    _check_parity(spark, tbl, src)
    # NULL never matches: both NULL-pk rows survive
    assert tbl.read(spark).filter("pk IS NULL").count() == 2


def test_parity_duplicated_source_pk(spark, tmp_path):
    tbl = _table(spark, tmp_path, [(1, "a", 1), (2, "b", 2)])
    src = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 11), (5, "e", 50), (5, "f", 51)], SCHEMA
    )
    _check_parity(spark, tbl, src)


def test_parity_int_source_against_bigint_target(spark, tmp_path):
    tbl = _table(spark, tmp_path, [(1, "a", 1), (2, "b", 2)])
    src = spark.createDataFrame([(2, "B", 20), (3, "C", 30)], "pk int, v string, n int")
    _check_parity(spark, tbl, src)
    assert dict(_shape(tbl.read(spark).schema))["n"] == "bigint"


def test_parity_extra_source_column_is_dropped(spark, tmp_path):
    tbl = _table(spark, tmp_path, [(1, "a", 1), (2, "b", 2)])
    src = spark.createDataFrame(
        [(2, "B", 20, "junk"), (3, "C", 30, "junk")], SCHEMA + ", extra string"
    )
    _check_parity(spark, tbl, src)
    assert "extra" not in tbl.read(spark).columns


def test_missing_source_column_raises_like_merge_into(spark, tmp_path):
    tbl = _table(spark, tmp_path, [(1, "a", 1)])
    src = spark.createDataFrame([(1, "A")], "pk long, v string")
    with pytest.raises(AnalysisException):
        merge_into(tbl.read(spark), src, "pk").collect()
    ver, before = tbl.version(), _persisted(spark)
    with pytest.raises(AnalysisException):
        merge_write(spark, tbl.root, src, "pk", writer="manifest")
    assert tbl.version() == ver
    assert _persisted(spark) == before


def test_parity_target_with_deletion_vector_and_update_delta(spark, tmp_path):
    tbl = _table(spark, tmp_path, [(i, f"v{i}", i) for i in range(10)])
    tbl.delete_where(spark, "pk IN (1, 2)", ["pk"])
    tbl.update_where(spark, "pk IN (3, 4)", {"v": "'upd'"}, ["pk"])
    entry = tbl._log_entry(tbl.version())
    assert entry.get("dv") and entry.get("mor_delta")
    # 2 re-inserts a deleted key, 3 overwrites an updated one
    src = spark.createDataFrame([(2, "s2", 20), (3, "s3", 30), (11, "s11", 110)], SCHEMA)
    _check_parity(spark, tbl, src)


def test_parity_legacy_plain_dir_is_adopted(spark, tmp_path):
    path = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a", 1), (2, "b", 2)], SCHEMA).write.parquet(path)
    src = spark.createDataFrame([(2, "B", 20), (3, "C", 30)], SCHEMA)
    expected = _rows(merge_into(spark.read.parquet(path), src, "pk"))
    merge_write(spark, path, src, "pk", writer="manifest")
    tbl = ManifestTable(path)
    assert tbl.version() == 2  # adopted (1), then merged
    assert _rows(tbl.read(spark)) == expected


@pytest.mark.parametrize("writer", ["delta", "parquet", "auto"])
def test_removed_writers_raise(spark, tmp_path, writer):
    tbl = _table(spark, tmp_path, [(1, "a", 1)])
    src = spark.createDataFrame([(1, "A", 10)], SCHEMA)
    with pytest.raises(ValueError, match="only writer"):
        merge_write(spark, tbl.root, src, "pk", writer=writer)
    assert tbl.version() == 1


@pytest.mark.parametrize("clauses", [False, True], ids=["upsert", "clauses"])
def test_merge_write_refuses_a_clustered_table(spark, tmp_path, clauses):
    """A MERGE commits copy-on-write, which would drop a clustered
    table's bucket layout, so ``merge_write`` refuses it as SQL
    ``MERGE`` does, and the live log entry keeps its ``bucket``."""
    tbl = ManifestTable(str(tmp_path / "cl"))
    tbl.commit_clustered(
        spark.createDataFrame([(1, "a", 1), (2, "b", 2)], SCHEMA), "pk", 4
    )
    src = spark.createDataFrame([(1, "A", 10), (3, "c", 3)], SCHEMA)
    kw = {"matched_update": F.lit(True)} if clauses else {}
    with pytest.raises(ValueError, match="CLUSTERED"):
        merge_write(spark, tbl.root, src, "pk", **kw)
    assert tbl.version() == 1
    assert tbl._log_entry(1)["bucket"]["col"] == "pk"


# --- SQL MERGE and merge_write leave the same table -----------------------

UPSERT_SQL = (
    "MERGE INTO {name} AS t USING {src} AS s ON t.pk = s.pk "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)


def _twin_tables(spark, tmp_path, rows, mor=False):
    """Two tables with the same rows: one for merge_write, one
    registered for SQL MERGE. ``mor`` leaves a deletion vector and an
    update delta on both."""
    out = []
    for side in ("df", "sql"):
        tbl = ManifestTable(str(tmp_path / side))
        tbl.commit(spark.createDataFrame(rows, SCHEMA).repartition(2))
        if mor:
            tbl.delete_where(spark, "pk IN (1, 2)", ["pk"])
            tbl.update_where(spark, "pk IN (3, 4)", {"v": "'upd'"}, ["pk"])
        out.append(tbl)
    register_table(spark, "twin_sql", out[1].root, key_cols=["pk"])
    return out


SQL_PARITY_CASES = {
    "null_pks": (
        [(1, "a", 1), (None, "tn", 2), (3, "c", 3)],
        [(1, "A", 10), (None, "sn", 20), (None, "sn2", 21), (4, "D", 40)],
        SCHEMA,
        False,
    ),
    "duplicate_unmatched_source_pks": (
        [(1, "a", 1), (2, "b", 2)],
        [(1, "x", 10), (5, "e", 50), (5, "f", 51)],
        SCHEMA,
        False,
    ),
    "extra_source_column": (
        [(1, "a", 1), (2, "b", 2)],
        [(2, "B", 20, "junk"), (3, "C", 30, "junk")],
        SCHEMA + ", extra string",
        False,
    ),
    "merge_on_read_target": (
        [(i, f"v{i}", i) for i in range(10)],
        [(2, "s2", 20), (3, "s3", 30), (11, "s11", 110)],
        SCHEMA,
        True,
    ),
}


@pytest.mark.parametrize("case", sorted(SQL_PARITY_CASES))
def test_sql_merge_matches_merge_write(spark, tmp_path, case):
    rows, src_rows, src_schema, mor = SQL_PARITY_CASES[case]
    df_tbl, sql_tbl = _twin_tables(spark, tmp_path, rows, mor)
    src = spark.createDataFrame(src_rows, src_schema)
    src.createOrReplaceTempView("twin_src")
    merge_write(spark, df_tbl.root, src, "pk", writer="manifest")
    sql(spark, UPSERT_SQL.format(name="twin_sql", src="twin_src"))
    want, got = df_tbl.read(spark), sql_tbl.read(spark)
    assert _shape(got.schema) == _shape(want.schema)
    assert _rows(got) == _rows(want)
    assert sql_tbl.version() == df_tbl.version()


def test_sql_merge_missing_source_column_raises_like_merge_write(spark, tmp_path):
    df_tbl, sql_tbl = _twin_tables(spark, tmp_path, [(1, "a", 1)])
    src = spark.createDataFrame([(1, "A")], "pk long, v string")
    src.createOrReplaceTempView("twin_src")
    before = _persisted(spark)
    with pytest.raises(AnalysisException):
        merge_write(spark, df_tbl.root, src, "pk", writer="manifest")
    with pytest.raises(AnalysisException):
        sql(spark, UPSERT_SQL.format(name="twin_sql", src="twin_src"))
    assert df_tbl.version() == sql_tbl.version() == 1
    assert _persisted(spark) == before


@pytest.mark.parametrize("clause_free", [True, False])
def test_sql_merge_duplicate_source_keys_matching_a_target_row_raise(
    spark, tmp_path, clause_free
):
    """ANSI: several source rows matching one target row is an error on
    the upsert plan and on the full-outer one; duplicated keys that
    match no target row (5) or are NULL insert every copy."""
    tbl = _table(spark, tmp_path, [(1, "a", 1), (2, "b", 2)])
    register_table(spark, "dup_tgt", tbl.root, key_cols=["pk"])
    clauses = (
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        if clause_free
        else "WHEN MATCHED AND s.n > 0 THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    stmt = f"MERGE INTO dup_tgt AS t USING dup_src AS s ON t.pk = s.pk {clauses}"
    spark.createDataFrame(
        [(2, "x", 20), (2, "y", 21), (5, "e", 50)], SCHEMA
    ).createOrReplaceTempView("dup_src")
    before = _persisted(spark)
    with pytest.raises(ValueError, match="multiple source rows match"):
        sql(spark, stmt)
    assert tbl.version() == 1
    assert _persisted(spark) == before
    spark.createDataFrame(
        [(2, "x", 20), (5, "e", 50), (5, "f", 51), (None, "n", 1), (None, "m", 2)],
        SCHEMA,
    ).createOrReplaceTempView("dup_src")
    sql(spark, stmt)
    assert _rows(tbl.read(spark)) == sorted(
        [(1, "a", 1), (2, "x", 20), (5, "e", 50), (5, "f", 51),
         (None, "n", 1), (None, "m", 2)],
        key=repr,
    )


# --- the source lineage runs once -----------------------------------------


def test_source_udf_runs_once_per_row(spark, tmp_path):
    """The pk comes out of a counting Python UDF, so both the key side
    and the row side of the upsert need it."""
    tbl = _table(spark, tmp_path, [(i, "t", i) for i in range(0, 400, 2)])
    calls = spark.sparkContext.accumulator(0)

    def key(x):
        calls.add(1)
        return x

    udf = F.udf(key, "long")
    n = 300
    src = spark.range(n, numPartitions=3).select(
        udf("id").alias("pk"), F.lit("s").alias("v"), F.col("id").alias("n")
    )
    before = _persisted(spark)
    merge_write(spark, tbl.root, src, "pk", writer="manifest")
    assert calls.value == n
    assert _persisted(spark) == before
    got = tbl.read(spark)
    assert got.count() == n + 50  # evens 300..398 survive from the target


def _py_random_key(domain: int):
    import random

    return F.udf(lambda: random.randrange(domain), "long").asNondeterministic()()


@pytest.mark.parametrize("kind", ["rand", "python_random"])
def test_nondeterministic_pk_is_evaluated_once(spark, tmp_path, kind):
    """A non-deterministic pk over a shuffled input: evaluated twice,
    the anti-join's keys and the inserted rows could disagree."""
    domain = 1000
    tbl = _table(spark, tmp_path, [(i, "tgt", i) for i in range(domain)])
    pk = (
        (F.rand() * domain).cast("long")
        if kind == "rand"
        else _py_random_key(domain)
    )
    src = (
        spark.range(200, numPartitions=4)
        .repartition(4, "id")
        .select(pk.alias("pk"), F.lit("src").alias("v"), F.col("id").alias("n"))
    )
    merge_write(spark, tbl.root, src, "pk", writer="manifest")
    got = tbl.read(spark).collect()
    src_rows = [r for r in got if r["v"] == "src"]
    tgt_keys = {r["pk"] for r in got if r["v"] == "tgt"}
    assert sorted(r["n"] for r in src_rows) == list(range(200))
    assert tgt_keys == set(range(domain)) - {r["pk"] for r in src_rows}


def test_failed_commit_releases_the_source_cache(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(
        spark.createDataFrame([(1, "a", 1)], SCHEMA), check={"n_ok": "n >= 0"}
    )
    src = spark.createDataFrame([(2, "b", -1)], SCHEMA)
    ver, before = tbl.version(), _persisted(spark)
    with pytest.raises(ConstraintViolationError):
        merge_write(spark, tbl.root, src, "pk", writer="manifest")
    assert tbl.version() == ver
    assert _persisted(spark) == before
    assert not src.is_cached


def test_caller_cache_is_kept(spark, tmp_path):
    tbl = _table(spark, tmp_path, [(1, "a", 1)])
    src = spark.createDataFrame([(1, "A", 10), (2, "B", 20)], SCHEMA).persist()
    try:
        src.count()
        before = _persisted(spark)
        merge_write(spark, tbl.root, src, "pk", writer="manifest")
        assert src.is_cached and src.storageLevel.useMemory
        assert _persisted(spark) == before
    finally:
        src.unpersist()
    assert _rows(tbl.read(spark)) == [(1, "A", 10), (2, "B", 20)]
