"""SQL UPDATE / DELETE / MERGE INTO routing onto the manifest ledger
(sources/manifest_sql.py) — statement surface, writer semantics,
and the guard contracts (CHECK constraints, MoR key rules) that must
hold on the SQL path exactly as on the DataFrame path.

Reference anchor: the reference's sink is literally SQL DML through
psycopg2 (``src/storage.py:41-53``); these tests pin that statement
surface on the snapshot ledger."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.txn import (
    ConstraintViolationError,
    ManifestTable,
)
from datapipeline_scraping_spark.sources.manifest_sql import (
    UnsupportedStatementError,
    predicate_view,
    register_table,
    sql,
)
from datapipeline_scraping_spark.sources.skipping import data_files


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk long, v string, n long")


@pytest.fixture
def tbl(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "sqldml"))
    t.commit(_df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    register_table(spark, "sqldml", t.root, key_cols=["pk"])
    return t


def _state(spark):
    return {
        r["pk"]: (r["v"], r["n"])
        for r in spark.sql("SELECT * FROM sqldml").collect()
    }


def test_sql_update_routes_merge_on_read(spark, tbl):
    ver = sql(spark, "UPDATE sqldml SET n = n + 100, v = upper(v) WHERE pk <= 2")
    assert ver == 2
    assert _state(spark) == {1: ("A", 110), 2: ("B", 120), 3: ("c", 30)}
    # merge-on-read: the statement wrote a sidecar, not a table rewrite
    assert (tbl._log_entry(2) or {}).get("mor_delta")
    # SET keys and WHERE columns may be qualified by the target's name
    # or alias
    register_table(spark, "ct", tbl.root, key_cols=["pk"])
    assert sql(spark, "UPDATE ct SET ct.n = 3 WHERE ct.pk = 1") == 3
    assert sql(spark, "UPDATE ct AS x SET x.n = x.n + 1 WHERE x.pk = 2") == 4
    assert sorted(tuple(r) for r in spark.table("ct").collect()) == [
        (1, "A", 3), (2, "B", 121), (3, "c", 30),
    ]


def test_sql_delete_routes_deletion_vector(spark, tbl):
    sql(spark, "DELETE FROM sqldml WHERE n >= 30")
    assert _state(spark) == {1: ("a", 10), 2: ("b", 20)}
    assert (tbl._log_entry(2) or {}).get("dv")
    # no WHERE deletes everything (ANSI), still merge-on-read
    sql(spark, "DELETE FROM sqldml")
    assert _state(spark) == {}


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_sql_merge_upsert_and_clauses(spark, tbl):
    _df(spark, [(2, "B2", 200), (9, "new", 900)]).createOrReplaceTempView(
        "src_batch"
    )
    ver = sql(
        spark,
        """MERGE INTO sqldml AS t USING src_batch AS s ON t.pk = s.pk
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
    )
    assert ver == 2
    assert _state(spark) == {
        1: ("a", 10), 2: ("B2", 200), 3: ("c", 30), 9: ("new", 900),
    }
    # conditional delete clause; no INSERT clause -> source-only ignored
    _df(spark, [(1, "x", 0), (7, "ghost", 7)]).createOrReplaceTempView(
        "src_del"
    )
    sql(
        spark,
        """MERGE INTO sqldml AS t USING src_del AS s ON t.pk = s.pk
           WHEN MATCHED AND s.n = 0 THEN DELETE""",
    )
    got = _state(spark)
    assert 1 not in got and 7 not in got and got[2] == ("B2", 200)


def test_sql_checks_and_key_rules_enforced(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "guarded"))
    t.commit(
        _df(spark, [(1, "a", 10)]), check={"n_pos": "n >= 0"}
    )
    register_table(spark, "guarded", t.root, key_cols=["pk"])
    with pytest.raises(ConstraintViolationError):
        sql(spark, "UPDATE guarded SET n = -5 WHERE pk = 1")
    assert t.version() == 1  # aborted commit left no version
    # key-column update is a delete+insert — rejected as on the
    # DataFrame path
    with pytest.raises(ValueError, match="key"):
        sql(spark, "UPDATE guarded SET pk = 99 WHERE pk = 1")
    # undeclared key_cols raise loudly instead of guessing
    t2 = ManifestTable(str(tmp_path / "nokeys"))
    t2.commit(_df(spark, [(1, "a", 1)]))
    register_table(spark, "nokeys", t2.root)
    with pytest.raises(ValueError, match="key columns"):
        sql(spark, "DELETE FROM nokeys WHERE pk = 1")


def test_sql_passthrough_and_unknown_tables(spark, tbl):
    # SELECT falls through to spark.sql and sees DML effects
    sql(spark, "UPDATE sqldml SET n = 0 WHERE pk = 1")
    df = sql(spark, "SELECT sum(n) AS s FROM sqldml")
    assert df.first()["s"] == 50
    # UPDATE on an unregistered name falls through to Spark's parser,
    # which rejects it (no silent mis-routing)
    spark.range(3).createOrReplaceTempView("plain_view")
    with pytest.raises(Exception):
        sql(spark, "UPDATE plain_view SET id = 1")


def test_sql_unsupported_shapes_raise(spark, tbl):
    _df(spark, [(1, "z", 1)]).createOrReplaceTempView("src_bad")
    # non-equality / cross-side ON conditions are rejected loudly
    with pytest.raises(ValueError, match="key equalit"):
        sql(
            spark,
            """MERGE INTO sqldml AS t USING src_bad AS s
               ON t.pk >= s.pk
               WHEN MATCHED THEN UPDATE SET *""",
        )
    with pytest.raises(ValueError, match="SAME column"):
        sql(
            spark,
            """MERGE INTO sqldml AS t USING src_bad AS s
               ON t.pk = s.n
               WHEN MATCHED THEN UPDATE SET *""",
        )
    with pytest.raises(ValueError, match="INSERT \\*"):
        sql(
            spark,
            """MERGE INTO sqldml AS t USING src_bad AS s ON t.pk = s.pk
               WHEN NOT MATCHED THEN INSERT (pk) VALUES (s.pk)""",
        )
    with pytest.raises(ValueError, match="SET assignment"):
        sql(spark, "UPDATE sqldml SET = 5")
    # duplicate NOT MATCHED clauses are rejected
    with pytest.raises(ValueError, match="at most one WHEN NOT MATCHED"):
        sql(
            spark,
            """MERGE INTO sqldml AS t USING src_bad AS s ON t.pk = s.pk
               WHEN NOT MATCHED AND s.n = 1 THEN INSERT *
               WHEN NOT MATCHED THEN INSERT *""",
        )
    # an unconditional non-final matched clause makes later clauses
    # unreachable under ANSI ordering — rejected, never mis-routed
    # (r13: the rule generalizes Delta's to N clauses)
    with pytest.raises(ValueError, match="except the last must have"):
        sql(
            spark,
            """MERGE INTO sqldml AS t USING src_bad AS s ON t.pk = s.pk
               WHEN MATCHED THEN UPDATE SET *
               WHEN MATCHED THEN DELETE""",
        )
    with pytest.raises(ValueError, match="except the last must have"):
        sql(
            spark,
            """MERGE INTO sqldml AS t USING src_bad AS s ON t.pk = s.pk
               WHEN MATCHED AND s.n = 1 THEN UPDATE SET *
               WHEN MATCHED THEN DELETE
               WHEN MATCHED AND s.n = 2 THEN UPDATE SET *""",
        )
    # colliding target/source aliases cannot be routed
    with pytest.raises(ValueError, match="aliases must differ"):
        sql(
            spark,
            """MERGE INTO sqldml AS x USING src_bad AS x ON x.pk = x.pk
               WHEN MATCHED THEN DELETE""",
        )
    # subquery sources need an alias to reference in ON
    with pytest.raises(ValueError, match="AS <alias>"):
        sql(
            spark,
            """MERGE INTO sqldml AS t USING (SELECT * FROM src_bad)
               ON t.pk = s.pk WHEN MATCHED THEN DELETE""",
        )
    # shapes Spark's parser accepts and the ledger's writers do not
    # implement, and the two parser refusals above: one named error
    # each, and nothing is committed
    merge = "MERGE INTO sqldml AS t USING src_bad AS s ON t.pk = s.pk "
    for stmt in [
        merge + "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        merge.replace("MERGE", "MERGE WITH SCHEMA EVOLUTION")
        + "WHEN MATCHED THEN UPDATE SET *",
        "ALTER TABLE sqldml ADD COLUMNS (a int, b int)",
        "ALTER TABLE sqldml DROP COLUMNS (n, v)",
        "ALTER TABLE sqldml ADD COLUMN a int FIRST",
        "ALTER TABLE sqldml ADD COLUMN a int DEFAULT 3",
        "ALTER TABLE sqldml ADD COLUMN a int COMMENT 'x'",
        "ALTER TABLE sqldml ADD COLUMN a int NOT NULL",
        "UPDATE default.sqldml SET n = 1",
        "DELETE FROM spark_catalog.default.sqldml WHERE pk = 1",
        "UPDATE sqldml SET = 5",
        merge + "WHEN MATCHED THEN UPDATE SET * WHEN MATCHED THEN DELETE",
    ]:
        with pytest.raises(UnsupportedStatementError):
            sql(spark, stmt)
    assert tbl.version() == 1
    assert spark.table("sqldml").columns == ["pk", "v", "n"]


def test_spark_parser_refuses_the_regex_verbs(spark):
    """``sql()`` matches OPTIMIZE, VACUUM, ALTER TABLE ... PARTITION BY
    and DESCRIBE HISTORY/DETAIL with regexes before Spark's parser,
    because the parser refuses the first three and reads the last two
    as DESCRIBE COLUMN. When a Spark upgrade parses one of them, this
    test names the regex to delete."""
    from pyspark.errors import ParseException

    parser = spark._jsparkSession.sessionState().sqlParser()
    for regex, stmt in [
        ("_OPTIMIZE_RE", "OPTIMIZE t"),
        ("_VACUUM_RE", "VACUUM t RETAIN 0 HOURS"),
        ("_ALTER_PART_RE", "ALTER TABLE t PARTITION BY (pk)"),
    ]:
        try:
            parser.parsePlan(stmt)
        except ParseException:
            continue
        pytest.fail(f"Spark now parses {stmt!r}: route it and delete {regex}")
    for regex, stmt in [
        ("_HISTORY_RE", "DESCRIBE HISTORY t"),
        ("_DETAIL_RE", "DESCRIBE DETAIL t"),
    ]:
        kind = parser.parsePlan(stmt).nodeName()
        assert kind == "DescribeColumn", (
            f"Spark now parses {stmt!r} as {kind}: route it and delete {regex}"
        )


@pytest.mark.slow  # r17 tiering: measured 11s; full (evidence) tier only
def test_sql_merge_clause_order_is_ansi(spark, tbl):
    """ADVICE r11 (medium): 'WHEN MATCHED AND c THEN UPDATE SET *
    WHEN MATCHED THEN DELETE' must UPDATE rows satisfying c and delete
    only the rest — the old delete-first routing deleted everything."""
    _df(
        spark, [(1, "upd", 100), (2, "del", 200), (9, "new", 900)]
    ).createOrReplaceTempView("src_order")
    sql(
        spark,
        """MERGE INTO sqldml AS t USING src_order AS s ON t.pk = s.pk
           WHEN MATCHED AND s.v = 'upd' THEN UPDATE SET *
           WHEN MATCHED THEN DELETE
           WHEN NOT MATCHED THEN INSERT *""",
    )
    assert _state(spark) == {
        1: ("upd", 100),   # first clause fired: updated
        3: ("c", 30),      # unmatched target: kept
        9: ("new", 900),   # inserted
    }                      # 2: second clause fired: deleted
    # delete-first order is honoured natively too
    _df(spark, [(1, "kill", 0), (3, "bump", 333)]).createOrReplaceTempView(
        "src_order2"
    )
    sql(
        spark,
        """MERGE INTO sqldml AS t USING src_order2 AS s ON t.pk = s.pk
           WHEN MATCHED AND s.v = 'kill' THEN DELETE
           WHEN MATCHED THEN UPDATE SET *""",
    )
    assert _state(spark) == {3: ("bump", 333), 9: ("new", 900)}


def test_sql_merge_composite_key_and_explicit_set(spark, tmp_path):
    """Composite-key ON (AND-ed equalities), explicit UPDATE SET
    assignments, and WHEN NOT MATCHED AND cond (VERDICT r11 item 2)."""
    t = ManifestTable(str(tmp_path / "comp"))
    t.commit(
        spark.createDataFrame(
            [(1, "x", 10), (1, "y", 20), (2, "x", 30)],
            "k1 long, k2 string, n long",
        )
    )
    register_table(spark, "comp", t.root, key_cols=["k1", "k2"])
    spark.createDataFrame(
        [(1, "x", 5), (2, "y", 7), (3, "z", 100), (4, "w", 1)],
        "k1 long, k2 string, n long",
    ).createOrReplaceTempView("comp_src")
    sql(
        spark,
        """MERGE INTO comp AS t USING comp_src AS s
           ON t.k1 = s.k1 AND t.k2 = s.k2
           WHEN MATCHED THEN UPDATE SET n = t.n + s.n
           WHEN NOT MATCHED AND s.n >= 100 THEN INSERT *""",
    )
    got = {
        (r["k1"], r["k2"]): r["n"]
        for r in spark.sql("SELECT * FROM comp").collect()
    }
    assert got == {
        (1, "x"): 15,    # matched both keys: n = t.n + s.n
        (1, "y"): 20,    # k2 differs: kept
        (2, "x"): 30,    # kept
        (3, "z"): 100,   # source-only AND n >= 100: inserted
    }                    # (2,'y') n=7 and (4,'w') n=1: cond false, dropped
    # explicit SET on a key column is a delete+insert — rejected
    with pytest.raises(ValueError, match="merge-key column"):
        sql(
            spark,
            """MERGE INTO comp AS t USING comp_src AS s
               ON t.k1 = s.k1 AND t.k2 = s.k2
               WHEN MATCHED THEN UPDATE SET k1 = 99""",
        )


def test_sql_merge_swapped_aliases_and_literals(spark, tbl):
    """ADVICE r11 (low): user aliases named s/t in SWAPPED roles must
    rewrite correctly (single-pass), and alias-looking tokens inside
    string literals must be left alone."""
    _df(spark, [(2, "s.", 1), (3, "zz", 2)]).createOrReplaceTempView(
        "src_swap"
    )
    # target aliased 's', source aliased 't' — swapped canonical names
    sql(
        spark,
        """MERGE INTO sqldml AS s USING src_swap AS t ON s.pk = t.pk
           WHEN MATCHED AND t.v = 's.' THEN UPDATE SET n = s.n + t.n
           WHEN MATCHED THEN DELETE""",
    )
    assert _state(spark) == {
        1: ("a", 10),   # unmatched target kept
        2: ("b", 21),   # t.v = 's.' literal matched; n = target 20 + 1
    }                   # 3: second clause deleted
    # CASE WHEN ... END needs no parentheses in a clause condition or
    # a SET value
    _df(spark, [(1, "x", 7), (2, "y", 5)]).createOrReplaceTempView("src_case")
    sql(
        spark,
        """MERGE INTO sqldml AS t USING src_case AS s ON t.pk = s.pk
           WHEN MATCHED AND CASE WHEN s.n > 6 THEN true ELSE false END
             THEN UPDATE SET n = CASE WHEN s.n > 6 THEN 1 ELSE 2 END
           WHEN MATCHED
             THEN UPDATE SET v = CASE WHEN s.n > 6 THEN 'hi' ELSE 'lo' END""",
    )
    assert _state(spark) == {
        1: ("a", 1),    # first clause fired: n = 1, v kept
        2: ("lo", 21),  # second clause fired: v = 'lo', n kept
    }


def test_sql_routing_is_session_scoped(spark, tbl):
    """ADVICE r11: the DML routing table is keyed by SparkSession — a
    name registered in one session must not route DML issued through
    another. (Spark 4.1 additionally bars sibling sessions from
    registering/using Python data sources at all, so the sibling can
    never even create the read view: the routing registry must not
    pretend otherwise.)"""
    from datapipeline_scraping_spark.sources.manifest_sql import (
        _SESSIONS,
        _tables,
    )

    sibling = spark.newSession()
    try:
        assert _tables(spark).get("sqldml")
        # the sibling has no entry for the name: its statement falls
        # through to Spark's parser (which rejects UPDATE on an
        # unknown/plain relation) instead of cross-routing to OUR table
        assert not _tables(sibling).get("sqldml")
        with pytest.raises(Exception):
            sql(sibling, "UPDATE sqldml SET n = 0 WHERE pk = 1")
        assert tbl.version() == 1, "sibling statement hit our table"
        # per-session entries are fully independent objects
        _tables(sibling)["sqldml"] = {"root": "/elsewhere", "key_cols": []}
        assert _tables(spark)["sqldml"]["root"] == tbl.root
    finally:
        _SESSIONS.pop(sibling, None)


def test_sql_merge_subquery_source_with_nested_parens(spark, tbl):
    """ADVICE r11 (low): the USING (...) extraction balances nested
    parentheses instead of stopping at the first ')'."""
    _df(spark, [(2, "B", 200), (9, "nine", 900)]).createOrReplaceTempView(
        "src_sub"
    )
    sql(
        spark,
        """MERGE INTO sqldml AS t
           USING (SELECT pk, upper(v) AS v, (n + (1 + 1)) AS n
                  FROM src_sub WHERE pk IN (2, 9)) AS s
           ON t.pk = s.pk
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
    )
    assert _state(spark) == {
        1: ("a", 10), 2: ("B", 202), 3: ("c", 30), 9: ("NINE", 902),
    }
    # an uncorrelated IN (SELECT ...) in a clause condition
    spark.createDataFrame([(202,), (30,)], "n long").createOrReplaceTempView(
        "src_allow"
    )
    _df(spark, [(1, "x", 1), (2, "y", 2), (3, "z", 3)]).createOrReplaceTempView(
        "src_in"
    )
    sql(
        spark,
        """MERGE INTO sqldml AS t USING src_in AS s ON t.pk = s.pk
           WHEN MATCHED AND t.n IN (SELECT n FROM src_allow)
             THEN UPDATE SET n = t.n + s.n""",
    )
    assert _state(spark) == {
        1: ("a", 10), 2: ("B", 204), 3: ("c", 33), 9: ("NINE", 902),
    }


def test_sql_surface_on_a_root_with_quotes_and_spaces(spark, tmp_path):
    """A root is a path, not SQL text: with quotes and a space in it,
    a registered view, ``sql()`` INSERT and UPDATE, and a predicate
    view return the rows :meth:`ManifestTable.read` does. (A backslash
    cannot be tried: Hadoop reads it as a glob escape, so
    ``ManifestTable`` refuses such a root with
    :class:`UnreadableRootError`.)"""
    t = ManifestTable(str(tmp_path / "it's a \"q\" dir"))
    t.commit(_df(spark, [(1, "a", 10), (2, "b", 20)]))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    register_table(spark, "quoted", t.root, key_cols=["pk"])
    assert rows(spark.table("quoted")) == rows(t.read(spark))
    sql(spark, "INSERT INTO quoted VALUES (3, 'c', 30)")
    assert t.version() == 2
    sql(spark, "UPDATE quoted SET n = n + 1 WHERE pk = 1")
    assert t.version() == 3
    want = rows(t.read(spark))
    assert want == [(1, "a", 11), (2, "b", 20), (3, "c", 30)]
    assert rows(spark.table("quoted")) == want
    predicate_view(spark, "quoted_pv", t.root, "pk <= 2")
    assert rows(spark.table("quoted_pv")) == want[:2]


def test_sql_insert_into_registered_table_commits(spark, tbl):
    """``INSERT INTO`` a registered name is :meth:`ManifestTable.append`:
    VALUES and a query both commit one version each and the re-minted
    view shows them; a CHECK violation commits nothing."""
    sql(spark, "INSERT INTO sqldml VALUES (4, 'd', 40)")
    assert tbl.version() == 2
    sql(
        spark,
        "INSERT INTO sqldml SELECT pk + 10, v, n FROM sqldml WHERE pk < 3",
    )
    assert tbl.version() == 3
    assert _state(spark) == {
        1: ("a", 10), 2: ("b", 20), 3: ("c", 30), 4: ("d", 40),
        11: ("a", 10), 12: ("b", 20),
    }
    t = ManifestTable(tbl.root + "_chk")
    t.commit(_df(spark, [(1, "a", 10)]), check={"n_pos": "n >= 0"})
    register_table(spark, "chk_ins", t.root, key_cols=["pk"])
    with pytest.raises(Exception, match="CHECK|n_pos"):
        sql(spark, "INSERT INTO chk_ins VALUES (2, 'b', -1)")
    assert t.version() == 1
    assert spark.table("chk_ins").count() == 1


def test_sql_insert_into_hive_partitioned_table(spark, tmp_path):
    """A ``grp``-partitioned table takes ``sql()`` INSERT of VALUES and
    of a query, one version each, and the view keeps the declared
    column order (the partition column in the middle)."""
    t = ManifestTable(str(tmp_path / "parted"))
    t.commit(
        _df(spark, [(1, "a", 10), (2, "b", 20)]).withColumnRenamed("v", "grp"),
        partition_by=["grp"],
    )
    register_table(spark, "parted", t.root, key_cols=["pk"])
    assert sql(spark, "INSERT INTO parted VALUES (3, 'c', 30), (4, 'a', 40)") == 2
    assert sql(
        spark, "INSERT INTO TABLE parted SELECT pk + 10, grp, n FROM parted"
    ) == 3
    view = spark.table("parted")
    assert view.columns == ["pk", "grp", "n"]
    assert sorted(tuple(r) for r in view.collect()) == [
        (1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "a", 40),
        (11, "a", 10), (12, "b", 20), (13, "c", 30), (14, "a", 40),
    ]
    assert {os.path.basename(os.path.dirname(f)) for f in data_files(
        t.snapshot_path()
    )} == {"grp=a", "grp=b", "grp=c"}


def test_sql_insert_checks_spark_sql_constraints(spark, tmp_path):
    """CHECK constraints are Spark SQL: an INSERT evaluates them with
    Spark, so ``pmod`` works, a passing row commits and a failing row
    raises :class:`ConstraintViolationError` with no new version."""
    t = ManifestTable(str(tmp_path / "pmod"))
    t.commit(_df(spark, [(1, "a", 1)]), check={"n_mod": "pmod(n, 7) <> 3"})
    register_table(spark, "pmod_t", t.root, key_cols=["pk"])
    assert sql(spark, "INSERT INTO pmod_t VALUES (2, 'b', 9), (3, 'c', NULL)") == 2
    with pytest.raises(ConstraintViolationError, match="n_mod"):
        sql(spark, "INSERT INTO pmod_t VALUES (4, 'd', 10)")
    assert t.version() == 2
    assert sorted(r["pk"] for r in spark.table("pmod_t").collect()) == [1, 2, 3]


def test_plain_spark_insert_into_registered_view_is_refused(spark, tbl):
    """A registered view is a DataFrame over the pinned snapshot
    directory. Spark must refuse a plain ``spark.sql`` INSERT into it:
    were the view a bare parquet relation, Spark would write an
    uncommitted file into the immutable snapshot and every reader of
    that version would see the row."""
    snap = tbl.snapshot_path()
    before = sorted(os.listdir(snap)), data_files(snap)
    with pytest.raises(Exception, match="UNSUPPORTED_INSERT"):
        spark.sql("INSERT INTO sqldml VALUES (9, 'z', 90)")
    assert (sorted(os.listdir(snap)), data_files(snap)) == before
    assert tbl.version() == 1
    assert tbl.read(spark).count() == 3


def test_sql_insert_cast_matrix(spark, tmp_path):
    """``sql()`` INSERT shapes its rows to the declared schema with
    Spark's INSERT rules (ANSI store assignment): a value that does
    not fit overflows, a string never casts into a numeric or date
    column, a column list picks and orders the targets (an omitted
    nullable column is NULL), VALUES must cover every column without
    a list, and a query's wider types narrow. Each case records the
    rows and version it committed, or the error condition with the
    version unchanged."""
    import datetime
    from decimal import Decimal

    t = ManifestTable(str(tmp_path / "casts"))
    t.commit(
        spark.createDataFrame(
            [], "id bigint, i int, s string, x double, "
            "d decimal(10,2), dt date",
        )
    )
    register_table(spark, "casts", t.root)
    d1 = "DATE '2024-01-01'"
    cases = [
        (f"VALUES (1, 1099511627776, 'a', 1.0, 1.00, {d1})",
         "CAST_OVERFLOW_IN_TABLE_INSERT"),
        (f"VALUES (1, 1, 'a', 1.0, 123456789.123, {d1})",
         "CAST_OVERFLOW_IN_TABLE_INSERT"),
        (f"VALUES (1, '12', 'a', 1.0, 1.00, {d1})",
         "INCOMPATIBLE_DATA_FOR_TABLE.CANNOT_SAFELY_CAST"),
        (f"VALUES (1, 'x', 'a', 1.0, 1.00, {d1})",
         "INCOMPATIBLE_DATA_FOR_TABLE.CANNOT_SAFELY_CAST"),
        ("VALUES (1, 2, 'a', 1.0, 1.00, '2024-02-03')",
         "INCOMPATIBLE_DATA_FOR_TABLE.CANNOT_SAFELY_CAST"),
        ("VALUES (NULL, NULL, NULL, NULL, NULL, NULL)",
         [(None, None, None, None, None, None)]),
        ("(dt, d, x, s, i, id) VALUES (DATE '2024-01-05', 2.5, 3.0, 'b', "
         "7, 8)",
         [(8, 7, "b", 3.0, Decimal("2.50"), datetime.date(2024, 1, 5))]),
        ("(id, i, s, x, d) VALUES (9, 9, 'c', 9.0, 9.99)",
         [(9, 9, "c", 9.0, Decimal("9.99"), None)]),
        ("VALUES (10, 10, 'z')",
         "INSERT_COLUMN_ARITY_MISMATCH.NOT_ENOUGH_DATA_COLUMNS"),
        (f"VALUES (1, 1, 'a', 1.0, 1.00, {d1}, 5)",
         "INSERT_COLUMN_ARITY_MISMATCH.TOO_MANY_DATA_COLUMNS"),
        ("SELECT CAST(11 AS decimal(20,0)), CAST(12 AS bigint), 's', "
         "2.7D, 3.14159D, TIMESTAMP '2024-03-04 05:06:07'",
         [(11, 12, "s", 2.7, Decimal("3.14"), datetime.date(2024, 3, 4))]),
    ]

    def rows():
        return sorted(
            (tuple(r) for r in t.read(spark).collect()), key=repr
        )

    for body, want in cases:
        before, v0 = rows(), t.version()
        try:
            sql(spark, f"INSERT INTO casts {body}")
        except Exception as exc:  # noqa: BLE001 - the class is the record
            got = exc.getCondition() if hasattr(exc, "getCondition") else (
                type(exc).__name__
            )
            assert (body, got, t.version()) == (body, want, v0)
            continue
        new = [r for r in rows() if r not in before]
        assert (body, new, t.version()) == (body, want, v0 + 1)
    v0 = t.version()
    with pytest.raises(Exception) as exc:
        sql(spark, f"INSERT OVERWRITE casts VALUES (1, 1, 'a', 1.0, 1.00, {d1})")
    assert exc.value.getCondition() == "UNSUPPORTED_INSERT.RDD_BASED"
    assert t.version() == v0


@pytest.mark.slow  # >60s (r15 tiering; measured 75-343s)
def test_merge_clause_semantics_exhaustive(spark, tmp_path):
    """Every supported clause-order/condition combination against a
    pure-Python ANSI MERGE reference (first matching clause wins;
    NULL conditions don't fire; no INSERT clause -> source-only rows
    do nothing). This is the model check behind the ADVICE r11 medium
    fix — delete-first routing must never mis-execute an
    UPDATE-before-DELETE statement."""
    # flags cycle TRUE/FALSE/NULL per pk so every (cond value) combo
    # appears across the matched and unmatched key ranges
    tri = [1, 0, None]
    t_rows = [(k, 10 * k, None, None, None) for k in range(1, 7)]
    s_rows = [
        (k, 100 * k, tri[k % 3], tri[(k + 1) % 3], tri[(k + 2) % 3])
        for k in range(4, 10)
    ]
    schema = "pk long, v long, du long, dd long, di long"

    def ansi(clauses, insert_cond):
        """Reference: clauses = ordered [(kind, flagname|None)] over
        matched rows, kind in {'U','D'}; insert_cond in
        {'none','all',<flag>} for NOT MATCHED."""
        s_by = {r[0]: r for r in s_rows}
        out = []
        for tr in t_rows:
            sr = s_by.get(tr[0])
            if sr is None:
                out.append(tr)
                continue
            fired = None
            for kind, flag in clauses:
                cond = True if flag is None else (
                    {"du": sr[2], "dd": sr[3], "di": sr[4]}[flag] == 1
                )
                if cond:
                    fired = kind
                    break
            if fired == "D":
                continue
            out.append(sr if fired == "U" else tr)
        t_pks = {r[0] for r in t_rows}
        for sr in s_rows:
            if sr[0] in t_pks:
                continue
            if insert_cond == "none":
                continue
            if insert_cond != "all" and sr[4] != 1:
                continue
            out.append(sr)
        return sorted(out, key=lambda r: r[0])

    def clause_sql(clauses, insert_cond):
        parts = []
        for kind, flag in clauses:
            cond = f" AND s.{flag} = 1" if flag else ""
            act = "UPDATE SET *" if kind == "U" else "DELETE"
            parts.append(f"WHEN MATCHED{cond} THEN {act}")
        if insert_cond == "all":
            parts.append("WHEN NOT MATCHED THEN INSERT *")
        elif insert_cond != "none":
            parts.append(
                f"WHEN NOT MATCHED AND s.{insert_cond} = 1 THEN INSERT *"
            )
        return "\n".join(parts)

    spark.createDataFrame(s_rows, schema).createOrReplaceTempView(
        "sem_src"
    )
    # legal matched-clause orders: single clauses unconditional or
    # conditional; two clauses in either order with a conditional
    # first; THREE clauses in every kind pattern (r13 — VERDICT r12
    # item 4 lifts the one-clause-per-action restriction; only the
    # last clause may be unconditional)
    matched_combos = [
        [("U", None)],
        [("U", "du")],
        [("D", None)],
        [("D", "dd")],
        [("U", "du"), ("D", None)],
        [("U", "du"), ("D", "dd")],
        [("D", "dd"), ("U", None)],
        [("D", "dd"), ("U", "du")],
        [("U", "du"), ("U", "dd")],
        [("D", "du"), ("D", "dd")],
        [("U", "du"), ("D", "dd"), ("U", None)],
        [("U", "du"), ("D", "dd"), ("D", "di")],
        [("D", "du"), ("U", "dd"), ("D", None)],
        [("U", "du"), ("U", "dd"), ("D", None)],
        [("D", "du"), ("D", "dd"), ("U", "di")],
    ]
    for ci, clauses in enumerate(matched_combos):
        for insert_cond in ("none", "all", "di"):
            root = str(tmp_path / f"sem_{ci}_{insert_cond}")
            t = ManifestTable(root)
            t.commit(spark.createDataFrame(t_rows, schema))
            name = f"sem_tbl_{ci}_{insert_cond}"
            register_table(spark, name, root, key_cols=["pk"])
            sql(
                spark,
                f"MERGE INTO {name} AS t USING sem_src AS s "
                f"ON t.pk = s.pk\n{clause_sql(clauses, insert_cond)}",
            )
            got = sorted(
                (tuple(r) for r in spark.sql(
                    f"SELECT * FROM {name}"
                ).collect()),
                key=lambda r: r[0],
            )
            want = [tuple(r) for r in ansi(clauses, insert_cond)]
            assert got == want, (
                f"clauses={clauses} insert={insert_cond}:\n"
                f"got  {got}\nwant {want}"
            )


def test_merge_three_clauses_with_mixed_set_maps(spark, tmp_path):
    """r13: multiple WHEN MATCHED UPDATE clauses with DIFFERENT SET
    maps compile to one per-column CASE over mutually-exclusive fired
    flags — each matched row takes exactly the first matching
    clause's assignments and keeps target values for columns that
    clause does not set."""
    schema = "pk long, v long, w long, du long, dd long"
    t_rows = [(k, 10 * k, 7 * k, None, None) for k in range(1, 6)]
    # s flags: pk1 -> du, pk2 -> dd, pk3 -> both (first wins), pk4 ->
    # neither (unconditional DELETE fires), pk5 missing (kept)
    s_rows = [
        (1, 100, 900, 1, 0),
        (2, 200, 900, 0, 1),
        (3, 300, 900, 1, 1),
        (4, 400, 900, 0, 0),
        (9, 999, 900, 1, 1),  # source-only: no INSERT clause -> no-op
    ]
    root = str(tmp_path / "mixedset")
    t = ManifestTable(root)
    t.commit(spark.createDataFrame(t_rows, schema))
    spark.createDataFrame(s_rows, schema).createOrReplaceTempView(
        "mixed_src"
    )
    register_table(spark, "mixed_tbl", root, key_cols=["pk"])
    sql(
        spark,
        """MERGE INTO mixed_tbl AS t USING mixed_src AS s ON t.pk = s.pk
           WHEN MATCHED AND s.du = 1 THEN UPDATE SET v = s.v
           WHEN MATCHED AND s.dd = 1 THEN UPDATE SET v = t.v + 1000, w = 0
           WHEN MATCHED THEN DELETE""",
    )
    got = {
        r["pk"]: (r["v"], r["w"])
        for r in spark.sql("SELECT * FROM mixed_tbl").collect()
    }
    assert got == {
        1: (100, 7),     # clause 1: v = s.v, w kept
        2: (1020, 0),    # clause 2: v = t.v + 1000, w = 0
        3: (300, 21),    # both flags: FIRST clause wins, w kept
        5: (50, 35),     # unmatched target row kept
    }, got  # pk4: unconditional DELETE (third clause) fired


def test_sql_alter_partition_by_evolves_and_refreshes_view(
    spark, tmp_path
):
    t = ManifestTable(str(tmp_path / "evo"))
    t.commit(
        spark.createDataFrame(
            [(i, "g%d" % (i % 2), float(i)) for i in range(8)],
            "pk long, grp string, v double",
        ),
        partition_by=["grp"],
    )
    register_table(spark, "evo_sql", t.root, key_cols=["pk"])
    ver = sql(spark, "ALTER TABLE evo_sql PARTITION BY (pk)")
    assert ver == 2
    entry = t._log_entry(2)
    assert [s["partition_by"] for s in entry["specs"]] == [["grp"], ["pk"]]
    # the refreshed view reads the evolved snapshot
    assert spark.sql("SELECT COUNT(*) AS n FROM evo_sql").first()["n"] == 8
    # evolve to unpartitioned via empty column list
    assert sql(spark, "ALTER TABLE evo_sql PARTITION BY ()") == 3
    assert t._log_entry(3)["partition_by"] == []
    # non-registered table falls through to spark.sql (and fails there,
    # not silently in the router)
    with pytest.raises(Exception):
        sql(spark, "ALTER TABLE not_registered PARTITION BY (pk)")


def test_sql_describe_history_surface(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "hist"))
    t.commit(_df(spark, [(1, "a", 10)]))
    t.append(_df(spark, [(2, "b", 20)]))
    register_table(spark, "hist_sql", t.root, key_cols=["pk"])
    h = sql(spark, "DESCRIBE HISTORY hist_sql")
    rows = {r["version"]: r for r in h.collect()}
    assert sorted(rows) == [1, 2]
    assert all(rows[v]["retained"] for v in rows)
    assert rows[2]["snapshot"].startswith("snap-")


def test_sql_alter_column_family_and_maintenance(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "ddl"), retention_sec=0.0)
    t.commit(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.append(_df(spark, [(3, "c", 30)]))
    register_table(spark, "ddl_sql", t.root, key_cols=["pk"])
    # metadata-only rename / add / drop through SQL
    assert sql(spark, "ALTER TABLE ddl_sql RENAME COLUMN v TO label") == 3
    assert "label" in spark.sql("SELECT * FROM ddl_sql").columns
    assert sql(spark, "ALTER TABLE ddl_sql ADD COLUMN score double") == 4
    row = spark.sql(
        "SELECT score FROM ddl_sql WHERE pk = 1"
    ).first()
    assert row["score"] is None
    assert sql(spark, "ALTER TABLE ddl_sql DROP COLUMN n") == 5
    assert "n" not in spark.sql("SELECT * FROM ddl_sql").columns
    # OPTIMIZE: bin the small files, report Delta-style metrics
    opt = sql(spark, "OPTIMIZE ddl_sql").first()
    assert opt["compacted"] and opt["files_after"] <= opt["files_before"]
    # VACUUM: aged snapshots beyond keep+retention are removed
    vac = sql(spark, "VACUUM ddl_sql RETAIN 0 HOURS").first()
    assert vac["snapshots_kept"] >= 1
    assert spark.sql("SELECT COUNT(*) AS n FROM ddl_sql").first()["n"] == 3


def test_sql_layout_guards_and_ansi_merge_contracts(spark, tmp_path):
    """Review fixes (r12): SQL MERGE refuses clustered targets instead
    of silently de-clustering them; duplicate source keys raise (ANSI
    'multiple source rows matched'); backslash-escaped quotes inside
    literals do not desync the statement lexers."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    # clustered MERGE refusal
    cl = ManifestTable(str(tmp_path / "cl"))
    cl.commit_clustered(_df(spark, [(1, "a", 10), (2, "b", 20)]), "pk", 4)
    register_table(spark, "cl_sql", cl.root, key_cols=["pk"])
    spark.createDataFrame([(1, "z", 99)], "pk long, v string, n long") \
        .createOrReplaceTempView("cl_src")
    with pytest.raises(ValueError, match="CLUSTERED"):
        sql(
            spark,
            "MERGE INTO cl_sql AS t USING cl_src AS s ON t.pk = s.pk "
            "WHEN MATCHED THEN UPDATE SET *",
        )
    # duplicate-source-key MERGE must raise, not duplicate target rows
    t = ManifestTable(str(tmp_path / "dup"))
    t.commit(_df(spark, [(1, "a", 10)]))
    register_table(spark, "dup_sql", t.root, key_cols=["pk"])
    spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2)], "pk long, v string, n long"
    ).createOrReplaceTempView("dup_src")
    with pytest.raises(Exception, match="[Dd]uplicate|unique"):
        sql(
            spark,
            "MERGE INTO dup_sql AS t USING dup_src AS s ON t.pk = s.pk "
            "WHEN MATCHED THEN UPDATE SET *",
        )
    # backslash-escaped quote inside a literal: the WHERE after the
    # literal must still be found (lexer handles \' escapes)
    t2 = ManifestTable(str(tmp_path / "esc"))
    t2.commit(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    register_table(spark, "esc_sql", t2.root, key_cols=["pk"])
    sql(spark, r"UPDATE esc_sql SET v = 'it\'s fine WHERE x' WHERE pk = 1")
    got = {
        r["pk"]: r["v"]
        for r in spark.sql("SELECT pk, v FROM esc_sql").collect()
    }
    assert got == {1: "it's fine WHERE x", 2: "b"}


def test_sql_describe_detail_surface(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    t = ManifestTable(str(tmp_path / "det"))
    t.commit(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    register_table(spark, "det_sql", t.root, key_cols=["pk"])
    d = sql(spark, "DESCRIBE DETAIL det_sql").first()
    assert d["format"] == "manifest" and d["version"] == 1
    assert d["num_files"] > 0 and d["size_bytes"] > 0
    assert d["num_specs"] == 1 and d["bucket"] is None
    assert d["specs"] is None and d["sort_order"] is None
    # r13 (VERDICT r12 item 8): what the commit log knows, DESCRIBE
    # DETAIL reports — spec HISTORY after an evolution and the
    # declared write sort order, byte-for-byte against _log_entry
    import json as _json

    assert t.set_sort_order(["v"])
    t.evolve_partition(["v"])
    d2 = sql(spark, "DESCRIBE DETAIL det_sql").first()
    entry = t._log_entry(t.version()) or {}
    assert d2["version"] == 2 and d2["num_specs"] == 2
    assert _json.loads(d2["specs"]) == entry["specs"]
    assert _json.loads(d2["sort_order"]) == ["v"]
    assert _json.loads(d2["partition_by"]) == ["v"]


def test_sql_merge_allows_ansi_legal_duplicate_inserts(spark, tmp_path):
    """Duplicate source keys that match NO target row are legal ANSI
    (both insert); duplicates matching one target row still raise."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    t = ManifestTable(str(tmp_path / "ansi"))
    t.commit(_df(spark, [(1, "a", 10)]))
    register_table(spark, "ansi_sql", t.root, key_cols=["pk"])
    spark.createDataFrame(
        [(5, "x", 1), (5, "y", 2)], "pk long, v string, n long"
    ).createOrReplaceTempView("ansi_src")
    sql(
        spark,
        "MERGE INTO ansi_sql AS t USING ansi_src AS s ON t.pk = s.pk "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = sorted(
        (r["pk"], r["v"]) for r in spark.sql(
            "SELECT pk, v FROM ansi_sql"
        ).collect()
    )
    assert got == [(1, "a"), (5, "x"), (5, "y")]
    # the same aliases without AS route too (both bare)
    spark.createDataFrame(
        [(1, "b", 3), (6, "z", 4), (6, "w", 5)], "pk long, v string, n long"
    ).createOrReplaceTempView("ansi_src")
    sql(
        spark,
        "MERGE INTO ansi_sql t USING ansi_src s ON t.pk = s.pk "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = sorted(
        (r["pk"], r["v"]) for r in spark.sql(
            "SELECT pk, v FROM ansi_sql"
        ).collect()
    )
    assert got == [(1, "b"), (5, "x"), (5, "y"), (6, "w"), (6, "z")]
