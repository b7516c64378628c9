"""The manifest table's SQL surface: the registered ``manifest`` data
source (sources/manifest_datasource.py), readable from pure SQL with
time travel and the full merge-on-read visibility composition
implemented per-task in Arrow, and the pruned predicate views
(``manifest_sql.predicate_view``). Every test pins PARITY against
:meth:`ManifestTable.read` or the same predicate as a Spark filter —
same rows, same logical schema, through the SQL surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.txn import ManifestTable
from datapipeline_scraping_spark.sources.manifest_datasource import register
from datapipeline_scraping_spark.sources.manifest_sql import (
    predicate_files,
    predicate_view,
    register_table,
    sql,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk long, v string")


def _src(spark, root, **opts):
    register(spark)
    r = spark.read.format("manifest").option("root", root)
    for k, x in opts.items():
        r = r.option(k, x)
    return r.load()


def _kept(root, where, **kw):
    """``(kept, total)``: the data files a predicate view of ``where``
    scans, and the snapshot's data-file count (metadata only)."""
    return predicate_files(root, where, **kw)


def _view(spark, root, where):
    """The rows of ``where`` over ``root``, through a predicate view."""
    predicate_view(spark, "pv_where", root, where)
    return spark.table("pv_where")


def _parity(spark, tbl, **opts):
    via_src = _src(spark, tbl.root, **opts)
    ver = int(opts["version"]) if "version" in opts else None
    via_api = tbl.read(spark, version=ver)
    assert via_src.columns == via_api.columns
    assert sorted(map(tuple, via_src.collect())) == sorted(
        map(tuple, via_api.collect())
    )
    return via_src


def test_head_and_version_reads_match_api(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(10)]))
    tbl.commit(_df(spark, [(i, f"w{i}") for i in range(12)]))
    _parity(spark, tbl)
    _parity(spark, tbl, version=1)
    _parity(spark, tbl, version=2)


@pytest.mark.slow  # r17 tiering: measured 11s; full (evidence) tier only
def test_mor_composition_through_sql(spark, tmp_path):
    """DELETE + UPDATE + RENAME sidecars all apply in the per-task
    Arrow read, exercised through a pure-SQL temp view."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(20)]))
    tbl.delete_where(spark, "pk % 5 = 0", ["pk"])
    tbl.update_where(spark, "pk < 4", {"v": "upper(v)"}, ["pk"])
    tbl.rename_column("v", "label")
    got = _parity(spark, tbl)
    rows = {r["pk"]: r["label"] for r in got.collect()}
    assert 0 not in rows and rows[1] == "V1" and rows[7] == "v7"
    register(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW mor_ledger
            USING manifest OPTIONS (root '{tbl.root}')"""
    )
    n = spark.sql(
        "SELECT count(*) AS n FROM mor_ledger WHERE label LIKE 'V%'"
    ).collect()[0]["n"]
    assert n == 3  # pk 1,2,3 upper-cased; pk 0 was already deleted
    # time travel through the SQL surface too
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW mor_v1
            USING manifest OPTIONS (root '{tbl.root}', version '1')"""
    )
    assert spark.table("mor_v1").count() == 20


def test_partitioned_snapshot_reconstructs_partition_columns(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    df = _df(spark, [(i, f"v{i}") for i in range(12)]).withColumn(
        "b", (F.col("pk") % 3).cast("long")
    )
    tbl.commit(df, partition_by=["b"])
    got = _parity(spark, tbl)
    assert {(r["pk"], r["b"]) for r in got.collect()} == {
        (i, i % 3) for i in range(12)
    }


def test_asof_and_error_contracts(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(1, "a")]))
    ts1 = tbl._log_entry(1)["ts"]
    tbl.commit(_df(spark, [(1, "a"), (2, "b")]))
    assert _src(spark, tbl.root, asof=str(ts1)).count() == 1
    with pytest.raises(Exception, match="no commit at or before"):
        _src(spark, tbl.root, asof="1.0").count()
    with pytest.raises(Exception, match="no commit log entry"):
        _src(spark, tbl.root, version="99").count()
    with pytest.raises(Exception, match="mutually exclusive"):
        _src(spark, tbl.root, version="1", asof=str(ts1)).count()


def test_unknown_option_refuses_instead_of_reading_the_table(spark, tmp_path):
    """The source takes root/version/asof only. A stale ``where``
    option (the removed row filter) would otherwise be ignored and
    return the WHOLE table; every entry point refuses it naming
    ``predicate_view``, and the table is untouched."""
    root = str(tmp_path / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(10)]))
    register(spark)
    with pytest.raises(Exception, match="predicate_view") as ei:
        spark.read.format("manifest").option("root", root).option(
            "where", "pk >= 8"
        ).load().collect()
    assert "ValueError" in str(ei.value)
    with pytest.raises(Exception, match="predicate_view"):
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW stale_where USING manifest "
            f"OPTIONS (root '{root}', `where` 'pk >= 8')"
        )
        spark.table("stale_where").collect()
    with pytest.raises(Exception, match="predicate_view"):
        _df(spark, [(10, "x")]).write.format("manifest").option(
            "root", root
        ).option("where", "pk >= 8").mode("append").save()
    assert tbl.version() == 1 and tbl.read(spark).count() == 10


def test_schema_evolution_nullfills_old_version(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(1, "a")]))
    tbl.commit(
        _df(spark, [(1, "a"), (2, "b")]).withColumn("extra", F.lit(7))
    )
    head = _src(spark, tbl.root)
    assert head.columns == ["pk", "v", "extra"]
    # old version through the source keeps ITS OWN schema (like read())
    old = _src(spark, tbl.root, version="1")
    assert old.columns == ["pk", "v"]


@pytest.mark.slow  # r17 tiering: measured 16s; full (evidence) tier only
def test_sql_insert_appends_with_every_contract(spark, tmp_path):
    """r10: the write half of the SQL surface — ``sql()`` INSERT INTO
    a registered name lands as an add-file commit with every append
    contract (stats/bloom/CDF maintained, constraints enforced)."""
    import os

    from datapipeline_scraping_spark.operators.txn import (
        ConstraintViolationError,
    )

    root = str(tmp_path / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    tbl.commit(
        spark.range(500)
        .select(F.col("id").alias("pk"), F.concat(F.lit("v"), F.col("id")).alias("v"))
        .repartition(2),
        stats_by=["pk"],
        bloom_by=["pk"],
        cdf_keys=["pk"],
        check={"pk_pos": "pk >= 0"},
    )
    register_table(spark, "wledger", root, key_cols=["pk"])
    snap1 = tbl.snapshot_path()
    inodes = {
        f: os.stat(os.path.join(snap1, f)).st_ino
        for f in os.listdir(snap1)
        if f.endswith(".parquet")
    }
    sql(spark, "INSERT INTO wledger VALUES (500, 'a'), (501, 'b')")
    assert tbl.version() == 2 and tbl.read(spark).count() == 502
    snap2 = tbl.snapshot_path()
    for f, ino in inodes.items():  # add-file commit: base untouched
        assert os.stat(os.path.join(snap2, f)).st_ino == ino
    e2 = tbl._log_entry(2)
    assert (e2.get("cdf") or {}).get("n_changes") == 2
    assert tbl.read_point(spark, "pk", 501).filter("pk = 501").count() == 1
    got = (
        tbl.read_range(spark, "pk", 500, 501)
        .filter("pk between 500 and 501")
        .count()
    )
    assert got == 2
    sql(spark, "INSERT INTO wledger SELECT 600, 'sqlrow'")
    assert tbl.version() == 3
    assert [
        (r["pk"], r["v"])
        for r in tbl.read(spark).filter("pk = 600").collect()
    ] == [(600, "sqlrow")]
    # constraint violation aborts atomically
    with pytest.raises(Exception) as ei:
        sql(spark, "INSERT INTO wledger VALUES (-1, 'bad')")
    assert "CHECK" in str(ei.value) or isinstance(
        ei.value, ConstraintViolationError
    )
    assert tbl.version() == 3 and tbl.read(spark).count() == 503


@pytest.mark.slow  # r17 tiering: measured 14s; full (evidence) tier only
def test_sql_insert_respects_renames_and_mor_guard(spark, tmp_path):
    """``sql()`` INSERT keeps metadata-only renames metadata (new files
    carry PHYSICAL names) and refuses appending keys a live deletion
    vector covers."""
    root = str(tmp_path / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(50)]).coalesce(1))
    tbl.rename_column("v", "val")
    register_table(spark, "renamed", root, key_cols=["pk"])
    sql(spark, "INSERT INTO renamed VALUES (50, 'new')")
    out = tbl.read(spark)
    assert out.columns == ["pk", "val"]
    assert out.filter("pk = 50").first()["val"] == "new"
    # parity through the read surface too
    assert _src(spark, root).filter("pk = 50").first()["val"] == "new"
    # appending a dv-covered key refuses
    tbl.delete_where(spark, "pk = 10", ["pk"])
    with pytest.raises(Exception, match="merge-on-read"):
        sql(spark, "INSERT INTO renamed VALUES (10, 'resurrect')")


def test_writes_through_the_source_are_refused(spark, tmp_path):
    """The data source is read-only: ``df.write.format("manifest")`` and
    a plain ``spark.sql`` INSERT into a ``USING manifest`` relation
    raise :class:`ManifestReadOnlyError` naming the append paths, the
    version stays, and no staging dir is left under the root."""
    import os

    root = str(tmp_path / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    tbl.commit(_df(spark, [(1, "a")]))
    register(spark)
    with pytest.raises(Exception, match="ManifestReadOnlyError") as ei:
        _df(spark, [(2, "b")]).write.format("manifest").option(
            "root", root
        ).mode("append").save()
    assert "register_table" in str(ei.value)
    with pytest.raises(Exception, match="ManifestReadOnlyError"):
        _df(spark, [(2, "b")]).write.format("manifest").option(
            "root", root
        ).mode("overwrite").save()
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW ro_ledger USING manifest "
        f"OPTIONS (root '{root}')"
    )
    with pytest.raises(Exception, match="ManifestReadOnlyError"):
        spark.sql("INSERT INTO ro_ledger VALUES (3, 'c')")
    assert tbl.version() == 1
    assert sorted(os.listdir(root)) == sorted(
        ["CURRENT", "_log", os.path.basename(tbl.snapshot_path())]
    )
    assert sorted(tuple(r) for r in _src(spark, root).collect()) == [(1, "a")]


def test_where_option_prunes_files_driver_side(spark, tmp_path):
    """A predicate view's ``where`` drives commit-log file skipping at
    planning time (see ``sources/manifest_datasource.py`` for why a
    plain WHERE on a ``USING manifest`` relation cannot): a predicate
    on a partition column or a stats-covered column drops files
    before any data file is opened, and the view's Spark predicate
    keeps the rows exact."""
    root = str(tmp_path / "push")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(300)],
        "id long, grp string, v double",
    )
    mt.commit(
        df.repartitionByRange(4, "id"),
        partition_by=["grp"],
        stats_by=["id"],
    )

    # partition-dir pruning
    kept, base = _kept(root, "grp = 'g1'")
    assert 0 < len(kept) < base
    # min/max stats pruning on a non-partition column
    kept2, _base = _kept(root, "id >= 250")
    assert 0 < len(kept2) < base
    # all-pruned edge: no data file scanned, zero rows
    assert _kept(root, "grp = 'nope'")[0] == []
    assert _view(spark, root, "grp = 'nope'").count() == 0
    # unknown column / bad syntax fail LOUDLY (a predicate the pruning
    # core cannot read exactly must never prune wrongly)
    with pytest.raises(ValueError, match="unknown column"):
        _kept(root, "nope = 1")
    with pytest.raises(ValueError):  # NOT outside IS NOT NULL: no grammar
        _kept(root, "NOT id = 5")
    # r15: OR joined the grammar — a disjunction plans (and prunes)
    assert len(_kept(root, "grp = 'g1' OR grp = 'nope'")[0]) == len(kept)
    # end-to-end through SQL: exact rows
    got = _view(spark, root, "grp = 'g1' AND id >= 250")
    exp = df.filter("grp = 'g1' AND id >= 250")
    assert sorted(map(tuple, got.select("id", "grp", "v").collect())) == \
        sorted(map(tuple, exp.select("id", "grp", "v").collect()))
    assert got.count() > 0
    # a filtered view is read-only
    with pytest.raises(Exception):
        spark.sql("INSERT INTO pv_where VALUES (999, 'g1', 1.0)")
    assert mt.version() == 1


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_double_reference_plans_stay_exact(spark, tmp_path):
    """REGRESSION (r13): Spark 4.1 keeps ONE mutable read-info slot
    per Python data source instance, so a reader whose partitions
    depend on pushFilters state serves the LAST branch's file list to
    EVERY scan of a twice-referenced relation — r12's design returned
    only one branch of `v.filter(a).union(v.filter(b))` and emptied
    an anti-join's build side (AQE then eliminated the join). The
    reader's partitions depend on its options alone, so these shapes
    must be exact."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    register(spark)
    root = str(tmp_path / "dblref")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(300)],
        "id long, grp string, v double",
    )
    mt.commit(df.repartitionByRange(4, "id"), partition_by=["grp"],
              stats_by=["id"])
    src = spark.read.format("manifest").option("root", root).load()
    # union of two differently-filtered branches of ONE DataFrame
    got = (
        src.filter("grp = 'g1'").select("id")
        .unionByName(src.filter("grp = 'g2'").select("id"))
        .count()
    )
    assert got == 200, got
    # anti-join whose build side is a filtered branch of the same df
    anti = (
        src.select("id")
        .join(src.filter("grp = 'g2'").select("id"), "id", "left_anti")
        .count()
    )
    assert anti == 200, anti
    # the same shapes through a twice-referenced SQL view
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW dbl_ledger "
        f"USING manifest OPTIONS (root '{root}')"
    )
    n = spark.sql(
        "SELECT id FROM dbl_ledger WHERE grp='g1' "
        "UNION ALL SELECT id FROM dbl_ledger WHERE grp='g2'"
    ).count()
    assert n == 200, n
    n2 = spark.sql(
        "SELECT a.id FROM dbl_ledger a LEFT ANTI JOIN "
        "(SELECT id FROM dbl_ledger WHERE grp='g2') b ON a.id=b.id"
    ).count()
    assert n2 == 200, n2
    # two predicate views ARE different relations: branch-safe
    va = _view(spark, root, "grp = 'g1'")
    vb = _view(spark, root, "grp = 'g2'")
    assert va.select("id").unionByName(vb.select("id")).count() == 200


def test_where_option_keeps_mor_and_evolved_tables_exact(spark, tmp_path):
    """Skipping composes with the DV/_upd finisher and with partition
    evolution: updated rows moved INTO the predicate's range surface
    through the always-scanned delta, and an evolved snapshot prunes
    each file by ITS spec's dirs with a stats fallback."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    root = str(tmp_path / "pm")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i)) for i in range(100)],
        "id long, grp string, v double",
    )
    mt.commit(
        df.repartitionByRange(4, "id"),
        partition_by=["grp"],
        stats_by=["id", "v"],
        keep_snapshots=50,
    )
    mt.evolve_partition(["id"], keep_snapshots=50)
    mt.append(
        spark.createDataFrame(
            [(100 + j, "g9", float(100 + j)) for j in range(5)],
            "id long, grp string, v double",
        ),
        keep_snapshots=50,
    )
    # move a row INTO a high-v range through the update delta only
    mt.update_where(
        spark, "id = 3", {"v": "v + 100000"}, key_cols=["id"],
        keep_snapshots=50,
    )
    mt.delete_where(spark, "id = 101", key_cols=["id"], keep_snapshots=50)
    rows = _view(spark, root, "v >= 100000").collect()
    assert [r["id"] for r in rows] == [3]
    # evolved pruning: grp dir-prunes spec-0 files, id dir-prunes
    # spec-1 files; both predicates stay exact through SQL
    got2 = _view(spark, root, "grp = 'g9' AND id >= 102")
    assert sorted(r["id"] for r in got2.collect()) == [102, 103, 104]


def test_in_list_prunes_by_point_set_not_range_envelope(spark, tmp_path):
    """`IN ('g0','g2')` must keep only those partition dirs — the
    [min,max] envelope alone would keep 'g1' too."""
    import os

    from datapipeline_scraping_spark.operators.txn import ManifestTable

    root = str(tmp_path / "inset")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(30)], "id long, grp string"
    )
    mt.commit(df, partition_by=["grp"])
    kept, base = _kept(root, "grp IN ('g0', 'g2')")
    assert 0 < len(kept) < base
    kept_dirs = {
        seg
        for f in kept
        for seg in f.split(os.sep)
        if seg.startswith("grp=")
    }
    assert kept_dirs == {"grp=g0", "grp=g2"}, kept_dirs
    # end-to-end rows stay exact
    got = _view(spark, root, "grp IN ('g0','g2')")
    assert got.count() == df.filter("grp IN ('g0','g2')").count()


def test_where_option_is_conservative_on_bools_and_escaped_dir_values(
    spark, tmp_path
):
    """Review fixes (r12, re-expressed on predicate views): a boolean
    partition column's hive dir value is 'true' while Python's
    str(True) is 'True' — point-set pruning must match
    case-insensitively, never wrongly prune; hive URL-escaped values
    ('a/b' -> 'a%2Fb') must compare (and surface) UNESCAPED through
    the SQL surface and the txn pruners."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    # boolean partition column
    root = str(tmp_path / "bools")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(20)], "id long, flag boolean"
    )
    mt.commit(df, partition_by=["flag"])
    got = _view(spark, root, "flag = true")
    assert got.count() == 10, "boolean equality wrongly pruned"
    # special-character partition value, hive-escaped on disk
    root2 = str(tmp_path / "esc")
    mt2 = ManifestTable(root2, retention_sec=3600)
    df2 = spark.createDataFrame(
        [(1, "a/b"), (2, "plain")], "id long, grp string"
    )
    mt2.commit(df2, partition_by=["grp"], stats_by=["id"])
    rows = _view(spark, root2, "grp = 'a/b'").collect()
    assert [r["id"] for r in rows] == [1], rows
    assert rows[0]["grp"] == "a/b", "dir value must surface unescaped"
    # txn-side partition pruning compares the true value too
    kept, total = mt2.pruned_files("grp", "a/b", "a/b")
    assert len(kept) == 1 and total == 2
    assert mt2.read_where(spark, {"grp": ("a/b", "a/b")}).count() == 1


def test_bucket_hash_matches_spark_f_hash(spark):
    """The pure-Python Murmur3 in functions/bucket_hash.py must agree
    with Spark's own F.hash (the function HashPartitioning buckets by)
    for every supported type — the pin that makes driver-side bucket
    pruning safe. A Spark upgrade that changed the hash breaks HERE,
    not in silently-wrong file skipping."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datapipeline_scraping_spark.functions.bucket_hash import (
        bucket_id,
        spark_hash,
    )

    rnd = random.Random(7)
    ints = [0, 1, -1, 2**31 - 1, -(2**31), 42] + [
        rnd.randint(-(2**31), 2**31 - 1) for _ in range(25)
    ]
    longs = ints + [2**63 - 1, -(2**63), 10**15] + [
        rnd.randint(-(2**63), 2**63 - 1) for _ in range(25)
    ]
    strs = ["", "a", "abc", "abcd", "abcde", "héllo wörld", "日本語", "x" * 99] + [
        "s%d" % rnd.randint(0, 10**9) for _ in range(25)
    ]
    cases = [
        (ints, T.IntegerType(), "int"),
        (longs, T.LongType(), "bigint"),
        (strs, T.StringType(), "string"),
    ]
    for vals, dtype, name in cases:
        df = spark.createDataFrame(
            [(v,) for v in vals],
            T.StructType([T.StructField("v", dtype)]),
        )
        for r in df.select(
            "v",
            F.hash("v").alias("h"),
            F.expr("pmod(hash(v), 8)").alias("b"),
        ).collect():
            assert spark_hash(r["v"], name) == r["h"], (name, r["v"])
            assert bucket_id(r["v"], name, 8) == r["b"], (name, r["v"])
    # unsupported (value, type) pairs refuse rather than guess
    assert spark_hash(1.5, "double") is None
    assert spark_hash(True, "bigint") is None
    assert spark_hash("x", "bigint") is None
    assert spark_hash(None, "string") is None


def test_bucket_points_prune_clustered_files(spark, tmp_path):
    """r13 (VERDICT r12 item 3): equality points on a CLUSTERED
    snapshot's bucket column (via a predicate view) prune to exactly
    those buckets' files on the SQL read path — the planning-time hash
    mirrors Spark's HashPartitioning, the bucket id comes from the
    file name (the layout contract read_clustered already depends on),
    and the rows stay exact through the view's Spark predicate."""
    import os

    from datapipeline_scraping_spark.functions.bucket_hash import (
        bucket_id,
        file_bucket_id,
    )
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    root = str(tmp_path / "clus")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(2000)], "k long, v double"
    )
    mt.commit_clustered(df, "k", 8)

    kept, base = _kept(root, "k = 1234")
    assert base >= 8  # one file per bucket at minimum
    assert 0 < len(kept) < base
    want_bucket = bucket_id(1234, "bigint", 8)
    assert all(
        file_bucket_id(os.path.basename(f)) == want_bucket for f in kept
    )

    # IN-list spanning two buckets keeps exactly those buckets' files
    kept2, _base = _kept(root, "k IN (3, 700)")
    allowed = {bucket_id(3, "bigint", 8), bucket_id(700, "bigint", 8)}
    assert 0 < len(kept2) < base
    assert all(
        file_bucket_id(os.path.basename(f)) in allowed for f in kept2
    )

    # a range-only predicate has no equality points: bucket pruning
    # stays off (every bucket can hold ks >= 3) — conservative
    assert len(_kept(root, "k >= 3")[0]) == base

    # end-to-end through SQL: exact rows, MoR delete composes (the DV
    # anti-join rides every kept file's scan)
    mt.delete_where(spark, "k = 1234", ["k"])
    got = _view(spark, root, "k IN (1234, 700)").collect()
    assert [(r["k"], r["v"]) for r in got] == [(700, 700.0)]


def test_spark_shared_readinfo_canary(spark, tmp_path):
    """CANARY for the Spark 4.1 behavior that keeps pruning out of the
    ``USING manifest`` reader: a minimal Python data source whose
    partitions() depends on pushFilters state returns WRONG results
    when one relation is scanned twice with different predicates — the
    engine's readers therefore must not implement pushFilters. If a
    Spark upgrade fixes the shared read-info slot, THIS TEST FAILS,
    which is the signal that planning-time pushFilters pruning is safe
    to restore (see the manifest_datasource module docstring)."""
    import pyarrow as pa
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        InputPartition,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    class CanaryReader(DataSourceReader):
        def __init__(self):
            self.point = None

        def pushFilters(self, filters):
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("part",):
                    self.point = f.value
                yield f

        def partitions(self):
            # filter-dependent partitions: the unsound-by-Spark shape
            parts = [0, 1] if self.point is None else [self.point]
            return [InputPartition(p) for p in parts]

        def read(self, partition):
            yield from pa.table(
                {"part": pa.array([partition.value] * 5, pa.int64())}
            ).to_batches()

    class CanarySource(DataSource):
        @classmethod
        def name(cls):
            return "readinfo_canary"

        def schema(self):
            return StructType([StructField("part", LongType())])

        def reader(self, schema):
            return CanaryReader()

    try:
        spark.dataSource.register(CanarySource)
    except Exception as exc:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        src = spark.read.format("readinfo_canary").load()
        got = (
            src.filter("part = 0")
            .unionByName(src.filter("part = 1"))
            .count()
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    # correct would be 10; the shared read-info slot serves ONE
    # branch's partition list to both scans, so one branch's exact
    # filter kills the other branch's rows
    assert got == 5, (
        f"union returned {got}: Spark's per-source read-info slot no "
        f"longer conflates differently-filtered scans — planning-time "
        f"pushFilters pruning may be safe to restore in the manifest/"
        f"CDF readers (and this canary should be updated)"
    )


def test_where_option_is_null_prunes_hive_null_dirs(spark, tmp_path):
    """IS [NOT] NULL in the predicate grammar: a file under
    col=__HIVE_DEFAULT_PARTITION__ holds ONLY nulls of col and one
    under col=value holds none, so either polarity prunes exactly on
    dir-encoded columns; non-dir columns fall through to the view's
    row filter (min/max stats carry no null counts)."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    root = str(tmp_path / "nulls")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [
            (i, None if i % 3 == 0 else "g%d" % (i % 2), float(i))
            for i in range(30)
        ],
        "id long, grp string, v double",
    )
    mt.commit(df, partition_by=["grp"], stats_by=["id"])
    nn_files, base = _kept(root, "grp IS NOT NULL")
    kept_nn = len(nn_files)
    kept_n = len(_kept(root, "grp IS NULL")[0])
    assert 0 < kept_nn < base and 0 < kept_n < base
    assert kept_nn + kept_n == base  # the two polarities partition

    def src(w):
        return _view(spark, root, w)

    assert src("grp IS NOT NULL").count() == 20
    assert src("grp IS NULL").count() == 10
    assert sorted(
        r["id"] for r in src("grp IS NULL AND id >= 21").collect()
    ) == [21, 24, 27]
    # non-dir-encoded column: no file pruning, row filter still exact
    assert src("v IS NULL").count() == 0


def test_where_temporal_literals_prune_and_stay_exact(spark, tmp_path):
    """r14 (VERDICT r13 item 1): DATE/TIMESTAMP typed literals, bare
    ISO strings, and epoch-second numerics in the predicate grammar —
    coerced once at parse, pruned through hive dirs AND per-file
    min/max stats (temporal bounds and stats meet as ISO strings with
    conservative prefix truncation), re-applied row-exactly by the
    view's Spark predicate. Time windows are THE dominant predicate on
    an events ledger."""
    import datetime as dt

    root = str(tmp_path / "temporal")
    mt = ManifestTable(root, retention_sec=3600)
    base_ts = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [
            (i, base_ts + dt.timedelta(hours=i), (base_ts + dt.timedelta(hours=i)).date())
            for i in range(96)
        ],
        "id long, ts timestamp_ntz, d date",
    )
    mt.commit(
        df.repartitionByRange(4, "ts"), partition_by=["d"], stats_by=["ts"]
    )

    # typed TIMESTAMP literal: stats + dir pruning, then exact rows
    w = "ts >= TIMESTAMP '2024-03-03 12:00:00'"
    kept_files, base = _kept(root, w)
    kept = len(kept_files)
    assert 0 < kept < base, (kept, base)

    def src(where):
        return _view(spark, root, where)

    exp = sorted(r["id"] for r in df.filter("ts >= '2024-03-03 12:00:00'").collect())
    assert sorted(r["id"] for r in src(w).collect()) == exp and exp

    # typed DATE literal on the dir-encoded date column: exact dirs
    w2 = "d = DATE '2024-03-02'"
    kept2 = len(_kept(root, w2)[0])
    assert 0 < kept2 < base
    assert src(w2).count() == 24

    # bare ISO string and epoch-second numerics are coerced too
    assert sorted(r["id"] for r in src("ts >= '2024-03-03 12:00:00'").collect()) == exp
    epoch = dt.datetime(2024, 3, 3, 12, tzinfo=dt.timezone.utc).timestamp()
    assert sorted(r["id"] for r in src(f"ts >= {epoch}").collect()) == exp

    # BETWEEN with temporal bounds; DATE literal promotes on a ts col
    w3 = "ts BETWEEN DATE '2024-03-02' AND TIMESTAMP '2024-03-02 23:00:00'"
    assert src(w3).count() == 24

    # IN over dates
    assert src("d IN (DATE '2024-03-01', DATE '2024-03-04')").count() == 48

    # malformed literals and type mismatches fail AT PARSE, loudly
    for bad in (
        "ts >= TIMESTAMP 'not-a-time'",
        "d = DATE '2024-13-40'",
        "ts >= 'nonsense'",
        "d = 5",
        "id > 5 AND",  # dangling AND (ADVICE r13)
    ):
        with pytest.raises(ValueError):
            _kept(root, bad)


def test_where_float_nan_matches_spark_ordering(spark, tmp_path):
    """ADVICE r13 (medium): Spark orders NaN ABOVE every number — so
    `>`/`>=` on a float/double column must keep NaN rows AND must not
    lo-prune on min/max stats (parquet writers skip NaN computing
    stats, so a file whose stats say [0, 1] can still hold NaN rows
    that `v > 100` keeps)."""
    from pyspark.sql import Row

    root = str(tmp_path / "nan")
    mt = ManifestTable(root, retention_sec=3600)
    # low-valued file + NaN in the SAME rows region; high file apart
    df = spark.createDataFrame(
        [Row(id=1, v=1.0), Row(id=2, v=float("nan")), Row(id=3, v=0.5)],
        "id long, v double",
    ).repartitionByRange(1, "id").union(
        spark.createDataFrame([(4, 500.0)], "id long, v double")
    )
    mt.commit(df.repartition(2, "id"), stats_by=["v"])

    def ids(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    full = mt.read(spark)
    for w in ("v > 100", "v >= 0", "v < 100", "v <= 1", "v = 500",
              "v BETWEEN 0 AND 2"):
        assert ids(w) == sorted(
            r["id"] for r in full.filter(w).collect()
        ), w
    # the NaN row specifically survives a > bound above every finite v
    assert 2 in ids("v > 1000")


def test_where_decimal_literals_validate_and_compare_exactly(
    spark, tmp_path
):
    """ADVICE r13 (low): int/float literals on decimal columns coerce
    to exact decimal.Decimal at parse, and compare at the column's
    scale: `p = 2` on decimal(10,2) must find 2.00, and a literal not
    representable at that scale matches nothing without erroring."""
    root = str(tmp_path / "dec")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(1, "2.00"), (2, "3.50"), (3, "9.99")], "id long, p string"
    ).withColumn("p", F.col("p").cast("decimal(10,2)"))
    mt.commit(df.repartition(3, "id"), stats_by=["p"])

    def ids(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    assert ids("p = 2") == [1]
    assert ids("p IN (2, 3.5)") == [1, 2]
    assert ids("p > 2.005") == [2, 3]
    assert ids("p BETWEEN 2 AND 4") == [1, 2]
    # literals unrepresentable at the column's scale match nothing —
    # and never error mid-query
    assert ids("p = 2.005") == []
    assert ids("p IN (2.005, 3.5)") == [2]


@pytest.mark.parametrize("dirname", ["root with space", "root%25pct"])
def test_bloom_sidecar_keys_files_on_a_root_that_needs_uri_escaping(
    spark, tmp_path, dirname
):
    """The sidecar keys each bloom by the data file's path relative to
    the snapshot, decoded from the percent-encoded ``input_file_name``
    URI: on a root with a space or a ``%`` the keys still name the
    snapshot's files, so a point probe keeps one file of four."""
    import os

    from datapipeline_scraping_spark.operators.txn import BLOOM_DIR
    from datapipeline_scraping_spark.sources.skipping import data_files

    mt = ManifestTable(str(tmp_path / dirname))
    mt.commit(spark.range(4000).repartition(4), bloom_by=["id"])
    snap = mt.snapshot_path()
    rels = sorted(os.path.relpath(f, snap) for f in data_files(snap))
    keyed = spark.read.parquet(os.path.join(snap, BLOOM_DIR))
    assert sorted(r["file"] for r in keyed.collect()) == rels
    kept, total, indexed = mt.bloom_pruned_files("id", 17)
    assert (len(kept), total, indexed) == (1, 4, True)


def test_where_equality_points_consult_bloom_sidecar(spark, tmp_path):
    """r14 (VERDICT r13 item 2): = / IN points on a bloom-indexed,
    non-bucket, non-dir column prune FILES through the `_bloom`
    sidecar at planning — the difference between a point lookup
    touching O(1) files and touching every file whose wide min/max
    envelope matches. Conservative contract: bloom says 'maybe' keeps
    the file; unindexed columns and uncanonicalizable points never
    prune; rows stay exact either way."""
    root = str(tmp_path / "bloomy")
    mt = ManifestTable(root, retention_sec=3600)
    # ids are SHUFFLED across files, so every file's [min, max]
    # envelope spans the domain — min/max alone cannot skip anything
    df = spark.createDataFrame(
        [(i, f"u{i % 97}") for i in range(4000)], "id long, uid string"
    )
    mt.commit(df.repartition(8), bloom_by=["id"])
    kept_eq, base = _kept(root, "id = 1234")
    assert base == 8
    assert 0 < len(kept_eq) < base, (len(kept_eq), base)
    kept_in = _kept(root, "id IN (1234, 77)")[0]
    assert 0 < len(kept_in) < base

    # a range predicate doesn't consult the bloom (and can't prune
    # here — every envelope spans the domain): all files kept
    kept_rng = _kept(root, "id >= 0")[0]
    assert len(kept_rng) == base
    # unindexed column: no bloom prune, still exact
    kept_uid = _kept(root, "uid = 'u5'")[0]
    assert len(kept_uid) == base

    def src(w):
        return _view(spark, root, w)

    assert [r["id"] for r in src("id = 1234").collect()] == [1234]
    assert sorted(r["id"] for r in src("id IN (1234, 77)").collect()) == [
        77,
        1234,
    ]
    assert src("uid = 'u5'").count() == df.filter("uid = 'u5'").count()
    # bloom composes with MoR: delete the probed row, point read sees it
    mt.delete_where(spark, "id = 1234", ["id"])
    assert src("id = 1234").count() == 0


def test_where_nullness_prunes_on_data_column_null_counts(
    spark, tmp_path
):
    """r14 (VERDICT r13 item 3): commit-time file stats now carry
    [min, max, nulls, rows], so IS [NOT] NULL prunes files on DATA
    columns (all-null files for NOT NULL, null-free files for IS
    NULL), not just dir-encoded ones — and EVERY stats-writing path
    records them (commit, append, compaction; the q194 lesson: the
    writer you forget is the one that drops it)."""
    from datapipeline_scraping_spark.operators.txn import compact_table

    root = str(tmp_path / "nullstats")
    mt = ManifestTable(root, retention_sec=3600)
    # range-partitioned on id => one all-null file, one null-free file
    df = spark.createDataFrame(
        [(i, None if i < 100 else f"x{i}") for i in range(300)],
        "id long, s string",
    )
    mt.commit(
        df.repartitionByRange(3, "id"), stats_by=["id", "s"],
        keep_snapshots=50,
    )

    def kept(w, ver=None):
        return len(_kept(root, w, version=ver)[0])

    base = kept("id >= 0")  # no null conds: every file
    assert kept("s IS NULL") < base
    assert kept("s IS NOT NULL") < base
    # an all-null file cannot satisfy ANY comparison (SQL null
    # semantics) — cmp predicates prune it even without min/max
    assert kept("s >= 'x'") < base

    # append writes stats through the incremental path
    mt.append(
        spark.createDataFrame(
            [(300 + j, None) for j in range(50)], "id long, s string"
        ),
        keep_snapshots=50,
    )
    stats2 = (mt._log_entry(2) or {}).get("file_stats") or {}
    new_rels = [
        rel for rel, st in stats2.items() if "s" in st and len(st["s"]) >= 4
    ]
    assert new_rels, "appended files must carry null counts"
    assert kept("s IS NOT NULL", ver=2) < kept("id >= 0", ver=2)

    # compaction re-stats its rewritten files with null counts too
    res = compact_table(spark, root, target_files=2, min_gain_files=0)
    assert res.get("compacted"), res
    stats3 = (mt._log_entry(mt.version()) or {}).get("file_stats") or {}
    assert any(len(st.get("s") or []) >= 4 for st in stats3.values()), (
        "compacted files lost null counts"
    )

    got = _view(spark, root, "s IS NULL").count()
    assert got == 150


def test_predicate_view_helper_mints_pruned_sql_views(spark, tmp_path):
    """r14 (VERDICT r13 item 4): `predicate_view` is the SQL-surface
    path to predicate views — it validates the predicate against the
    committed schema at CREATE (typos fail loudly, not mid-query),
    keeps quoted literals intact, and the minted view scans only the
    window's files."""
    import datetime as dt

    from datapipeline_scraping_spark.sources.manifest_sql import (
        predicate_view,
    )

    root = str(tmp_path / "pview")
    mt = ManifestTable(root, retention_sec=3600)
    base_ts = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(i, base_ts + dt.timedelta(hours=i), f"it's {i}") for i in range(96)],
        "id long, ts timestamp_ntz, note string",
    )
    mt.commit(df.repartitionByRange(4, "ts"), stats_by=["ts"])

    predicate_view(
        spark, "pv_recent", root, "ts >= TIMESTAMP '2024-03-03 12:00:00'"
    )
    got = spark.sql("SELECT id FROM pv_recent").count()
    assert got == df.filter("ts >= '2024-03-03 12:00:00'").count() > 0
    # fewer tasks than the unfiltered view: compare scan partitions
    n_all = _src(spark, root).rdd.getNumPartitions()
    n_view = spark.table("pv_recent").rdd.getNumPartitions()
    assert 0 < n_view < n_all, (n_view, n_all)

    # quotes in predicate literals survive
    predicate_view(spark, "pv_quoted", root, "note = 'it''s 5'")
    assert [r["id"] for r in spark.sql(
        "SELECT id FROM pv_quoted"
    ).collect()] == [5]

    # typos fail at CREATE
    with pytest.raises(ValueError, match="unknown column"):
        predicate_view(spark, "pv_bad", root, "nope = 1")
    with pytest.raises(ValueError):
        predicate_view(spark, "pv_bad", root, "ts >= 'garbage'")
    # ADVICE r14 (low): Spark SQL would read a backslash escape
    # ('a\tb' -> a tab) where the grammar reads it literally — the
    # same text would select different rows, so it is rejected,
    # never re-interpreted
    with pytest.raises(ValueError, match="backslash"):
        predicate_view(spark, "pv_bad", root, "note = 'a\\tb'")


def test_where_temporal_on_zoned_timestamp_column(spark, tmp_path):
    """TimestampType (session-tz) columns: the canonical naive literal
    carries the UTC instant, and the view types it as that instant —
    cmp, IN, and epoch-numeric BETWEEN all stay Spark-exact. Also pins
    the r14 INT96 regression: Spark DEFAULTS zoned-timestamp parquet
    writes to deprecated INT96, which carries NO statistics — the
    engine session forces TIMESTAMP_MICROS (session._RUNTIME_CONF), so
    committed zoned columns MUST carry min/max file stats and the
    window predicate MUST skip files."""
    import datetime as dt

    from datapipeline_scraping_spark.session import prepare

    prepare(spark)
    root = str(tmp_path / "tz")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 3, 1) + dt.timedelta(hours=i)) for i in range(48)],
        "id long, ts timestamp",
    )
    mt.commit(df.repartitionByRange(3, "ts"), stats_by=["ts"])
    stats = (mt._log_entry(1) or {}).get("file_stats") or {}
    assert any("ts" in st for st in stats.values()), (
        "zoned timestamp column lost its file stats — INT96 write?"
    )
    kept_files, base = _kept(root, "ts >= TIMESTAMP '2024-03-02 00:00:00'")
    kept = len(kept_files)
    assert 0 < kept < base, (kept, base)

    def ids(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    for w in (
        "ts >= TIMESTAMP '2024-03-02 00:00:00'",
        "ts IN (TIMESTAMP '2024-03-01 05:00:00', "
        "TIMESTAMP '2024-03-02 07:00:00')",
    ):
        assert ids(w) == sorted(r["id"] for r in df.filter(w).collect()), w
    epoch_lo = dt.datetime(2024, 3, 1, 12, tzinfo=dt.timezone.utc).timestamp()
    epoch_hi = dt.datetime(2024, 3, 2, 0, tzinfo=dt.timezone.utc).timestamp()
    got = ids(f"ts BETWEEN {epoch_lo} AND {epoch_hi}")
    exp = sorted(
        r["id"]
        for r in df.filter(
            "ts BETWEEN '2024-03-01 12:00:00' AND '2024-03-02 00:00:00'"
        ).collect()
    )
    assert got == exp and got


@pytest.mark.slow  # r17 tiering: measured 17s; full (evidence) tier only
def test_where_not_equal_prunes_single_value_files_and_stays_exact(
    spark, tmp_path
):
    """r14: `!=` / `<>` join the grammar. Pruning is deliberately
    narrow — only a file that PROVABLY holds one excluded value goes:
    a dir-encoded partition equal to the literal, a non-float numeric
    column whose min == max, or an all-null column (null != x is
    null). float/double columns are exempt from the stats form (NaN
    never enters min/max but satisfies != against any finite literal —
    Spark orders NaN as a real value)."""
    root = str(tmp_path / "neq")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [
            (
                i,
                "g%d" % (i % 3),
                float("nan") if i == 7 else float(i),
            )
            for i in range(30)
        ],
        "id long, grp string, w double",
    )
    mt.commit(df, partition_by=["grp"], stats_by=["id", "w"])
    kept_files, base = _kept(root, "grp != 'g1'")
    kept = len(kept_files)
    assert 0 < kept < base, (kept, base)

    def ids(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    for w in ("grp != 'g1'", "id != 4 AND id <> 5", "w != 7.0",
              "grp <> 'g0' AND id >= 10"):
        assert ids(w) == sorted(
            r["id"] for r in df.filter(w).collect()
        ), w
    # the NaN row survives != against any finite literal
    assert 7 in ids("w != 7.0") and 7 in ids("w != 123.0")


def test_neq_dir_prune_is_exact_and_type_faithful(spark, tmp_path):
    """ADVICE r14 (high): the `!=` dir prune must match the excluded
    literal against the hive dir value EXACTLY under the column's own
    type — the keep-side canonical forms (lowercased strings, float
    aliases) invert their conservatism on the exclusion side. Before
    the fix, on a string partition column `s != 'G1'` pruned the dir
    s=g1 and `s != '5'` pruned s=5.0 — silently dropping rows that DO
    satisfy the predicate under Spark's case-sensitive comparison."""
    root = str(tmp_path / "neqcase")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(1, "G1"), (2, "g1"), (3, "5.0"), (4, "x")],
        "id long, s string",
    )
    mt.commit(df, partition_by=["s"])

    def ids(r, w):
        return sorted(x["id"] for x in _view(spark, r, w).collect())

    # case-sensitive: s=g1 rows SATISFY s != 'G1'
    assert ids(root, "s != 'G1'") == [2, 3, 4]
    # no float aliasing: s='5.0' rows SATISFY s != '5'
    assert ids(root, "s != '5'") == [1, 2, 3, 4]
    # the faithful match still prunes: the exact dir goes
    kept, base = _kept(root, "s != 'G1'")
    assert len(kept) == base - 1, (len(kept), base)
    # numeric dir exclusion stays exact on an int partition column
    root2 = str(tmp_path / "neqnum")
    mt2 = ManifestTable(root2, retention_sec=3600)
    df2 = spark.createDataFrame(
        [(i, i % 3) for i in range(9)], "id long, b int"
    )
    mt2.commit(df2, partition_by=["b"])
    assert ids(root2, "b != 1") == sorted(
        r["id"] for r in df2.filter("b != 1").collect()
    )


def test_bloom_probe_gated_on_column_type(spark, tmp_path):
    """ADVICE r14 (medium): the bloom sidecar is built from
    CAST(col AS STRING) keys; probing with Python str(literal) is
    sound ONLY for integral/string columns ("5" vs "5.0" on a double
    is a guaranteed false negative = silent row loss). commit()
    refuses bloom_by on other types; the planning probe additionally
    type-gates so a LEGACY sidecar over a double column never
    prunes."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "bloomtype")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, "k%d" % i, float(i)) for i in range(16)],
        "id long, k string, w double",
    )
    # declaration-time refusal: double column
    with pytest.raises(ValueError, match="integral and string"):
        mt.commit(df, bloom_by=["w"])
    mt.commit(df.repartition(4), bloom_by=["k"])
    # simulate a legacy table whose sidecar was built over the double
    # column before the declaration check existed: doctor the log
    # entry and plant an all-zero bloom (claims "w holds NOTHING"),
    # the worst-case false-negative sidecar
    log = os.path.join(root, "_log", "%08d.json" % 1)
    with open(log) as fh:
        entry = _json.load(fh)
    entry["bloom"]["cols"] = list(entry["bloom"]["cols"]) + ["w"]
    with open(log, "w") as fh:
        _json.dump(entry, fh)
    snap = os.path.join(root, entry["snapshot"])
    rels = []
    for d, dirs, fs in os.walk(snap):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        rels.extend(
            os.path.relpath(os.path.join(d, f), snap)
            for f in fs
            if f.endswith(".parquet")
        )
    assert rels
    fake = pa.table(
        {
            "file": rels,
            "col": ["w"] * len(rels),
            "m": [64] * len(rels),
            "k": [2] * len(rels),
            "n": [1] * len(rels),
            "bits": [bytes(8)] * len(rels),
        }
    )
    pq.write_table(
        fake, os.path.join(snap, "_bloom", "legacy-double.parquet")
    )
    # the equality point on the double column must NOT consult the
    # (unsound) sidecar: the matching row comes back
    got = _view(spark, root, "w = 5").collect()
    assert [r["id"] for r in got] == [5]
    # DataFrame-API probe agrees: the double column reports unindexed
    _kept_w, _total, indexed = mt.bloom_pruned_files("w", 5)
    assert indexed is False
    # the string column's bloom still prunes (sound types unaffected)
    kept, total, indexed = mt.bloom_pruned_files("k", "k5")
    assert indexed is True and len(kept) < total


@pytest.mark.slow  # r17 tiering: measured 13s; full (evidence) tier only
def test_where_dnf_union_pruning_and_kleene_or(spark, tmp_path):
    """r15 (VERDICT r14 item 1): OR-of-conjuncts in the predicate
    grammar. File skipping for a DNF is the UNION of per-disjunct kept
    sets — 'this window OR that backfill window' scans
    O(window1+window2) files, not O(table) and not a parse error — and
    the rows follow Kleene OR (true OR null = true, the SQL semantics
    a null-propagating OR would get wrong)."""
    import datetime as dt

    root = str(tmp_path / "dnf")
    mt = ManifestTable(root, retention_sec=3600)
    t0 = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [
            (
                i,
                t0 + dt.timedelta(days=i),
                None if i % 7 == 0 else float(i),
                "g%d" % (i % 3),
            )
            for i in range(30)
        ],
        "id long, ts timestamp_ntz, v double, grp string",
    )
    # one file per day: per-disjunct windows are file-countable
    mt.commit(df.repartitionByRange(30, "ts"), stats_by=["ts", "id"])

    def parts(w):
        return len(_kept(root, w)[0])

    assert _kept(root, "id >= 0")[1] == 30

    w1 = "ts >= TIMESTAMP '2024-03-27 00:00:00'"            # last 4 days
    w2 = (
        "ts BETWEEN TIMESTAMP '2024-03-05 00:00:00' "
        "AND TIMESTAMP '2024-03-07 23:59:59'"
    )                                                        # 3-day backfill
    n1, n2 = parts(w1), parts(w2)
    assert n1 == 4 and n2 == 3, (n1, n2)
    # the disjunction keeps exactly the union of the two windows
    assert parts(f"{w1} OR {w2}") == n1 + n2

    def rows(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    # exactness across the union (every 7th v is NULL: exercises the
    # Kleene path inside each window too)
    w = f"{w1} OR {w2}"
    assert rows(w) == sorted(r["id"] for r in df.filter(w).collect())
    # Kleene OR: id=14 has v NULL but grp='g2' — `v > 100 OR grp='g2'`
    # must keep it (true OR null = true); a null-propagating OR drops it
    wk = "v > 100.0 OR grp = 'g2'"
    got = rows(wk)
    assert 14 in got
    assert got == sorted(r["id"] for r in df.filter(wk).collect())
    # parenthesized conjuncts: the documented disjunct form
    wp = "(grp = 'g0' AND id <= 6) OR (grp = 'g1' AND id >= 25)"
    assert rows(wp) == sorted(r["id"] for r in df.filter(wp).collect())


def test_where_dnf_bloom_intersection(spark, tmp_path):
    """DNF x bloom (r15): a file is bloom-rejected only when EVERY
    disjunct rejects it — `pk = a OR pk = b` keeps the union of the
    two point lookups' files, and a disjunct with no probeable point
    vetoes the bloom prune entirely."""
    root = str(tmp_path / "dnfbloom")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [(i, "pay-%06d" % (i * 37), float(i)) for i in range(4000)],
        "id long, key string, v double",
    )
    mt.commit(df.repartition(8, "key"), bloom_by=["key"])

    def parts(w):
        return len(_kept(root, w)[0])

    base = _kept(root, "v >= 0.0")[1]
    p1 = parts("key = 'pay-000037'")
    p2 = parts("key = 'pay-003700'")
    both = parts("key = 'pay-000037' OR key = 'pay-003700'")
    assert p1 < base and p2 < base
    assert max(p1, p2) <= both <= p1 + p2
    # a range-only disjunct cannot probe the bloom: the OR keeps all
    # files the range side might touch (veto semantics)
    assert parts("key = 'pay-000037' OR v >= 0.0") == base
    got = sorted(
        r["id"]
        for r in _view(
            spark, root, "key = 'pay-000037' OR key = 'pay-003700'"
        ).collect()
    )
    assert got == [1, 100]


@pytest.mark.slow  # r17 tiering: measured 16s; full (evidence) tier only
def test_where_like_prefix_prunes_and_row_filters_exactly(spark, tmp_path):
    """r15 (VERDICT r14 item 3): LIKE joins the grammar. A pattern's
    literal PREFIX before the first wildcard prunes files against the
    string min/max envelopes (the prefix interval, under the same
    conservative truncated comparison every string bound uses);
    %inner% shapes row-filter exactly but keep every file. Null in,
    null out (SQL); non-string columns are rejected at parse."""
    root = str(tmp_path / "like")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [
            (
                i,
                None
                if i % 17 == 0
                else "https://src%d.example.com/p/%04d" % (i % 8, i),
            )
            for i in range(400)
        ],
        "id long, url string",
    )
    # sort-committed on the string column: tight per-file envelopes
    mt.commit(
        df.repartitionByRange(8, "url").sortWithinPartitions("url"),
        stats_by=["url"],
    )

    def parts(w):
        return len(_kept(root, w)[0])

    # prefix pattern prunes to the prefix interval's files
    kept_files, base = _kept(root, "url LIKE 'https://src3.example.com/%'")
    kept = len(kept_files)
    assert 0 < kept < base, (kept, base)
    # a leading wildcard has no prefix: row filter only, no pruning
    assert parts("url LIKE '%src3%'") == base

    def rows(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    for w in (
        "url LIKE 'https://src3.example.com/%'",
        "url LIKE '%/p/01%'",
        "url LIKE 'https://src_.example.com/p/00__'",
        "url LIKE 'https://src3.example.com/%' OR "
        "url LIKE 'https://src5.example.com/%'",
        "url LIKE 'https://src3%' AND id >= 100",
    ):
        assert rows(w) == sorted(
            r["id"] for r in df.filter(w).collect()
        ), w
    # nulls never match (SQL LIKE semantics)
    assert 0 not in rows("url LIKE '%'") and 17 not in rows("url LIKE '%'")
    # non-string column: loud parse-time rejection
    with pytest.raises(ValueError, match="string columns only"):
        _kept(root, "id LIKE '5%'")
    # DNF x LIKE pruning: the OR of two prefixes keeps the union
    k3 = parts("url LIKE 'https://src3.example.com/%'")
    k5 = parts("url LIKE 'https://src5.example.com/%'")
    both = parts(
        "url LIKE 'https://src3.example.com/%' OR "
        "url LIKE 'https://src5.example.com/%'"
    )
    assert max(k3, k5) <= both <= min(k3 + k5, base)


@pytest.mark.slow  # r17 tiering: measured 21s; full (evidence) tier only
def test_where_like_matches_newline_like_spark(spark, tmp_path):
    """ADVICE r15: Spark compiles LIKE with DOTALL, so `_` matches a
    newline ('a\\nb' LIKE 'a_b' is TRUE). The view must keep those
    rows; this pins the dialect row-for-row against Spark's filter on
    newline-bearing strings."""
    root = str(tmp_path / "nl")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [
            (0, "a\nb"),
            (1, "axb"),
            (2, "ab"),
            (3, None),
            (4, "a\n\nb"),
            (5, "line1\nline2"),
            (6, "trail\n"),
        ],
        "id long, s string",
    )
    mt.commit(df)

    def rows(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    for w in (
        "s LIKE 'a_b'",
        "s LIKE 'a%b'",
        "s LIKE '%line2'",
        "s LIKE 'trail_'",
        "s LIKE '%'",
        "s NOT LIKE 'a_b'",
        "s LIKE 'line_%'",
    ):
        assert rows(w) == sorted(
            r["id"] for r in df.filter(w).collect()
        ), w
    # the headline divergence: `_` spans the newline exactly as Spark's
    assert 0 in rows("s LIKE 'a_b'")


@pytest.mark.slow  # r17 tiering: measured 16s; full (evidence) tier only
def test_where_not_in_not_like_and_whole_expr_parens(spark, tmp_path):
    """r15 tail: NOT IN desugars to a != conjunction (dir-encoded
    single-value files prune, type-faithfully), NOT LIKE row-filters
    exactly (null never satisfies either polarity), and parentheses
    may wrap the WHOLE expression — `(A OR B)` parses the way users
    write it. NOT BETWEEN is rejected naming its OR rewrite."""
    root = str(tmp_path / "notin")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [
            (
                i,
                "p%d" % (i % 5),
                None if i % 11 == 0 else "u-%03d" % i,
            )
            for i in range(100)
        ],
        "id long, prio string, tag string",
    )
    # one file per dir (each prio key lives in exactly one task), so
    # the exclusion arithmetic below is exact
    mt.commit(
        df.repartition("prio"), partition_by=["prio"], stats_by=["id"]
    )
    # NOT IN prunes the excluded dirs (2 of 5 priorities)
    kept, base = _kept(root, "prio NOT IN ('p1', 'p3')")
    assert base == 5
    assert len(kept) == 3

    def ids(w):
        return sorted(r["id"] for r in _view(spark, root, w).collect())

    for w in (
        "prio NOT IN ('p1', 'p3')",
        "tag NOT LIKE 'u-0%'",
        "prio NOT IN ('p0') AND tag NOT LIKE '%7'",
        "(id < 10 OR id >= 90)",
        "((prio = 'p2') OR (prio = 'p4' AND id > 50))",
        "id NOT IN (4, 5, 6) OR prio = 'p1'",
    ):
        assert ids(w) == sorted(
            r["id"] for r in df.filter(w).collect()
        ), w
    # null tag rows satisfy NEITHER LIKE polarity (SQL)
    got = set(ids("tag NOT LIKE 'zzz%'"))
    assert 0 not in got and 11 not in got and 1 in got
    with pytest.raises(ValueError, match="NOT BETWEEN"):
        _kept(root, "id NOT BETWEEN 1 AND 2")


def test_dv_table_memo_is_per_content_not_per_path(tmp_path):
    """r17 (guide §4.5): the per-worker DV memo must (a) parse a given
    DV file set once — every further task of the same snapshot gets
    the SAME Arrow table object back — and (b) key on file content
    identity, not path, so a table rebuilt at the same root in one
    process can never be served a stale vector."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datapipeline_scraping_spark.sources.manifest_datasource import (
        _dv_table,
    )

    dv_dir = tmp_path / "_dv"
    dv_dir.mkdir()
    f = str(dv_dir / "dv-0.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), f)

    t1 = _dv_table((f,))
    t2 = _dv_table((f,))
    assert t1 is t2  # one parse per worker per snapshot
    assert t1.column("id").to_pylist() == [1, 2, 3]

    # same path, new content (a rebuilt table): must re-parse.
    # mtime_ns resolution is ns on this fs, but don't rely on it —
    # the rewritten file also differs in size.
    time.sleep(0.01)
    pq.write_table(pa.table({"id": [7, 8, 9, 10]}), f)
    t3 = _dv_table((f,))
    assert t3 is not t1
    assert t3.column("id").to_pylist() == [7, 8, 9, 10]

    # a same-SIZE rewrite inside one mtime tick (coarse-mtime
    # filesystems): (path, mtime, size) are all unchanged, only the
    # content differs — the memo must still serve the new keys
    st = os.stat(f)
    pq.write_table(pa.table({"id": [4, 5, 6, 7]}), f)
    assert os.path.getsize(f) == st.st_size
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(f).st_mtime_ns == st.st_mtime_ns
    assert _dv_table((f,)).column("id").to_pylist() == [4, 5, 6, 7]


def test_front_ends_keep_identical_files(spark, tmp_path):
    """Both read front ends run the one pruning core
    (sources/skipping.py). For every predicate shape the DataFrame API
    can express — data-column range, `=`, partition-column range, and
    ranges across an evolved table's spec boundary — the predicate
    view's files and ``pruned_files``/``read_point`` keep the SAME
    files, and those include every file that really holds a matching
    row (checked per file with pyarrow)."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    from datapipeline_scraping_spark.sources.skipping import (
        data_files,
        partition_values,
    )

    def point_files(mt, col, value):
        df = mt.read_point(spark, col, value)
        got = {unquote(urlparse(u).path) for u in df.inputFiles()}
        kept, _total, _indexed = mt.bloom_pruned_files(col, value)
        assert got == set(kept)
        return got

    def check(mt, where, pred, df_kept):
        kept = set(_kept(mt.root, where)[0])
        assert kept == set(df_kept), where
        snap = mt.snapshot_path()
        holding = {
            f
            for f in data_files(snap)
            if any(
                pred({**row, **partition_values(f, snap)})
                for row in pq.read_table(f).to_pylist()
            )
        }
        assert holding and holding <= kept, where
        return kept

    # hive-partitioned by day, stats on k, bloom on u: 2 x 4 = 8 files
    flat = ManifestTable(str(tmp_path / "flat"))
    flat.commit(
        spark.range(400)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), F.col("id")).alias("u"),
            F.concat(F.lit("d"), F.col("id") % 4).alias("day"),
        )
        .repartitionByRange(2, "k"),
        partition_by=["day"],
        stats_by=["k"],
        bloom_by=["u"],
    )
    n_files = flat.pruned_files("k")[1]
    assert n_files >= 8
    for where, pred, df_kept in [
        (
            "k >= 100 AND k <= 180",
            lambda r: 100 <= r["k"] <= 180,
            flat.pruned_files("k", 100, 180)[0],
        ),
        (
            "k >= 300",
            lambda r: r["k"] >= 300,
            flat.pruned_files("k", 300, None)[0],
        ),
        (
            "day >= 'd1' AND day <= 'd2'",
            lambda r: "d1" <= r["day"] <= "d2",
            flat.pruned_files("day", "d1", "d2")[0],
        ),
        ("k = 150", lambda r: r["k"] == 150, point_files(flat, "k", 150)),
        (
            "u = 'u123'",
            lambda r: r["u"] == "u123",
            point_files(flat, "u", "u123"),
        ),
        (
            "day = 'd3'",
            lambda r: r["day"] == "d3",
            point_files(flat, "day", "d3"),
        ),
    ]:
        assert len(check(flat, where, pred, df_kept)) < n_files, where

    # the evolved-spec shape: dt-partitioned ids 0..14, evolved to
    # region, ids 15..29 appended under the new spec
    evo = ManifestTable(str(tmp_path / "evo"), retention_sec=3600)
    full = spark.createDataFrame(
        [
            ("2024-01-0%d" % (i % 3 + 1), "r%d" % (i % 2), i, float(i))
            for i in range(30)
        ],
        "dt string, region string, id int, v double",
    )
    evo.commit(
        full.filter("id < 15"),
        partition_by=["dt"],
        stats_by=["id"],
        keep_snapshots=50,
    )
    evo.evolve_partition(["region"], keep_snapshots=50)
    evo.append(full.filter("id >= 15"), keep_snapshots=50)
    for where, pred, df_kept in [
        (
            "dt >= '2024-01-01' AND dt <= '2024-01-01'",
            lambda r: r["dt"] == "2024-01-01",
            evo.pruned_files("dt", "2024-01-01", "2024-01-01")[0],
        ),
        (
            "region >= 'r0' AND region <= 'r0'",
            lambda r: r["region"] == "r0",
            evo.pruned_files("region", "r0", "r0")[0],
        ),
        (
            "id >= 0 AND id <= 3",
            lambda r: 0 <= r["id"] <= 3,
            evo.pruned_files("id", 0, 3)[0],
        ),
        ("id = 20", lambda r: r["id"] == 20, point_files(evo, "id", 20)),
    ]:
        check(evo, where, pred, df_kept)


def _data_input_files(df) -> set:
    """``df``'s input files less the ``_dv``/``_upd`` sidecars."""
    import os
    from urllib.parse import unquote, urlparse

    paths = {unquote(urlparse(u).path) for u in df.inputFiles()}
    return {
        p for p in paths
        if not {"_dv", "_upd"} & set(p.split(os.sep))
    }


def _assert_view_matches_unpruned_read(spark, mt, cases, zones):
    """For every ``where`` in ``cases`` and every session time zone:
    ``predicate_view`` rows equal the unpruned ``ManifestTable.read``
    filtered by a Spark SQL predicate under a UTC session, and the
    view scans exactly the data files ``predicate_files`` lists.
    ``cases`` maps each ``where`` to its Spark SQL twin (None: the same
    text). Views are minted under each zone (a literal's type is fixed
    at analysis); each side runs as one union job. Returns {where: row
    count}."""
    import functools

    from pyspark.sql import DataFrame

    def union(frames):
        return functools.reduce(
            DataFrame.unionAll,
            [f.withColumn("_case", F.lit(i)) for i, f in enumerate(frames)],
        )

    def rows_by_case(df):
        out = [[] for _w in cases]
        for r in df.collect():
            # repr keeps NaN comparable (nan != nan) and orders NULLs
            out[r["_case"]].append(repr(tuple(r)))
        return [sorted(v) for v in out]

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        full = mt.read(spark)
        wants = union([full.filter(sq or w) for w, sq in cases.items()])
        want_schema = wants.schema.simpleString()
        want_rows = rows_by_case(wants)
        counts = {}
        for tz in zones:
            spark.conf.set("spark.sql.session.timeZone", tz)
            views = []
            for i, w in enumerate(cases):
                predicate_view(spark, f"pv_parity_{i}", mt.root, w)
                views.append(spark.table(f"pv_parity_{i}"))
                kept, _total = predicate_files(mt.root, w)
                assert _data_input_files(views[-1]) == set(kept), (tz, w)
            got = union(views)
            assert got.schema.simpleString() == want_schema
            for w, g, want in zip(cases, rows_by_case(got), want_rows):
                assert g == want, (tz, w)
                counts[w] = len(g)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    return counts


def test_predicate_view_rows_match_unpruned_read(spark, tmp_path):
    """``predicate_view`` is a native parquet scan of the kept files
    plus the ``where`` DNF as a Spark predicate. For every grammar
    shape its rows must equal the unpruned table read filtered by the
    same predicate in Spark SQL under a UTC session, with literals
    typed by the column's declared type whatever the session time
    zone: a zoned ``timestamp`` compares to the UTC instant, a
    ``timestamp_ntz`` to the wall clock. Epoch-second numerics on
    temporal columns mean something else to Spark SQL, so those cases
    carry a hand-written Spark twin. The table is hive-partitioned
    with stats, a deletion vector, an ``_upd`` delta and a renamed
    column; its columns hold NULLs, NaN, newlines, ``decimal(10,2)``,
    both timestamp flavours, dates and booleans."""
    mt = ManifestTable(str(tmp_path / "parity"), retention_sec=3600)
    k = F.col("id")
    df = spark.range(72).select(
        k.alias("k"),
        F.concat(F.lit("g"), (k % 2).cast("string")).alias("grp"),
        F.when(k % 10 == 0, F.lit(None))
        .when(k % 10 == 1, F.lit(float("nan")))
        .otherwise(k / 10.0)
        .alias("f"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("a\nb", "axbc", "ab", "a_b%", "b\na")]
                    + [F.lit(None).cast("string")]),
            (k % 6 + 1).cast("int"),
        ).alias("s"),
        F.when(k % 9 == 0, F.lit(None))
        .otherwise(((k % 5) / 2).cast("decimal(10,2)"))
        .alias("d"),
        # hourly from 2024-01-01 00:00 UTC; tn is the same wall clock
        F.when(k % 11 == 0, F.lit(None))
        .otherwise(F.timestamp_seconds(F.lit(1704067200) + k * 3600))
        .alias("ts"),
        F.make_timestamp_ntz(
            F.lit(2024), F.lit(1), (1 + F.floor(k / 24)).cast("int"),
            (k % 24).cast("int"), F.lit(0), F.lit(0),
        ).alias("tn"),
        F.date_add(F.lit("2024-01-01").cast("date"), (k % 5).cast("int"))
        .alias("dt"),
        F.when(k % 4 == 0, F.lit(None)).otherwise(k % 2 == 0).alias("b"),
    )
    mt.commit(
        df.repartitionByRange(2, "k"),
        partition_by=["grp"],
        stats_by=["k", "f", "d", "ts", "tn", "dt", "s"],
    )
    mt.delete_where(spark, "k % 7 = 3", ["k"])
    mt.update_where(
        spark, "k IN (4, 5, 8)", {"f": "f + 100", "s": "'a\\nb upd'"}, ["k"]
    )
    mt.rename_column("s", "txt")
    cases = {
        "f > 0.5": None,
        "f >= 5.0 AND f < 6.5": None,
        "f != 1.0": None,
        "txt LIKE 'a_b%'": None,
        "txt NOT LIKE 'a_b%'": None,
        "d = 2": None,
        "d IN (1, 1.5)": None,
        "d >= 1.5": None,
        "ts >= 1704153600": "ts >= TIMESTAMP '2024-01-02 00:00:00'",
        "ts < '2024-01-02T03:00:00+05:00'": None,
        "ts >= TIMESTAMP '2024-01-02 05:00:00'": None,
        "tn >= TIMESTAMP '2024-01-02 05:00:00'": None,
        "tn < 1704160800": "tn < TIMESTAMP_NTZ '2024-01-02 02:00:00'",
        "tn BETWEEN '2024-01-01 20:00:00' AND '2024-01-02 02:30:00'": None,
        "dt = DATE '2024-01-02'": None,
        "dt >= '2024-01-04'": None,
        "k IN (1, 2, 3, 50)": None,
        "k NOT IN (1, 2) AND k < 6": None,
        "b = TRUE": None,
        "b IS NULL": None,
        "txt IS NOT NULL AND ts IS NULL": None,
        "grp != 'g0' AND k < 12": None,
        "f > 100.0 OR grp = 'g0'": None,
        "(k <= 5 AND b = FALSE) OR txt IS NULL": None,
        "(tn < TIMESTAMP '2024-01-01 03:00:00') OR (ts >= 1704326400)": (
            "(tn < TIMESTAMP '2024-01-01 03:00:00') "
            "OR (ts >= TIMESTAMP '2024-01-04 00:00:00')"
        ),
    }
    counts = _assert_view_matches_unpruned_read(
        spark, mt, cases, ("UTC", "America/Lima", "Asia/Kolkata")
    )
    assert all(counts.values()), counts


def test_every_read_front_end_keeps_the_declared_column_order(
    spark, tmp_path
):
    """One table, one column order: ``read``, ``read_where``,
    ``read_point``, ``predicate_view``, a registered view and a
    ``USING manifest`` relation all return the committed schema's
    order. A hive scan lists partition columns last, so a
    ``grp``-partitioned table (with a deletion vector and an ``_upd``
    delta) and a partition-evolved table (with a renamed column) are
    the layouts that could move them. The registered view is a native
    parquet scan with the ``USING manifest`` relation's rows."""
    import re

    from datapipeline_scraping_spark.sources.manifest_sql import register_table

    rows = [(i, f"g{i % 2}", float(i), i % 3) for i in range(12)]
    schema = "pk long, grp string, v double, b long"
    hive = ManifestTable(str(tmp_path / "hive"), retention_sec=3600)
    hive.commit(
        spark.createDataFrame(rows, schema).coalesce(1),
        partition_by=["grp"],
        stats_by=["pk"],
    )
    hive.delete_where(spark, "pk % 5 = 0", ["pk"])
    hive.update_where(spark, "pk IN (1, 2)", {"v": "v + 100"}, ["pk"])
    evo = ManifestTable(str(tmp_path / "evo"), retention_sec=3600)
    evo.commit(
        spark.createDataFrame(rows, schema).coalesce(1),
        partition_by=["grp"],
    )
    evo.evolve_partition(["b"])
    evo.append(spark.createDataFrame([(20, "g0", 2.0, 1)], schema))
    evo.rename_column("v", "val")
    register(spark)
    for mt, declared in (
        (hive, ["pk", "grp", "v", "b"]),
        (evo, ["pk", "grp", "val", "b"]),
    ):
        register_table(spark, "order_reg", mt.root)
        predicate_view(spark, "order_pv", mt.root, "pk < 5")
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW order_src USING manifest "
            f"OPTIONS (root '{mt.root}')"
        )
        reads = {
            "read": mt.read(spark),
            "read_where": mt.read_where(spark, {"pk": (0, 5)}),
            "read_point": mt.read_point(spark, "pk", 3),
            "predicate_view": spark.table("order_pv"),
            "register_table": spark.table("order_reg"),
            "USING manifest": spark.table("order_src"),
        }
        for name, df in reads.items():
            assert df.columns == declared, (mt.root, name, df.columns)
        assert sorted(reads["register_table"].collect()) == sorted(
            reads["USING manifest"].collect()
        )
        qe = reads["register_table"]._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "FileScan parquet" in plan, plan
        assert not re.search(r"BatchScan \S+\[[^\]]*\] \(Python\)", plan), plan


def test_predicate_view_on_clustered_dv_and_moved_update(spark, tmp_path):
    """Two layouts the file picker must get right: a clustered snapshot
    with a deletion vector (bucket pruning for ``=``/IN), and a window
    where every base file prunes by stats but ``update_where`` moved a
    row into it (the ``_upd`` delta is always read)."""
    cl = ManifestTable(str(tmp_path / "cl"), retention_sec=3600)
    cl.commit_clustered(
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        "k",
        4,
    )
    cl.delete_where(spark, "k IN (5, 9)", ["k"])
    counts = _assert_view_matches_unpruned_read(
        spark,
        cl,
        {"k = 7": None, "k IN (1, 5, 9, 30)": None, "k = 5": None},
        ("UTC",),
    )
    assert counts == {"k = 7": 1, "k IN (1, 5, 9, 30)": 2, "k = 5": 0}

    mv = ManifestTable(str(tmp_path / "mv"), retention_sec=3600)
    mv.commit(
        spark.range(40)
        .select(F.col("id").alias("k"), F.col("id").alias("v"))
        .repartitionByRange(4, "k"),
        stats_by=["v"],
    )
    mv.update_where(spark, "k = 3", {"v": "5000"}, ["k"])
    counts = _assert_view_matches_unpruned_read(
        spark, mv, {"v >= 4000": None}, ("UTC",)
    )
    assert counts == {"v >= 4000": 1}


def test_predicate_view_contract(spark, tmp_path):
    """What a minted predicate view promises: it keeps the rows of the
    version it resolved until the helper runs again, ``version=`` and
    ``asof=`` mint that version, it refuses ``INSERT INTO``, and one
    view read twice in a plan with different filters returns both
    branches."""
    import time

    from datapipeline_scraping_spark.sources.manifest_sql import (
        predicate_view,
    )

    def ks(sql):
        return sorted(r[0] for r in spark.sql(sql).collect())

    root = str(tmp_path / "contract")
    mt = ManifestTable(root, retention_sec=3600)
    mt.commit(_df(spark, [(i, f"v{i}") for i in range(10)]), stats_by=["pk"])
    ts_v1 = mt._log_entry(1)["ts"]
    time.sleep(0.05)
    predicate_view(spark, "pv_contract", root, "pk >= 6")
    assert ks("SELECT pk FROM pv_contract") == [6, 7, 8, 9]

    mt.append(_df(spark, [(10, "v10"), (11, "v11")]))
    assert ks("SELECT pk FROM pv_contract") == [6, 7, 8, 9]
    predicate_view(spark, "pv_contract", root, "pk >= 6")
    assert ks("SELECT pk FROM pv_contract") == [6, 7, 8, 9, 10, 11]

    predicate_view(spark, "pv_v1", root, "pk >= 6", version=1)
    assert ks("SELECT pk FROM pv_v1") == [6, 7, 8, 9]
    predicate_view(spark, "pv_asof", root, "pk >= 6", asof=ts_v1)
    assert ks("SELECT pk FROM pv_asof") == [6, 7, 8, 9]
    with pytest.raises(ValueError, match="mutually exclusive"):
        predicate_view(spark, "pv_bad", root, "pk >= 6", version=1, asof=ts_v1)

    with pytest.raises(Exception):
        spark.sql("INSERT INTO pv_contract VALUES (99, 'x')")
    assert mt.version() == 2
    assert 99 not in ks("SELECT pk FROM pv_contract")

    assert ks(
        "SELECT pk FROM pv_contract WHERE pk < 8 "
        "UNION ALL SELECT pk FROM pv_contract WHERE pk > 9"
    ) == [6, 7, 10, 11]
