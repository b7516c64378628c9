"""Commit-time change-data-feed materialization + the registered
``manifest_cdf`` batch/stream source (sources/cdf_datasource.py).

The lazy :meth:`ManifestTable.diff` (q147) answers "what changed
between two versions I name"; the materialized feed answers "tell me
every change as it commits" — the multi-consumer generalization of the
reference's delta contract (``dags/scraping_etl.py:59-69``), shaped
like Delta's ``enableChangeDataFeed`` + ``readChangeFeed``."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.txn import (
    ManifestTable,
    apply_diff,
    compact_table,
)
from datapipeline_scraping_spark.sources.cdf_datasource import register


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk long, v string")


def _feed(spark, root, **opts):
    register(spark)
    r = spark.read.format("manifest_cdf").option("root", root)
    for k, x in opts.items():
        r = r.option(k, x)
    return r.load()


def _mk(spark, tmp_path):
    """v1 insert 0..9 / v2 update pk=3 + insert pk=42 / v3 delete evens."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    base = _df(spark, [(i, f"v{i}") for i in range(10)])
    tbl.commit(base, cdf_keys=["pk"])
    tbl.commit(
        base.filter("pk <> 3").unionByName(
            _df(spark, [(3, "V3"), (42, "new")])
        )
    )
    tbl.delete_where(spark, "pk % 2 = 0", ["pk"])
    return tbl


@pytest.mark.slow  # r17 tiering: measured 37s; full (evidence) tier only
def test_materialized_feed_rows(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    got = {
        (r["_commit_version"], r["_change_type"], r["pk"], r["v"])
        for r in _feed(spark, tbl.root).collect()
    }
    want = {(1, "insert", i, f"v{i}") for i in range(10)} | {
        (2, "update_preimage", 3, "v3"),
        (2, "update_postimage", 3, "V3"),
        (2, "insert", 42, "new"),
        (3, "delete", 0, "v0"),
        (3, "delete", 2, "v2"),
        (3, "delete", 4, "v4"),
        (3, "delete", 6, "v6"),
        (3, "delete", 8, "v8"),
        (3, "delete", 42, "new"),
    }
    assert got == want
    # log entries record the churn
    assert [tbl._log_entry(v)["cdf"]["n_changes"] for v in (1, 2, 3)] == [
        10,
        3,
        6,
    ]
    # starting_version bounds the batch read (Delta startingVersion)
    assert _feed(spark, tbl.root, starting_version=3).count() == 6
    assert (
        _feed(spark, tbl.root, starting_version=2, ending_version=2).count()
        == 3
    )


def test_initial_commit_feed_is_zero_copy(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(i, "x") for i in range(5)]), cdf_keys=["pk"])
    entry = tbl._log_entry(1)["cdf"]
    assert entry == {
        "key_cols": ["pk"],
        "n_changes": 5,
        "initial": True,
        "change_types": ["insert"],
    }
    # no sidecar bytes were written for the initial load
    assert not os.path.isdir(os.path.join(tbl.snapshot_path(1), tbl.CDF_DIR))
    rows = _feed(spark, tbl.root).collect()
    assert {(r["_change_type"], r["pk"]) for r in rows} == {
        ("insert", i) for i in range(5)
    }
    assert {r["_commit_version"] for r in rows} == {1}


def test_partitioned_initial_falls_back_to_sidecar(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    df = _df(spark, [(i, f"v{i}") for i in range(6)]).withColumn(
        "b", F.col("pk") % 2
    )
    tbl.commit(df, cdf_keys=["pk"], partition_by=["b"])
    assert "initial" not in tbl._log_entry(1)["cdf"]
    feed = _feed(spark, tbl.root)
    # partition column survives via the sidecar (data files lack it)
    assert {(r["pk"], r["b"]) for r in feed.collect()} == {
        (i, i % 2) for i in range(6)
    }


@pytest.mark.slow  # r17 tiering: measured 13s; full (evidence) tier only
def test_feed_matches_lazy_diff_per_version(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    for v in (2, 3):
        lazy = {
            tuple(r)
            for r in tbl.diff(spark, v - 1, v, ["pk"]).collect()
        }
        fed = {
            tuple(r)
            for r in _feed(spark, tbl.root, starting_version=v, ending_version=v)
            .drop("_commit_version")
            .collect()
        }
        assert fed == lazy, f"version {v}"


@pytest.mark.slow  # r17 tiering: measured 13s; full (evidence) tier only
def test_feed_replays_state(spark, tmp_path):
    """Folding the feed version-by-version reconstructs every state —
    the apply-soundness contract extended to the materialized feed."""
    tbl = _mk(spark, tmp_path)
    state = _df(spark, []).limit(0)
    for v in (1, 2, 3):
        chg = _feed(
            spark, tbl.root, starting_version=v, ending_version=v
        ).drop("_commit_version")
        state = apply_diff(state, chg, ["pk"])
        want = {tuple(r) for r in tbl.read(spark, version=v).collect()}
        assert {tuple(r) for r in state.collect()} == want, f"version {v}"


@pytest.mark.slow  # r17 tiering: measured 15s; full (evidence) tier only
def test_noop_and_continuity_guards(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    # compaction is a logical no-op: marked, skipped, still continuous
    compact_table(spark, tbl.root, target_files=1)
    assert tbl._log_entry(4)["cdf"]["noop"] is True
    assert _feed(spark, tbl.root).count() == 19
    # restore breaks continuity loudly
    tbl.restore(3)
    with pytest.raises(Exception, match="RESTORE"):
        _feed(spark, tbl.root).collect()
    # a table whose feed was never enabled refuses version ranges
    t2 = ManifestTable(str(tmp_path / "t2"))
    t2.commit(_df(spark, [(1, "a")]))
    t2.commit(_df(spark, [(1, "a"), (2, "b")]), cdf_keys=["pk"])
    with pytest.raises(Exception, match="without the change feed"):
        _feed(spark, t2.root).collect()
    # ...but reading FROM the first fed version works
    assert _feed(spark, t2.root, starting_version=2).count() == 1


def test_delete_where_feeds_only_visible_preimages(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(i, "x") for i in range(8)]), cdf_keys=["pk"])
    tbl.delete_where(spark, "pk < 4", ["pk"])  # v2: deletes 0-3
    tbl.delete_where(spark, "pk < 6", ["pk"])  # v3: deletes 4,5 ONLY
    v3 = _feed(spark, tbl.root, starting_version=3).collect()
    assert {r["pk"] for r in v3} == {4, 5}
    assert {r["_change_type"] for r in v3} == {"delete"}


@pytest.mark.slow  # r17 tiering: measured 20s; full (evidence) tier only
def test_stream_exactly_once_across_commits(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    register(spark)
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("manifest_cdf")
            .option("root", tbl.root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    assert run() == 19
    # replay with no new commits (plus a noop) delivers nothing new
    compact_table(spark, tbl.root, target_files=1)
    assert run() == 19
    # a real commit is delivered incrementally
    tbl.commit(
        tbl.read(spark).unionByName(_df(spark, [(100, "z")]))
    )
    assert run() == 20


@pytest.mark.slow  # r17 tiering: measured 16s; full (evidence) tier only
def test_concurrent_unconditional_writers_feed_serializes(spark, tmp_path):
    """Two racing unconditional commits both enabled for CDF: the
    restage-on-advance guard must make each version's feed exact
    against the version it actually supersedes — folding the feed
    reconstructs the final state regardless of who won."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    base = _df(spark, [(i, "base") for i in range(6)])
    tbl.commit(base, cdf_keys=["pk"])
    errs = []

    def writer(tag):
        try:
            upd = _df(spark, [(i, tag) for i in range(0, 6, 2)])
            tbl.commit(
                base.filter("pk % 2 = 1").unionByName(upd)
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(f"w{i}",)) for i in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs and tbl.version() == 3
    state = _df(spark, []).limit(0)
    for v in (1, 2, 3):
        chg = _feed(
            spark, tbl.root, starting_version=v, ending_version=v
        ).drop("_commit_version")
        state = apply_diff(state, chg, ["pk"])
    assert {tuple(r) for r in state.collect()} == {
        tuple(r) for r in tbl.read(spark).collect()
    }


@pytest.mark.slow  # r17 tiering: measured 9s; full (evidence) tier only
def test_cdf_options_skip_versions(spark, tmp_path):
    """r13 (VERDICT r12 item 3): the feed's marker predicates ride
    OPTIONS — `starting_version`/`ending_version` narrow the listed
    window and `change_types` skips versions whose recorded
    change-type set cannot match, then filters the surviving rows
    exactly. (Options, not pushFilters: Spark 4.1's shared read-info
    slot makes filter-dependent partitions unsound on multi-reference
    plans — see ManifestCDFBatchReader's docstring.)"""
    from datapipeline_scraping_spark.sources.cdf_datasource import (
        ManifestCDFBatchReader,
        _schema_for,
    )

    tbl = _mk(spark, tmp_path)  # v1 inserts / v2 diff / v3 delete
    root = tbl.root
    schema = _schema_for(root)

    base = len(ManifestCDFBatchReader({"root": root}, schema).partitions())

    # version-range narrowing lists only v3's delete sidecar
    r = ManifestCDFBatchReader(
        {"root": root, "starting_version": "3"}, schema
    )
    kept = r.partitions()
    assert 0 < len(kept) < base

    # type skipping: an insert-only consumer never lists v3 (recorded
    # change_types=['delete']); v1 (initial) and v2 (diff) survive
    r2 = ManifestCDFBatchReader(
        {"root": root, "change_types": "insert"}, schema
    )
    kept2 = r2.partitions()
    assert 0 < len(kept2) < base
    v3 = tbl._log_entry(3)
    assert (v3.get("cdf") or {}).get("change_types") == ["delete"]

    # composed: delete-typed changes outside the window -> everything
    # pruned, single placeholder task, zero rows, no error
    r3 = ManifestCDFBatchReader(
        {
            "root": root,
            "change_types": "delete",
            "ending_version": "1",
        },
        schema,
    )
    assert len(r3.partitions()) == 1  # placeholder

    # unknown change type refuses loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="change_types"):
        _feed(spark, root, change_types="upsert").collect()

    # end-to-end through the option: the rows ARE the predicate
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["pk"])
        for r in _feed(
            spark, root, change_types="insert", starting_version=2
        ).collect()
    )
    assert got == [(2, "insert", 42)]
    # v2 mixes types: the row filter cuts within the surviving version
    got2 = sorted(
        (r["_change_type"], r["pk"])
        for r in _feed(
            spark, root, change_types="update_postimage"
        ).collect()
    )
    assert got2 == [("update_postimage", 3)]
    # the all-pruned shape returns zero rows, not an error
    assert (
        _feed(spark, root, change_types="delete", ending_version=1).count()
        == 0
    )


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_cdf_change_types_applies_on_stream_path(spark, tmp_path):
    """r13 review fix: the change_types option filters the STREAM path
    with the same semantics as batch (version skipping + exact row
    filter in the shared mixin) — a consumer switching read ->
    readStream keeps the predicate instead of silently processing
    every change type; unknown names refuse on both paths."""
    import os

    register(spark)
    tbl = _mk(spark, tmp_path)  # v1 inserts / v2 diff / v3 delete
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = (
        spark.readStream.format("manifest_cdf")
        .option("root", tbl.root)
        .option("change_types", "insert")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["pk"])
        for r in spark.read.parquet(out).collect()
    )
    # v1's ten initial inserts + v2's insert of pk 42; v2's update
    # pair row-filtered out; v3 (delete-only) never even listed
    assert got == sorted(
        [(1, "insert", pk) for pk in range(10)] + [(2, "insert", 42)]
    ), got
    import pytest as _pytest

    with _pytest.raises(Exception, match="change_types"):
        (
            spark.readStream.format("manifest_cdf")
            .option("root", tbl.root)
            .option("change_types", "upsert")
            .load()
            .writeStream.format("noop")
            .option(
                "checkpointLocation", os.path.join(str(tmp_path), "ck2")
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def _table_with_dv(spark, tmp_path):
    """v1: pk 0..9 with the feed on; v2: a deletion vector on pk 0."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(10)]), cdf_keys=["pk"])
    tbl.delete_where(spark, "pk = 0", ["pk"])
    return tbl


def test_append_runs_the_batch_lineage_once(spark, tmp_path):
    """An append writes its change feed (and runs its merge-on-read key
    guard) from the parts it wrote, so a UDF in the batch runs once per
    row, not once for the table and again for the feed."""
    tbl = _table_with_dv(spark, tmp_path)
    calls = spark.sparkContext.accumulator(0)

    def tag(pk):
        calls.add(1)
        return f"n{pk}"

    batch = spark.range(100, 200).select(
        F.col("id").alias("pk"), F.udf(tag, "string")("id").alias("v")
    )
    tbl.append(batch)
    assert calls.value == 100
    assert tbl._log_entry(tbl.version())["cdf"]["n_changes"] == 100


def test_append_feed_rows_equal_the_committed_rows(spark, tmp_path):
    """A non-deterministic batch column (``current_timestamp()`` is
    fixed per query) reaches the feed with the value the table holds."""
    tbl = _table_with_dv(spark, tmp_path)
    batch = spark.range(100, 110).select(
        F.col("id").alias("pk"), F.current_timestamp().cast("string").alias("v")
    )
    tbl.append(batch)
    feed = {
        (r["pk"], r["v"])
        for r in _feed(spark, tbl.root, starting_version=3).collect()
        if r["_change_type"] == "insert"
    }
    table = {
        (r["pk"], r["v"]) for r in tbl.read(spark).where("pk >= 100").collect()
    }
    assert len(table) == 10 and feed == table
