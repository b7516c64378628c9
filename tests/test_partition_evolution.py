"""Partition evolution (operators/txn.py::ManifestTable.evolve_partition)
— Iceberg-style spec changes as metadata-only commits.

The reference pins one layout per target table in its config
(``src/storage.py:41-53``); at 100 TB a layout choice has to be
changeable IN PLACE (no full rewrite), which is exactly what partition
evolution provides: old files stay under their original spec
(``spec-<id>/`` subtrees), new appends land under the active spec, and
readers union per-spec scans with per-spec pruning."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.txn import (
    ConcurrentWriteError,
    ManifestTable,
    TransactionGroup,
    compact_small_files,
    compact_table,
)


def _df(spark, lo=0, hi=30):
    return spark.createDataFrame(
        [
            ("2024-01-0%d" % (i % 3 + 1), "r%d" % (i % 2), i, float(i))
            for i in range(lo, hi)
        ],
        "dt string, region string, id int, v double",
    )


def _rows(df):
    return sorted(df.select("dt", "region", "id", "v").collect())


@pytest.fixture()
def evolved(spark, tmp_path):
    """dt-partitioned table (ids 0..14), evolved to region, with ids
    15..29 appended under the new spec."""
    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    full = _df(spark)
    mt.commit(
        full.filter("id < 15"),
        partition_by=["dt"],
        stats_by=["id"],
        keep_snapshots=50,
    )
    mt.evolve_partition(["region"], keep_snapshots=50)
    mt.append(full.filter("id >= 15"), keep_snapshots=50)
    return mt, full


def test_evolve_is_metadata_only_and_append_lands_under_new_spec(
    spark, tmp_path
):
    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    full = _df(spark)
    mt.commit(full.filter("id < 15"), partition_by=["dt"], keep_snapshots=50)
    snap1 = os.path.join(mt.root, mt.last_snapshot)
    inodes_before = {
        os.path.relpath(p, snap1): os.stat(p).st_ino
        for p in glob.glob(snap1 + "/**/*.parquet", recursive=True)
    }
    v2 = mt.evolve_partition(["region"], keep_snapshots=50)
    entry = mt._log_entry(v2)
    assert entry["partition_by"] == ["region"]
    assert [s["partition_by"] for s in entry["specs"]] == [["dt"], ["region"]]
    # zero data bytes moved: every pre-evolution file is the SAME inode,
    # now under spec-0/
    snap2 = os.path.join(mt.root, mt.last_snapshot)
    for rel, ino in inodes_before.items():
        assert os.stat(os.path.join(snap2, "spec-0", rel)).st_ino == ino
    v3 = mt.append(full.filter("id >= 15"), keep_snapshots=50)
    snap3 = os.path.join(mt.root, mt.last_snapshot)
    new_files = glob.glob(snap3 + "/spec-1/region=*/*.parquet")
    assert new_files, "appended batch must land under spec-1/region=..."
    assert _rows(mt.read(spark)) == _rows(full)
    assert mt._log_entry(v3)["specs"] == entry["specs"]


def test_union_read_pushes_partition_and_data_filters(spark, evolved):
    mt, full = evolved
    plan = (
        mt.read(spark)
        .filter(F.col("dt") == "2024-01-01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # old spec: dt is dir-encoded -> partition filter; new spec: dt is
    # a data column -> pushed parquet filter (min/max skippable)
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert "PushedFilters: [IsNotNull(dt), EqualTo(dt,2024-01-01)" in plan


def test_read_where_prunes_across_the_spec_boundary(spark, evolved):
    mt, full = evolved
    # dt: partition col of spec-0 (dir prune), data col of spec-1
    # (no dt stats -> conservatively kept)
    kept, total = mt.pruned_files("dt", "2024-01-01", "2024-01-01")
    assert 0 < len(kept) < total
    got = mt.read_where(spark, {"dt": ("2024-01-01", "2024-01-01")}).filter(
        "dt = '2024-01-01'"
    )
    assert _rows(got) == _rows(full.filter("dt = '2024-01-01'"))
    # region: partition col of spec-1 (dir prune); spec-0 kept
    kept2, total2 = mt.pruned_files("region", "r0", "r0")
    assert 0 < len(kept2) < total2
    got2 = mt.read_where(spark, {"region": ("r0", "r0")}).filter(
        "region = 'r0'"
    )
    assert _rows(got2) == _rows(full.filter("region = 'r0'"))
    # id: stats column in BOTH specs — the first-evolution rel-key
    # rewrite must keep spec-0's stats addressable
    kept3, total3 = mt.pruned_files("id", 0, 3)
    assert 0 < len(kept3) < total3
    got3 = mt.read_where(spark, {"id": (0, 3)}).filter("id <= 3")
    assert _rows(got3) == _rows(full.filter("id <= 3"))


def test_mor_dml_on_evolved_table(spark, evolved):
    mt, full = evolved
    mt.delete_where(spark, "id = 3", key_cols=["id"], keep_snapshots=50)
    mt.update_where(
        spark, "id = 20", {"v": "v + 100"}, key_cols=["id"], keep_snapshots=50
    )
    got = mt.read(spark)
    assert got.filter("id = 3").count() == 0
    assert got.filter("id = 20").collect()[0]["v"] == 120.0
    assert mt._log_entry(mt.version())["specs"], "DML dropped the spec list"
    # visible via read_where too (MoR finisher on the pruned path)
    rw = mt.read_where(spark, {"id": (20, 20)}).filter("id = 20")
    assert rw.collect()[0]["v"] == 120.0


def test_time_travel_and_restore_pin_each_versions_specs(spark, evolved):
    mt, full = evolved
    v_evolved = mt.version()
    mt.delete_where(spark, "id < 5", key_cols=["id"], keep_snapshots=50)
    assert mt.read(spark).count() == 25
    # time travel: the evolved pre-DML version reads in full
    assert _rows(mt.read(spark, version=v_evolved)) == _rows(full)
    # restore: specs ride the hardlinked tree into the new head
    v_r = mt.restore(v_evolved, keep_snapshots=50)
    assert _rows(mt.read(spark)) == _rows(full)
    assert mt._log_entry(v_r)["specs"]
    # pre-evolution version still reads under its own (single) spec
    assert mt._log_entry(1).get("specs") is None
    assert sorted(
        r["id"] for r in mt.read(spark, version=1).collect()
    ) == list(range(15))


def test_second_evolution_appends_a_spec(spark, evolved):
    mt, full = evolved
    mt.evolve_partition(["dt", "region"], keep_snapshots=50)
    extra = _df(spark, 30, 33)
    mt.append(extra, keep_snapshots=50)
    entry = mt._log_entry(mt.version())
    assert [int(s["id"]) for s in entry["specs"]] == [0, 1, 2]
    snap = os.path.join(mt.root, entry["snapshot"])
    assert glob.glob(snap + "/spec-2/dt=*/region=*/*.parquet")
    assert _rows(mt.read(spark)) == _rows(full.unionByName(extra))


def test_compact_table_migrates_to_active_spec_and_collapses(spark, evolved):
    mt, full = evolved
    res = compact_table(spark, mt.root, target_files=2)
    assert res["compacted"]
    entry = mt._log_entry(res["version"])
    assert entry.get("specs") is None, "rewrite must collapse the history"
    assert entry["partition_by"] == ["region"]
    snap = os.path.join(mt.root, entry["snapshot"])
    assert not glob.glob(snap + "/spec-*"), "no spec dirs after migration"
    assert glob.glob(snap + "/region=*/*.parquet")
    assert _rows(mt.read(spark)) == _rows(full)


def test_refusals(spark, tmp_path):
    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    full = _df(spark)
    mt.commit(full, partition_by=["dt"], keep_snapshots=50)
    with pytest.raises(ValueError, match="equals the active"):
        mt.evolve_partition(["dt"])
    with pytest.raises(ValueError, match="not in the table schema"):
        mt.evolve_partition(["nope"])
    with pytest.raises(ValueError, match="duplicate"):
        mt.evolve_partition(["region", "region"])
    mt.evolve_partition(["region"], keep_snapshots=50)
    # partition columns of ANY live spec are physical dir names
    with pytest.raises(ValueError, match="partition column of a live spec"):
        mt.rename_column("dt", "day")
    with pytest.raises(ValueError, match="partition column of a live spec"):
        mt.drop_column("region")
    # bin-packing across spec subtrees refuses (evolve to flat first
    # so the partitioned-layout guard doesn't fire before the spec one)
    mt.evolve_partition([], keep_snapshots=50)
    with pytest.raises(ValueError, match="partition-EVOLVED"):
        compact_small_files(spark, mt.root)
    # clustered tables refuse evolution
    cl = ManifestTable(str(tmp_path / "c"), retention_sec=3600)
    cl.commit_clustered(full, "id", 4)
    with pytest.raises(ValueError, match="CLUSTERED"):
        cl.evolve_partition(["dt"])


def test_metadata_schema_ops_compose_with_specs(spark, evolved):
    mt, full = evolved
    # rename a NON-partition column: metadata-only, survives the union
    mt.rename_column("v", "val")
    got = mt.read(spark)
    assert "val" in got.columns and "v" not in got.columns
    assert mt._log_entry(mt.version())["specs"]
    # metadata-only ADD: both specs' files lack it -> null-filled
    mt.add_column("note", "string")
    got = mt.read(spark)
    assert got.filter(F.col("note").isNull()).count() == 30
    # append with the new column under the active spec
    extra = spark.createDataFrame(
        [("2024-01-09", "r9", 99, 9.9, "hi")],
        "dt string, region string, id int, val double, note string",
    )
    mt.append(extra, keep_snapshots=50)
    assert mt.read(spark).filter("note = 'hi'").count() == 1
    assert mt.read(spark).count() == 31


def test_clone_and_wap_publish_carry_specs(spark, evolved, tmp_path):
    mt, full = evolved
    # clone: the spec history rides the links
    dest = mt.clone_to(str(tmp_path / "clone"))
    assert dest._log_entry(dest.version())["specs"]
    assert _rows(dest.read(spark)) == _rows(full)
    # WAP: branch = clone, append on the branch, publish fast-adopts
    # (same spec list on both sides)
    branch = mt.clone_to(str(tmp_path / "branch"))
    extra = _df(spark, 30, 32)
    branch.append(extra, keep_snapshots=50)
    res = mt.publish_from(spark, branch, keys=["id"])
    assert res["published"]
    assert _rows(mt.read(spark)) == _rows(full.unionByName(extra))
    assert mt._log_entry(mt.version())["specs"]


def test_group_append_member_on_evolved_table(spark, evolved, tmp_path):
    mt, full = evolved
    other = ManifestTable(str(tmp_path / "o"), retention_sec=3600)
    other.commit(
        spark.createDataFrame([(1, "a")], "k int, s string"),
        keep_snapshots=50,
    )
    extra = _df(spark, 30, 33)
    TransactionGroup(mt, other).commit(
        {
            mt.root: ("append", extra),
            other.root: (
                "append",
                spark.createDataFrame([(2, "b")], "k int, s string"),
            ),
        }
    )
    assert _rows(mt.read(spark)) == _rows(full.unionByName(extra))
    assert mt._log_entry(mt.version())["specs"]


def test_append_files_local_routes_into_active_spec(spark, tmp_path):
    """Parquet parts written outside the table (the job the deleted
    ``append_files_local`` did) now land through ``sql()`` INSERT ...
    SELECT over the files, i.e. :meth:`ManifestTable.append`: they go
    under the ACTIVE (flat, after two evolutions) spec's subtree and
    the spec history is kept."""
    from datapipeline_scraping_spark.sources.manifest_sql import (
        register_table,
        sql,
    )

    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    base = spark.createDataFrame([(i, float(i)) for i in range(5)], "id int, v double")
    mt.commit(base, keep_snapshots=50)
    mt.evolve_partition(["id"], keep_snapshots=50)
    mt.evolve_partition([], keep_snapshots=50)  # active spec: flat again
    spark.createDataFrame(
        [(i, float(i)) for i in range(5, 8)], "id int, v double"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
    register_table(spark, "evol_files", mt.root)
    sql(
        spark,
        f"INSERT INTO evol_files SELECT * FROM parquet.`{tmp_path / 'w'}`",
    )
    entry = mt._log_entry(mt.version())
    assert entry["specs"]
    snap = os.path.join(mt.root, entry["snapshot"])
    assert glob.glob(snap + "/spec-2/append-*.parquet")
    assert sorted(r["id"] for r in mt.read(spark).collect()) == list(range(8))


def test_sql_datasource_reads_evolved_snapshots(spark, evolved):
    mt, full = evolved
    from datapipeline_scraping_spark.sources.manifest_datasource import (
        register,
    )

    register(spark)
    mt.delete_where(spark, "id = 7", key_cols=["id"], keep_snapshots=50)
    mt.update_where(
        spark, "id = 21", {"v": "v * 2"}, key_cols=["id"], keep_snapshots=50
    )
    got = (
        spark.read.format("manifest")
        .option("root", mt.root)
        .load()
    )
    assert _rows(got) == _rows(mt.read(spark))


def test_cdf_skips_the_evolution_commit_and_keeps_the_feed(spark, tmp_path):
    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    full = _df(spark)
    mt.commit(
        full.filter("id < 15"),
        partition_by=["dt"],
        cdf_keys=["id"],
        keep_snapshots=50,
    )
    mt.evolve_partition(["region"], keep_snapshots=50)
    assert mt._log_entry(mt.version())["cdf"].get("noop")
    mt.append(full.filter("id >= 15"), keep_snapshots=50)
    from datapipeline_scraping_spark.sources.cdf_datasource import register

    register(spark)
    ch = (
        spark.read.format("manifest_cdf")
        .option("root", mt.root)
        .option("starting_version", 1)
        .load()
    )
    counts = {
        r["_change_type"]: r["count"]
        for r in ch.groupBy("_change_type").count().collect()
    }
    assert counts == {"insert": 30}


def test_sql_insert_into_evolved_table_lands_under_active_spec(
    spark, tmp_path
):
    """``sql()`` INSERT is :meth:`ManifestTable.append`, so its files
    land under the ACTIVE spec's subtree — partitioned or flat — and
    pure-SQL ingest keeps working across a partition evolution with
    the spec history intact."""
    from datapipeline_scraping_spark.sources.manifest_sql import (
        register_table,
        sql,
    )

    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    mt.commit(
        spark.createDataFrame(
            [(i, float(i)) for i in range(4)], "id long, v double"
        ),
        keep_snapshots=50,
    )
    register_table(spark, "evol_ins", mt.root)
    mt.evolve_partition(["id"], keep_snapshots=50)
    sql(spark, "INSERT INTO evol_ins VALUES (50, 0.5)")
    snap = mt.snapshot_path()
    assert glob.glob(snap + "/spec-1/id=50/append-*.parquet")
    mt.evolve_partition([], keep_snapshots=50)
    sql(spark, "INSERT INTO evol_ins VALUES (100, 1.5)")
    entry = mt._log_entry(mt.version())
    assert entry["specs"], "SQL append dropped the spec history"
    snap = os.path.join(mt.root, entry["snapshot"])
    assert glob.glob(snap + "/spec-2/append-*.parquet"), (
        "SQL-inserted parts must land under the active spec dir"
    )
    got = sorted(r["id"] for r in mt.read(spark).collect())
    assert got == [0, 1, 2, 3, 50, 100]


def test_evolution_races_serialize_through_the_cas(spark, tmp_path):
    """A writer staged against version V loses cleanly when an
    evolution commits V+1 first (and vice versa) — layouts can never
    silently mix: the loser observes ConcurrentWriteError and re-runs
    against the new head, landing its batch under the NEW active
    spec."""
    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    base = _df(spark, 0, 10)
    mt.commit(base, partition_by=["dt"], keep_snapshots=50)
    # stage an append against v1...
    staged, entry, version, pb, schema = mt._prepare_append_batch(
        _df(spark, 10, 13)
    )
    # ...then an evolution wins the race to v2
    mt.evolve_partition(["region"], keep_snapshots=50)
    with pytest.raises(ConcurrentWriteError):
        mt._append_parts(
            spark, staged, entry, version, pb, schema,
            meta=None, keep_snapshots=50,
        )
    # the loser's retry goes through the normal path and lands under
    # the new active spec
    mt.append(_df(spark, 10, 13), keep_snapshots=50)
    entry2 = mt._log_entry(mt.version())
    assert entry2["partition_by"] == ["region"] and entry2["specs"]
    assert _rows(mt.read(spark)) == _rows(_df(spark, 0, 13))
    # and the mirror race: evolve staged against a stale head loses
    with pytest.raises(ConcurrentWriteError):
        mt.evolve_partition(["dt"], expect_version=1)


def test_read_point_and_bloom_survive_evolution(spark, tmp_path):
    """The per-file bloom sidecar is keyed by snapshot-relative paths;
    the first evolution moves data under spec-0/ and must REKEY the
    sidecar (and the min/max stats) so point lookups keep pruning —
    and keep finding every row — across the boundary."""
    mt = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), "u%06d" % i) for i in range(200)],
        "id long, grp string, uid string",
    )
    mt.commit(
        df.repartitionByRange(4, "id"),
        partition_by=[],
        stats_by=["id"],
        bloom_by=["uid"],
        keep_snapshots=50,
    )
    kept0, total0, indexed0 = mt.bloom_pruned_files("uid", "u000005")
    assert indexed0 and 0 < len(kept0) < total0
    mt.evolve_partition(["grp"], keep_snapshots=50)
    # bloom rel keys moved under spec-0/: pruning still effective
    kept1, total1, indexed1 = mt.bloom_pruned_files("uid", "u000005")
    assert indexed1 and 0 < len(kept1) < total1, (len(kept1), total1)
    got = mt.read_point(spark, "uid", "u000005").filter("uid = 'u000005'")
    assert got.count() == 1
    # append under the new spec: new files bloom-indexed, old carried
    mt.append(
        spark.createDataFrame(
            [(1000, "g9", "u900000")], "id long, grp string, uid string"
        ),
        keep_snapshots=50,
    )
    got2 = mt.read_point(spark, "uid", "u900000").filter(
        "uid = 'u900000'"
    )
    assert got2.count() == 1
    kept2, total2, indexed2 = mt.bloom_pruned_files("uid", "u000007")
    assert indexed2 and 0 < len(kept2) < total2
