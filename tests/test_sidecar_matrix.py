"""Writer x sidecar preservation MATRIX (r15 — VERDICT r14 item 2).

The r13 compaction-drops-sort-order bug and the r14 INT96-drops-
statistics bug were the same genus: a writer path silently shedding a
metadata tier. This module enumerates the matrix instead of waiting
for round N+1 to find the next cell: ONE richly-declared table (min/
max+null file stats, bloom index, declared sort order, CHECK
constraint, CDF keys, column map) is cloned per writer entry point,
the writer runs, and every applicable tier is asserted to survive —
including sidecar COVERAGE (every data file has stats entries and
bloom rows, not just "the property key still exists").

Clones are hardlink-cheap (clone_to), so the matrix costs one base
build + one op per cell; clone_to itself is the first cell.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.txn import (
    ManifestTable,
    compact_small_files,
    compact_table,
    merge_write,
)

STATS_COLS = ["k", "s"]
BLOOM_COLS = ["k"]
SORT_ORDER = ["k"]
CHECK_NAME = "k_ok"
CDF_KEYS = ["pk"]


def _mk_df(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [
            (i, i % 4, i * 3, "g%d" % (i % 4), "v%d" % i)
            for i in range(lo, hi)
        ],
        "pk long, b long, k long, s string, v string",
    )


@pytest.fixture(scope="module")
def base_root(spark, tmp_path_factory) -> str:
    """The richly-declared base table every matrix cell clones:
    v1 full-tier commit, v2 declared sort order, v3 column map."""
    root = str(tmp_path_factory.mktemp("sidecar_matrix") / "base")
    mt = ManifestTable(root, retention_sec=3600)
    mt.commit(
        _mk_df(spark, 0, 200).repartition(4),
        stats_by=STATS_COLS,
        bloom_by=BLOOM_COLS,
        check={CHECK_NAME: "k >= 0"},
        cdf_keys=CDF_KEYS,
        keep_snapshots=50,
    )
    assert mt.set_sort_order(SORT_ORDER)
    mt.rename_column("v", "label", keep_snapshots=50)
    return root


def _bloom_must_cover(snap: str, rel: str, col: str) -> bool:
    """A file with ZERO non-null values of the indexed column has
    nothing to index — the builder's groupBy emits no row for it, and
    the probe keeps files absent from the sidecar (never prune on
    absent evidence), so exempting it is contract-faithful, not a
    hole. Everything else must be covered."""
    t = pq.read_table(os.path.join(snap, rel), columns=[col])
    return (t.num_rows - t.column(col).null_count) > 0


def _data_files(snap: str) -> list[str]:
    out = []
    for d, dirs, fs in os.walk(snap):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out.extend(
            os.path.relpath(os.path.join(d, f), snap)
            for f in fs
            if f.endswith(".parquet")
        )
    return sorted(out)


def _assert_tiers(mt: ManifestTable, op: str) -> None:
    """Every declared metadata tier survives, with full per-file
    coverage — a tier whose property key survives but whose sidecar
    stopped covering new files is exactly the r13/r14 bug genus."""
    e = mt._log_entry(mt.version()) or {}
    snap = mt.snapshot_path()
    data = _data_files(snap)
    assert data, f"{op}: no data files"
    # tier 1: stats declaration + [min, max, nulls, rows] coverage
    assert list(e.get("stats_cols") or []) == STATS_COLS, (
        f"{op}: stats_cols lost"
    )
    fs = e.get("file_stats") or {}
    for rel in data:
        st_file = fs.get(rel)
        assert st_file, f"{op}: no file_stats entry for {rel}"
        for c in STATS_COLS:
            st = st_file.get(c)
            assert st is not None and len(st) >= 4 and st[3] is not None, (
                f"{op}: stats tier lost for ({rel}, {c}): {st}"
            )
    # tier 2: bloom declaration + per-file sidecar coverage
    bloom = e.get("bloom") or {}
    assert list(bloom.get("cols") or []) == BLOOM_COLS, (
        f"{op}: bloom declaration lost"
    )
    btbl = pq.read_table(os.path.join(snap, "_bloom"))
    covered = set(
        zip(
            btbl.column("file").to_pylist(),
            btbl.column("col").to_pylist(),
        )
    )
    for rel in data:
        for c in BLOOM_COLS:
            assert (rel, c) in covered or not _bloom_must_cover(
                snap, rel, c
            ), f"{op}: bloom sidecar does not cover ({rel}, {c})"
    # tier 3: declared sort order
    assert list((e.get("meta") or {}).get("sort_order") or []) == SORT_ORDER, (
        f"{op}: sort order lost"
    )
    # tier 4: CHECK constraints
    assert CHECK_NAME in (e.get("checks") or {}), f"{op}: CHECK lost"
    # tier 5: CDF keys
    assert list((e.get("cdf") or {}).get("key_cols") or []) == CDF_KEYS, (
        f"{op}: CDF keys lost"
    )
    # tier 6: the rename RESOLVES — either the column map survives
    # (hardlink/metadata paths) or the writer materialized it (a full
    # rewrite reads logical names and writes them physically, e.g.
    # compact_table; then dropping the map is correct, keeping it
    # would double-rename). Lost = neither: physical files still say
    # 'v' but no map points 'label' at it.
    cmap = e.get("column_map") or {}
    if cmap:
        assert cmap.get("label") == "v", f"{op}: column map corrupted"
    else:
        phys = pq.read_schema(os.path.join(snap, data[0])).names
        assert "label" in phys and "v" not in phys, (
            f"{op}: rename neither mapped nor materialized "
            f"(physical: {phys})"
        )
    import json as _json

    from pyspark.sql.types import StructType as _St

    logical = _St.fromJson(_json.loads(e["schema"])).names
    assert "label" in logical and "v" not in logical, (
        f"{op}: logical schema lost the rename ({logical})"
    )


def _clone(base_root: str, tmp_path, name: str) -> ManifestTable:
    src = ManifestTable(base_root)
    return src.clone_to(str(tmp_path / name), retention_sec=3600)


def test_matrix_clone_preserves_all_tiers(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    _assert_tiers(mt, "clone_to")


def test_matrix_append(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    mt.append(
        _mk_df(spark, 200, 260).withColumnRenamed("v", "label"),
        keep_snapshots=50,
    )
    _assert_tiers(mt, "append")
    assert mt.read(spark).count() == 260


def test_matrix_sql_insert(spark, base_root, tmp_path):
    """``sql()`` INSERT on a registered name: incremental stats AND
    bloom rows for the new files, checks enforced."""
    from datapipeline_scraping_spark.sources.manifest_sql import (
        register_table,
        sql,
    )

    mt = _clone(base_root, tmp_path, "t")
    _mk_df(spark, 300, 340).createOrReplaceTempView("matrix_batch")
    register_table(spark, "matrix_t", mt.root)
    sql(spark, "INSERT INTO matrix_t SELECT * FROM matrix_batch")
    _assert_tiers(mt, "sql_insert")
    assert mt.read(spark).count() == 240


def test_matrix_merge_write(spark, base_root, tmp_path):
    """The clause-free upsert keeps every tier and gives the rows and
    schema merge_into (no clauses) gives on the same target."""
    from datapipeline_scraping_spark.operators.merge import merge_into

    mt = _clone(base_root, tmp_path, "t")
    src = _mk_df(spark, 150, 230).withColumnRenamed("v", "label")
    expected = merge_into(mt.read(spark), src, "pk")
    want_rows = sorted(tuple(r) for r in expected.collect())
    want_shape = [(f.name, f.dataType) for f in expected.schema.fields]
    merge_write(spark, mt.root, src, "pk", writer="manifest")
    _assert_tiers(mt, "merge_write")
    got = mt.read(spark)
    assert [(f.name, f.dataType) for f in got.schema.fields] == want_shape
    assert sorted(tuple(r) for r in got.collect()) == want_rows
    assert len(want_rows) == 230


def test_matrix_update_where(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    mt.update_where(
        spark, "pk % 7 = 3", {"label": "concat(label, '!')"}, ["pk"]
    )
    _assert_tiers(mt, "update_where")


def test_matrix_delete_where_and_compact_folds_mor(
    spark, base_root, tmp_path
):
    mt = _clone(base_root, tmp_path, "t")
    mt.delete_where(spark, "pk % 9 = 4", ["pk"])
    _assert_tiers(mt, "delete_where")
    n_after_delete = mt.read(spark).count()
    compact_table(spark, mt.root, target_files=2)
    _assert_tiers(mt, "compact_table")
    snap = mt.snapshot_path()
    # the rewrite FOLDS merge-on-read sidecars — carrying a stale DV
    # forward would re-delete rows a future append legitimately adds
    assert not os.path.isdir(os.path.join(snap, "_dv")), (
        "compact_table carried a stale deletion vector forward"
    )
    assert not os.path.isdir(os.path.join(snap, "_upd"))
    assert mt.read(spark).count() == n_after_delete


@pytest.mark.slow  # r17 tiering: measured 14s; full (evidence) tier only
def test_matrix_compact_small_files(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    mt.append(
        _mk_df(spark, 200, 210).withColumnRenamed("v", "label").coalesce(1),
        keep_snapshots=50,
    )
    compact_small_files(spark, mt.root, min_file_bytes=1 << 30)
    _assert_tiers(mt, "compact_small_files")
    assert mt.read(spark).count() == 210


@pytest.mark.slow  # r17 tiering: measured 11s; full (evidence) tier only
def test_matrix_restore(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    v_rich = mt.version()
    mt.append(
        _mk_df(spark, 200, 220).withColumnRenamed("v", "label"),
        keep_snapshots=50,
    )
    mt.restore(v_rich, keep_snapshots=50)
    _assert_tiers(mt, "restore")
    assert mt.read(spark).count() == 200


@pytest.mark.slow  # r17 tiering: measured 21s; full (evidence) tier only
def test_matrix_publish_from(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    branch = mt.clone_to(str(tmp_path / "wap"), retention_sec=3600)
    branch.append(
        _mk_df(spark, 500, 520).withColumnRenamed("v", "label"),
        keep_snapshots=50,
    )
    mt.publish_from(spark, branch, keys=["pk"], keep_snapshots=50)
    _assert_tiers(mt, "publish_from")
    assert mt.read(spark).count() == 220


@pytest.mark.slow  # r17 tiering: measured 13s; full (evidence) tier only
def test_matrix_evolve_partition_then_append(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    mt.evolve_partition(["b"], keep_snapshots=50)
    _assert_tiers(mt, "evolve_partition")
    mt.append(
        _mk_df(spark, 200, 240).withColumnRenamed("v", "label"),
        keep_snapshots=50,
    )
    _assert_tiers(mt, "evolve_partition+append")
    assert mt.read(spark).count() == 240


def test_matrix_alter_columns(spark, base_root, tmp_path):
    mt = _clone(base_root, tmp_path, "t")
    mt.add_column("extra", "long", keep_snapshots=50)
    _assert_tiers(mt, "add_column")
    mt.drop_column("extra", keep_snapshots=50)
    _assert_tiers(mt, "drop_column")


@pytest.mark.slow  # r17 tiering: measured 11s; full (evidence) tier only
def test_matrix_clustered_layout_survives_its_writers(spark, tmp_path):
    """Clustered tables carry a different tier set (bucket spec +
    per-bucket sort instead of stats/bloom declarations): the spec and
    sorted_by must ride append_clustered and compact_clustered."""
    from datapipeline_scraping_spark.operators.txn import compact_clustered

    root = str(tmp_path / "clus")
    mt = ManifestTable(root, retention_sec=3600)
    df = _mk_df(spark, 0, 200)
    mt.commit_clustered(df, "pk", 4, sorted_by="pk", keep_snapshots=50)
    spec0 = dict((mt._log_entry(mt.version()) or {}).get("bucket") or {})
    assert spec0.get("col") == "pk" and int(spec0.get("n") or 0) == 4

    mt.append_clustered(_mk_df(spark, 200, 240), keep_snapshots=50)
    e = mt._log_entry(mt.version()) or {}
    assert dict(e.get("bucket") or {}).get("col") == "pk", (
        "append_clustered lost the bucket spec"
    )
    assert int((e.get("bucket") or {}).get("n") or 0) == 4
    compact_clustered(spark, root, keep_snapshots=50)
    e = mt._log_entry(mt.version()) or {}
    b = dict(e.get("bucket") or {})
    assert b.get("col") == "pk" and int(b.get("n") or 0) == 4, (
        "compact_clustered lost the bucket spec"
    )
    assert sorted(
        r["pk"] for r in mt.read_clustered(spark).collect()
    ) == list(range(240))


def test_matrix_group_commit_append_member(spark, base_root, tmp_path):
    """The group-commit writer (atomic corpus+index pair). Two
    contracts: (a) a table with a change feed or CHECKs REFUSES group
    membership loudly (documented non-composition — a refusal is not
    a tier drop); (b) on a group-compatible table, every tier the
    group path CAN carry (stats coverage, bloom coverage, sort order,
    column map) survives a group append exactly like a standalone
    append."""
    from datapipeline_scraping_spark.operators.txn import TransactionGroup

    mt = _clone(base_root, tmp_path, "t")
    other = ManifestTable(str(tmp_path / "idx"), retention_sec=3600)
    other.commit(spark.range(3).selectExpr("id as g", "id * 2 as n"))
    grp = TransactionGroup(mt, other)
    batch = _mk_df(spark, 400, 430).withColumnRenamed("v", "label")
    new_idx = spark.range(4).selectExpr("id as g", "id * 3 as n")
    with pytest.raises(ValueError, match="group commits"):
        grp.commit({mt.root: ("append", batch), other.root: new_idx})

    root2 = str(tmp_path / "plainbase")
    m2 = ManifestTable(root2, retention_sec=3600)
    m2.commit(
        _mk_df(spark, 0, 200).repartition(4),
        stats_by=STATS_COLS,
        bloom_by=BLOOM_COLS,
        keep_snapshots=50,
    )
    assert m2.set_sort_order(SORT_ORDER)
    m2.rename_column("v", "label", keep_snapshots=50)
    grp2 = TransactionGroup(m2, other)
    grp2.commit({m2.root: ("append", batch), other.root: new_idx})
    e = m2._log_entry(m2.version()) or {}
    snap = m2.snapshot_path()
    data = _data_files(snap)
    assert list(e.get("stats_cols") or []) == STATS_COLS
    fs = e.get("file_stats") or {}
    for rel in data:
        for c in STATS_COLS:
            st = (fs.get(rel) or {}).get(c)
            assert st is not None and len(st) >= 4, (
                f"group append lost stats for ({rel}, {c}): {st}"
            )
    assert list((e.get("bloom") or {}).get("cols") or []) == BLOOM_COLS
    btbl = pq.read_table(os.path.join(snap, "_bloom"))
    covered = set(
        zip(btbl.column("file").to_pylist(), btbl.column("col").to_pylist())
    )
    for rel in data:
        assert (rel, "k") in covered or not _bloom_must_cover(
            snap, rel, "k"
        ), f"group append: bloom sidecar does not cover ({rel}, k)"
    assert (
        list((e.get("meta") or {}).get("sort_order") or []) == SORT_ORDER
    ), "group append lost the sort order"
    assert (e.get("column_map") or {}).get("label") == "v"
    assert m2.read(spark).count() == 230
