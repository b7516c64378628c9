"""Round-12 registry queries — merge-on-read DML on the CLUSTERED
ledger (q190): the flagship 100 TB join layout finally takes in-place
corrections.

Reference anchor: the reference's whole sink contract is an upsert
(``INSERT ... ON CONFLICT (pk) DO UPDATE``, ``src/storage.py:41-53``)
— a fact table you cannot correct in place is not that contract. q190
closes VERDICT r11 item 1: DELETE/UPDATE land as churn-sized sidecars
on the bucketed snapshot (zero data-file rewrites, inode-asserted),
``read_clustered`` applies the deletion vector as a FORCED-broadcast
anti-join AFTER the bucketed scan (a post-scan filter, so
``HashPartitioning`` survives and the exchange-free join property
holds through deletes), and ``compact_clustered`` materializes the
sidecars into exactly the affected buckets — after which the clustered
join is byte-identical to a freshly-clustered table's.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from .functions.numeric import exact_sum, sql_exact_sum, to_double
from .queries import _t, q
from .streaming.events import SCRATCH


def _key(sf_dir: str) -> str:
    return sf_dir.rstrip("/").replace("/", "_").lstrip("_").replace(".", "_")


_Q190_BUCKETS = 8


@q(
    "q190_clustered_mor_dml",
    oracle="""
WITH li AS (
  SELECT l_orderkey, l_extendedprice, l_discount
  FROM lineitem WHERE l_orderkey % 2 = 0
),
del AS (
  SELECT * FROM li WHERE NOT (l_orderkey % 10 = 4)
),
upd AS (
  SELECT l_orderkey,
    CASE WHEN l_orderkey % 10 = 6 THEN l_extendedprice + 1
         ELSE l_extendedprice END AS l_extendedprice,
    l_discount
  FROM del
)
SELECT o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
  (CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE)) AS revenue
FROM upd JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderkey % 2 = 0
GROUP BY o_orderstatus
""",
)
def q190_clustered_mor_dml(spark, sf_dir):
    """Merge-on-read DML on the CLUSTERED fact ledger (r12 — VERDICT
    r11 item 1): DELETE and UPDATE land as deletion-vector / ``_upd``
    sidecars on the bucketed snapshot — the base bucket files hardlink
    forward untouched (inode-asserted: a correction costs O(churn),
    never a re-cluster), the bucket spec rides the log entry, and
    ``read_clustered`` stays correct at every version because the DV
    applies as a broadcast anti-join AFTER the bucketed scan — a
    post-scan filter that preserves ``HashPartitioning``, so the
    delete-only state still joins the orders-side clustered ledger
    with NO shuffle exchange on the join inputs. ``compact_clustered``
    then MATERIALIZES the sidecars into exactly the affected buckets
    (per-bucket OPTIMIZE; untouched buckets carry by inode, the new
    entry drops all MoR state), restoring the one-file-per-bucket
    sort-free plan. The final join runs on the folded state and is
    CI-pinned exchange-free (plan lint MUST_COLOCATED_JOIN).

    This is the 100 TB correction rhythm: point deletes and column
    fixes cost churn-sized sidecars, reads never lie, co-location is
    never re-bought, and maintenance folds the debt per bucket.
    Reference anchor: the reference's upsert sink contract
    (``src/storage.py:41-53``) on the bucket-co-located layout."""
    from .operators.txn import ManifestTable, _bucket_id, compact_clustered

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    li_root = os.path.join(SCRATCH, f"cmor_li_{_key(sf_dir)}")
    o_root = os.path.join(SCRATCH, f"cmor_o_{_key(sf_dir)}")
    mli, mo = ManifestTable(li_root), ManifestTable(o_root)
    if (mo.version() or 0) < 1 or not (
        mo._log_entry(mo.version()) or {}
    ).get("bucket"):
        shutil.rmtree(o_root, ignore_errors=True)
        mo = ManifestTable(o_root)
        mo.commit_clustered(orders, "o_orderkey", _Q190_BUCKETS)
    built = (mli.version() or 0) == 4 and (
        (mli._log_entry(4) or {}).get("meta") or {}
    ).get("mor_folded")
    if not built:
        shutil.rmtree(li_root, ignore_errors=True)
        mli = ManifestTable(li_root)
        # v1: the clustered base
        mli.commit_clustered(li, "l_orderkey", _Q190_BUCKETS)
        snap = mli.snapshot_path()
        inodes = {
            f: os.stat(os.path.join(snap, f)).st_ino
            for f in os.listdir(snap)
            if f.endswith(".parquet")
        }
        # v2: merge-on-read DELETE — sidecar only, zero rewrites
        mli.delete_where(
            spark, F.col("l_orderkey") % 10 == 4, key_cols=["l_orderkey"]
        )
        e2 = mli._log_entry(2) or {}
        assert e2.get("bucket") and e2.get("dv"), (
            "clustered DELETE must keep the bucket spec and land a DV"
        )
        # v3: merge-on-read UPDATE — post-images in _upd, pre-images
        # hidden by the extended DV
        mli.update_where(
            spark,
            F.col("l_orderkey") % 10 == 6,
            {"l_extendedprice": F.col("l_extendedprice") + F.lit(1)},
            key_cols=["l_orderkey"],
        )
        e3 = mli._log_entry(3) or {}
        assert e3.get("bucket") and e3.get("mor_delta"), (
            "clustered UPDATE must land a merge-on-read delta"
        )
        snap3 = mli.snapshot_path()
        assert all(
            os.stat(os.path.join(snap3, f)).st_ino == ino
            for f, ino in inodes.items()
        ), "clustered DML rewrote a base bucket file"
        # v4: per-bucket OPTIMIZE folds the sidecars into exactly the
        # affected buckets and drops the MoR state from the entry
        res = compact_clustered(spark, li_root)
        assert res["compacted"] and res["version"] == 4, res
        e4 = mli._log_entry(4) or {}
        assert not e4.get("dv") and not e4.get("mor_delta"), e4
        assert (e4.get("meta") or {}).get("mor_folded"), e4
        snap4 = mli.snapshot_path()
        per_bucket: dict[int, int] = {}
        for f in os.listdir(snap4):
            if f.endswith(".parquet"):
                b = _bucket_id(f)
                per_bucket[b] = per_bucket.get(b, 0) + 1
        assert per_bucket and all(n == 1 for n in per_bucket.values()), (
            f"compaction left multi-file buckets: {per_bucket}"
        )
        assert not os.path.isdir(os.path.join(snap4, mli.DV_DIR)), (
            "compaction must not carry the DV sidecar forward"
        )
    l = mli.read_clustered(spark)
    o = mo.read_clustered(spark)
    return (
        l.hint("merge")
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 4
            ).alias("revenue"),
        )
    )


# ===========================================================================
# atomic corpus-append + index-maintenance group commits (r12)
# ===========================================================================


@q(
    "q191_group_incremental_pair",
    oracle=f"""
SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  {sql_exact_sum("l_quantity", 18, 2)} AS sum_qty
FROM lineitem WHERE l_orderkey % 4 <= 2
GROUP BY l_returnflag
""",
)
def q191_group_incremental_pair(spark, sf_dir):
    """Corpus + derived index advancing ATOMICALLY per ingest batch
    (r12 — VERDICT r11 item 4): the corpus member of each
    ``TransactionGroup.commit`` is an ADD-FILE append (the base
    snapshot hardlinks forward — inode-asserted O(batch), never a
    rewrite), the index member is the index's new state maintained
    INCREMENTALLY (old index ∪ batch aggregate → re-aggregate: cost
    O(|index| + |batch|), with running sums kept in exact DECIMAL so
    every increment is bit-reproducible). A reader can never see the
    new corpus with the old index or vice versa: both log entries
    carry the same group gid, pointers swap under the group's
    intent-file protocol, and a crash between swaps rolls FORWARD
    (crash-injection tested in tests/test_txn.py). This is the
    q95/q106-class contract — an ANN/dedup index NEXT TO its corpus —
    finally maintainable per batch instead of per full rebuild.

    Reference anchor: the reference's raw-then-final two-table
    promotion per scrape batch (``dags/scraping_etl.py:59-83``), made
    atomic. Scale shape: the group's serialized section is one CAS +
    log write + pointer swap per member; snapshot writes run unlocked
    upstream; append members carry an implicit CAS on their staged
    base so an interleaved writer aborts the group instead of being
    silently overwritten."""
    from .operators.txn import ManifestTable, TransactionGroup

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 <= 2)
        .select("l_orderkey", "l_returnflag", "l_quantity")
    )
    c_root = os.path.join(SCRATCH, f"gpair_c_{_key(sf_dir)}")
    i_root = os.path.join(SCRATCH, f"gpair_i_{_key(sf_dir)}")
    corpus, index = ManifestTable(c_root), ManifestTable(i_root)

    def batch_agg(df):
        return df.groupBy("l_returnflag").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_qty_dec"),
        )

    built = (corpus.version() or 0) == 3 and (index.version() or 0) == 3
    if not built:
        shutil.rmtree(c_root, ignore_errors=True)
        shutil.rmtree(i_root, ignore_errors=True)
        corpus, index = ManifestTable(c_root), ManifestTable(i_root)
        b0 = li.filter(F.col("l_orderkey") % 4 == 0)
        corpus.commit(b0)
        index.commit(batch_agg(b0))
        grp = TransactionGroup(corpus, index)
        for i in (1, 2):
            batch = li.filter(F.col("l_orderkey") % 4 == i)
            snap = corpus.snapshot_path()
            inodes = {
                f: os.stat(os.path.join(snap, f)).st_ino
                for f in os.listdir(snap)
                if f.endswith(".parquet")
            }
            # incremental index maintenance: old state ∪ batch agg →
            # one re-aggregate over O(|index| + |batch groups|) rows
            new_idx = (
                index.read(spark)
                .unionByName(batch_agg(batch))
                .groupBy("l_returnflag")
                .agg(
                    F.sum("n_rows").cast("long").alias("n_rows"),
                    F.sum("sum_qty_dec")
                    .cast("decimal(18,2)")
                    .alias("sum_qty_dec"),
                )
            )
            vers = grp.commit(
                {c_root: ("append", batch), i_root: new_idx}
            )
            assert vers == {c_root: i + 1, i_root: i + 1}, vers
            snap2 = corpus.snapshot_path()
            assert all(
                os.stat(os.path.join(snap2, f)).st_ino == ino
                for f, ino in inodes.items()
            ), "group append rewrote a corpus base file"
            tc = (corpus._log_entry(i + 1) or {}).get("meta", {}).get("txn")
            ti = (index._log_entry(i + 1) or {}).get("meta", {}).get("txn")
            assert tc and ti and tc["gid"] == ti["gid"], (
                "group members must share a commit gid"
            )
        # consistent-cut read: the index states exactly the corpus
        both = grp.read_all(spark)
        n_corpus = both[corpus.root].count()
        n_indexed = (
            both[index.root].agg(F.sum("n_rows").alias("s")).first()["s"]
        )
        assert n_corpus == n_indexed, (n_corpus, n_indexed)
    return index.read(spark).select(
        "l_returnflag",
        "n_rows",
        to_double(F.col("sum_qty_dec")).alias("sum_qty"),
    )


# ===========================================================================
# partition evolution: spec changes without rewriting data (r12)
# ===========================================================================


@q(
    "q192_partition_evolution",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 3 <= 1
),
vis AS (
  SELECT o_orderkey, o_orderpriority, o_orderstatus,
    CASE WHEN o_orderkey % 100 = 11 THEN o_totalprice + 1
         ELSE o_totalprice END AS o_totalprice
  FROM base WHERE NOT (o_orderkey % 100 = 7)
)
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
  {sql_exact_sum("o_totalprice", 18, 2)} AS total_price
FROM vis GROUP BY o_orderpriority
""",
)
def q192_partition_evolution(spark, sf_dir):
    """PARTITION EVOLUTION on the orders ledger (r12): change the
    table's partition spec as a METADATA-ONLY commit — Iceberg's
    signature capability, the one a 100 TB table needs when its
    original layout choice has to change in place (re-partitioning by
    rewrite costs a full table pass; evolution costs a directory of
    hardlinks).

    The ledger starts hive-partitioned by ``o_orderpriority`` (v1),
    evolves to partition by ``o_orderstatus`` (v2 — inode-asserted:
    zero data bytes move, the old tree becomes ``spec-0/``), and the
    next ingest batch appends under the NEW spec (v3 — asserted to
    land under ``spec-1/o_orderstatus=...`` dirs). Reads union the
    per-spec scans, so one predicate partition-prunes the spec that
    dir-encodes its column and min/max-skips the other — both
    directions are asserted on the file-pruning API. Merge-on-read
    DELETE (v4) and UPDATE (v5) then land as churn-sized sidecars
    spanning BOTH specs' rows, proving the DML family composes with
    the evolved layout. The final aggregate runs over the visible
    state; DuckDB recomputes it from the raw table with the same
    deterministic delete/update predicates.

    Reference anchor: the reference pins one layout per target table
    in config (``src/storage.py:41-53``); this is what replaces a
    full-table rewrite when that pin has to change."""
    from .operators.txn import ManifestTable

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
    )
    root = os.path.join(SCRATCH, f"pevo_{_key(sf_dir)}")
    mt = ManifestTable(root)
    built = (mt.version() or 0) == 5 and (
        (mt._log_entry(5) or {}).get("meta") or {}
    ).get("pe_done")
    if not built:
        shutil.rmtree(root, ignore_errors=True)
        mt = ManifestTable(root)
        # v1: first ingest wave, partitioned by priority
        mt.commit(
            orders.filter(F.col("o_orderkey") % 3 == 0),
            partition_by=["o_orderpriority"],
            stats_by=["o_orderkey"],
        )
        snap1 = mt.snapshot_path()
        inodes = {}
        for r, _d, fs in os.walk(snap1):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    inodes[os.path.relpath(p, snap1)] = os.stat(p).st_ino
        # v2: evolve the spec — metadata-only (same inodes, under
        # spec-0/), active layout becomes o_orderstatus
        mt.evolve_partition(["o_orderstatus"])
        e2 = mt._log_entry(2) or {}
        assert [s["partition_by"] for s in e2.get("specs") or []] == [
            ["o_orderpriority"],
            ["o_orderstatus"],
        ], e2.get("specs")
        snap2 = mt.snapshot_path()
        assert all(
            os.stat(os.path.join(snap2, "spec-0", rel)).st_ino == ino
            for rel, ino in inodes.items()
        ), "evolution moved data bytes (must be hardlinks)"
        # v3: the next wave appends under the NEW spec's layout
        mt.append(orders.filter(F.col("o_orderkey") % 3 == 1))
        snap3 = mt.snapshot_path()
        assert any(
            d.startswith("o_orderstatus=")
            for d in os.listdir(os.path.join(snap3, "spec-1"))
        ), "append must land under the active spec's hive dirs"
        # pruning works on BOTH sides of the spec boundary: each
        # spec's own partition column dir-prunes it while the other
        # spec falls back to stats / conservative keep
        k1, t1 = mt.pruned_files("o_orderpriority", "1-URGENT", "1-URGENT")
        assert 0 < len(k1) < t1, (len(k1), t1)
        k2, t2 = mt.pruned_files("o_orderstatus", "F", "F")
        assert 0 < len(k2) < t2, (len(k2), t2)
        # v4/v5: merge-on-read DML spans rows of BOTH specs
        mt.delete_where(
            spark, F.col("o_orderkey") % 100 == 7, key_cols=["o_orderkey"]
        )
        mt.update_where(
            spark,
            F.col("o_orderkey") % 100 == 11,
            {"o_totalprice": F.col("o_totalprice") + F.lit(1)},
            key_cols=["o_orderkey"],
        )
        e5 = mt._log_entry(5) or {}
        assert e5.get("specs") and e5.get("dv") and e5.get("mor_delta"), e5
        assert mt.annotate(5, pe_done=True)
    return (
        mt.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.countDistinct("o_orderstatus").cast("long").alias(
                "n_statuses"
            ),
            exact_sum(F.col("o_totalprice"), 18, 2).alias("total_price"),
        )
    )
