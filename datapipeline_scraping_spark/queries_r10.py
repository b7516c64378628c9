"""Round-10 registry queries — point-lookup infrastructure on the
transaction layer: the per-file bloom-filter index (q180) closing the
data-skipping matrix (partition pruning q139 / min-max range skipping
q152 / equality probes here).

Reference anchor: the reference delegates point lookups to Postgres
btree/unique indexes (``src/storage.py:90-131`` — every upsert resolves
rows by key through an index, never a table scan); on an immutable
snapshot ledger the analogous scan-minimization structure is Delta's
bloom filter index, re-expressed here as commit-time per-file blooms in
a hidden sidecar with driver-side probe pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .functions.numeric import exact_sum
from .queries import _t, q
from .streaming.events import SCRATCH


def _key(sf_dir: str) -> str:
    return sf_dir.rstrip("/").replace("/", "_").lstrip("_").replace(".", "_")


# ===========================================================================
# per-file bloom-index point lookups (r10)
# ===========================================================================

_Q180_STEP = 7777
_Q180_PROBES = 12


@q(
    "q180_bloom_point_lookup",
    oracle=f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey % {_Q180_STEP} = 0
  AND o_orderkey BETWEEN {_Q180_STEP} AND {_Q180_STEP * _Q180_PROBES}
""",
)
def q180_bloom_point_lookup(spark, sf_dir):
    """Point lookups through the per-file bloom index — the equality
    complement of q152's min/max range skipping: the ledger is
    committed HASH-distributed (every file's key range spans nearly
    the whole domain, so [min, max] stats cannot prune an equality
    probe), with ``bloom_by`` building one bloom per (file, column) in
    a hidden ``_bloom/`` sidecar at commit time. Each probe prunes its
    file list on the DRIVER from the sidecar (~1.2 bytes/key of
    metadata, no cluster job), scans only the surviving files, and
    applies the exact predicate on top — absent keys scan NOTHING.
    The in-query assert fails the run unless the whole probe set
    scanned under half the naive file count, so the pruning is
    CI-enforced. At 100 TB this is the difference between a key probe
    costing O(table files) and O(1-2 files) — the scan-minimization
    role the reference delegates to its Postgres btree indexes
    (``src/storage.py:90-131``), on an immutable snapshot ledger
    exactly as Delta's bloom filter index does it.

    The probe set (multiples of {_Q180_STEP} up to {_Q180_PROBES}) is
    fixed, so some probes hit absent keys by construction — those
    must return no rows AND touch no files (a bloom has no false
    negatives; the oracle simply has no matching row)."""
    from .operators.txn import ManifestTable

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    root = os.path.join(SCRATCH, f"bloomtable_{_key(sf_dir)}")
    tbl = ManifestTable(root)
    if not (
        tbl.exists()
        and (tbl._log_entry(tbl.version() or 0) or {}).get("bloom")
    ):
        # build-once per sf: hash layout (the bloom's worst-case
        # adversary for stats) + the bloom index property
        tbl.commit(
            orders.repartition(8, "o_orderkey"), bloom_by=["o_orderkey"]
        )
    probes = [_Q180_STEP * i for i in range(1, _Q180_PROBES + 1)]
    scanned = naive = 0
    parts = []
    for k in probes:
        kept, total, indexed = tbl.bloom_pruned_files("o_orderkey", k)
        assert indexed
        scanned += len(kept)
        naive += total
        parts.append(
            tbl.read_point(spark, "o_orderkey", k).filter(
                F.col("o_orderkey") == k
            )
        )
    assert scanned * 2 < naive, (
        f"bloom pruning ineffective: scanned {scanned}/{naive} files "
        f"across {len(probes)} probes"
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ===========================================================================
# append-only ingest on the ledger (r10)
# ===========================================================================

@q(
    "q181_append_only_ingest",
    oracle="""
SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
GROUP BY l_returnflag
""",
)
def q181_append_only_ingest(spark, sf_dir):
    """Append-only ingest through the ledger's add-file commit — the
    write path whose cost is O(batch), not O(table): the corpus lands
    in four batches; the first is the initial commit, the rest APPEND
    (`ManifestTable.append`) — previous snapshots' files HARDLINK
    forward untouched, only each batch's files are written, per-file
    [min, max] stats carry verbatim plus a footer walk of the new
    files only, and the change feed materializes each batch itself
    (insert-only by construction, no diff join — Delta's
    append-commit CDF optimization). In-query asserts pin the
    incremental contract: every pre-existing file keeps its inode
    across an append (zero data bytes rewritten), and each append's
    recorded change count equals its batch size. This is the missing
    half of the copy-on-write ledger at 100 TB — an ingest loop
    cannot rewrite the table to land a batch; with append + q182's
    bin-packing it never does.

    Reference anchor: the reference's daily incremental loop INSERTs
    the day's new rows and never rewrites the table
    (``src/storage.py:41-53``, SURVEY §1.4)."""
    from .operators.txn import ManifestTable

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    root = os.path.join(SCRATCH, f"appendingest_{_key(sf_dir)}")
    tbl = ManifestTable(root, retention_sec=3600)
    if (tbl.version() or 0) != 4:
        import shutil

        import pyarrow.parquet as _pq

        shutil.rmtree(root, ignore_errors=True)
        tbl = ManifestTable(root, retention_sec=3600)
        tbl.commit(
            li.filter(F.col("l_orderkey") % 4 == 0).repartition(2),
            stats_by=["l_orderkey"],
            cdf_keys=["l_orderkey", "l_returnflag", "l_quantity"],
        )
        # declared WRITE SORT ORDER (r12 — Iceberg write.sort-order):
        # every appended batch sorts within tasks on l_orderkey, so
        # fresh files carry tight [min, max] stats and stay
        # range-skippable without waiting for compaction
        assert tbl.set_sort_order(["l_orderkey"])
        for i in (1, 2, 3):
            batch = li.filter(F.col("l_orderkey") % 4 == i)
            snap = tbl.snapshot_path()
            inodes = {
                f: os.stat(os.path.join(snap, f)).st_ino
                for f in os.listdir(snap)
                if f.endswith(".parquet")
            }
            ver = tbl.append(batch.coalesce(2), meta={"epoch": i})
            snap2 = tbl.snapshot_path()
            assert all(
                os.stat(os.path.join(snap2, f)).st_ino == ino
                for f, ino in inodes.items()
            ), "append rewrote a pre-existing file"
            e = tbl._log_entry(ver) or {}
            n_changes = (e.get("cdf") or {}).get("n_changes")
            assert n_changes == batch.count(), (
                f"append CDF {n_changes} != batch size"
            )
            # the declared order rode the commit, and the batch's
            # files are physically sorted on the sort column
            assert (e.get("meta") or {}).get("sort_order") == [
                "l_orderkey"
            ]
            new_rels = [
                rel
                for rel in (e.get("file_stats") or {})
                if rel not in inodes
            ]
            assert new_rels, "append recorded no new files"
            ks = (
                _pq.read_table(
                    os.path.join(snap2, new_rels[0]),
                    columns=["l_orderkey"],
                )
                .column("l_orderkey")
                .to_pylist()
            )
            assert ks == sorted(ks), (
                "appended file not sorted on the declared order"
            )
    return tbl.read(spark).groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
    )


# ===========================================================================
# incremental bin-packing compaction (r10)
# ===========================================================================

@q(
    "q182_small_file_compaction",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
  ROUND(SUM(o_totalprice), 2) AS sum_price
FROM t
""",
)
def q182_small_file_compaction(spark, sf_dir):
    """Incremental bin-packing OPTIMIZE (`compact_small_files`): after
    an append loop accretes one small file per batch next to the two
    properly sized base files, compaction rewrites ONLY the small
    files — the base files carry forward as hardlinks (asserted by
    inode), their commit-log stats and bloom sidecar rows carry
    VERBATIM, and only the merged files pay a footer walk + bloom
    build. `compact_table` (full rewrite) stays the re-clustering
    tool; THIS is the routine maintenance a 100 TB table can afford:
    rewrite cost tracks the small-file bytes, not the table. The
    in-query asserts pin: files_rewritten == number of small files,
    big-file inodes unchanged, post-compaction point lookups still
    prune through the carried bloom index, and a second run no-ops
    (idempotent cron).

    Reference anchor: the maintenance role the reference outsources
    to Postgres autovacuum (``src/storage.py:90-131``), as Delta
    OPTIMIZE's minFileSize bin-packing."""
    import shutil

    from .operators.txn import ManifestTable, compact_small_files

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = os.path.join(SCRATCH, f"binpack_{_key(sf_dir)}")
    tbl = ManifestTable(root, retention_sec=3600)
    if (tbl.version() or 0) != 6:  # 1 commit + 4 appends + 1 bin-pack
        shutil.rmtree(root, ignore_errors=True)
        tbl = ManifestTable(root, retention_sec=3600)
        tbl.commit(
            orders.filter(F.col("o_orderkey") % 5 != 4).repartition(2),
            stats_by=["o_orderkey"],
            bloom_by=["o_custkey"],
        )
        for i in range(4):
            tbl.append(
                orders.filter(
                    (F.col("o_orderkey") % 5 == 4)
                    & (F.col("o_orderkey") % 4 == i)
                ).coalesce(1)
            )
        snap = tbl.snapshot_path()
        sizes = {
            f: os.path.getsize(os.path.join(snap, f))
            for f in os.listdir(snap)
            if f.endswith(".parquet")
        }
        cut = sorted(sizes.values())[-2]  # keep the two largest
        big_inodes = {
            f: os.stat(os.path.join(snap, f)).st_ino
            for f, sz in sizes.items()
            if sz >= cut
        }
        res = compact_small_files(
            spark, root, min_file_bytes=cut, target_file_bytes=1 << 30
        )
        assert res["compacted"], f"bin-pack declined: {res}"
        assert res["files_rewritten"] == len(sizes) - len(big_inodes)
        snap2 = tbl.snapshot_path()
        for f, ino in big_inodes.items():
            assert os.stat(os.path.join(snap2, f)).st_ino == ino, (
                "bin-pack rewrote a big file"
            )
        res2 = compact_small_files(
            spark, root, min_file_bytes=cut, target_file_bytes=1 << 30
        )
        assert not res2["compacted"], "bin-pack not idempotent"
    probe = tbl.read(spark).agg(F.min("o_custkey")).first()[0]
    kept, total, indexed = tbl.bloom_pruned_files("o_custkey", int(probe))
    assert indexed and 0 < len(kept) <= total
    return tbl.read(spark).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        F.sum("o_orderkey").cast("long").alias("sum_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ===========================================================================
# SQL write surface: INSERT INTO the ledger (r10)
# ===========================================================================

@q(
    "q183_sql_insert_ledger",
    oracle="""
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
GROUP BY o_orderpriority
""",
)
def q183_sql_insert_ledger(spark, sf_dir):
    """The WRITE half of the pure-SQL surface (q171 is the read half):
    the ledger lands through ``INSERT INTO`` on a ``USING manifest``
    temporary view and ``df.write.format("manifest").mode("append")``
    — both route through the Python DataSource's Arrow writer, whose
    tasks stream record batches straight into staged parquet parts
    and whose driver-side commit is
    :func:`..operators.txn.append_files_local`: the whole base
    snapshot hardlinks forward, per-file stats carry verbatim and the
    new parts pay one footer walk, the change feed materializes the
    batch itself, and the commit is the same CAS every writer uses.
    At 100 TB this gives the engine what Delta gives Spark SQL users:
    an ingest statement whose cost is O(batch) with full
    transactional semantics, from SQL. The in-query assert pins the
    zero-rewrite contract by inode. Final read goes through the SQL
    view too — write and read surfaces compose.

    Reference anchor: the reference's sink is literally SQL INSERT ...
    ON CONFLICT through psycopg2 (``src/storage.py:41-53``); this is
    that statement's append half on the snapshot ledger."""
    from .operators.txn import ManifestTable
    from .sources.manifest_datasource import register

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    root = os.path.join(SCRATCH, f"sqlins_{_key(sf_dir)}")
    tbl = ManifestTable(root, retention_sec=3600)
    register(spark)
    if (tbl.version() or 0) != 3:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        tbl = ManifestTable(root, retention_sec=3600)
        tbl.commit(
            orders.filter(F.col("o_orderkey") % 3 == 0).repartition(2),
            stats_by=["o_orderkey"],
        )
        snap = tbl.snapshot_path()
        inodes = {
            f: os.stat(os.path.join(snap, f)).st_ino
            for f in os.listdir(snap)
            if f.endswith(".parquet")
        }
        # batch 2 via the DataFrame write API
        orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2).write.format(
            "manifest"
        ).option("root", root).mode("append").save()
        # batch 3 via pure SQL INSERT INTO ... SELECT
        spark.sql(
            f"""CREATE OR REPLACE TEMPORARY VIEW q183_sink
                USING manifest OPTIONS (root '{root}')"""
        )
        orders.filter(F.col("o_orderkey") % 3 == 2).createOrReplaceTempView(
            "q183_batch3"
        )
        spark.sql("INSERT INTO q183_sink SELECT * FROM q183_batch3")
        assert tbl.version() == 3
        snap2 = tbl.snapshot_path()
        assert all(
            os.stat(os.path.join(snap2, f)).st_ino == ino
            for f, ino in inodes.items()
        ), "SQL append rewrote a base file"
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW q183_sink
            USING manifest OPTIONS (root '{root}')"""
    )
    return spark.sql(
        """SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
           FROM q183_sink GROUP BY o_orderpriority"""
    )


# ===========================================================================
# composed partition + file-stats pruning on the ledger (r10)
# ===========================================================================

_Q184_LO, _Q184_HI = "1996-01-01", "1996-06-30"


@q(
    "q184_partitioned_pruned_scan",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_returnflag = 'R'
  AND l_shipdate BETWEEN DATE '{_Q184_LO}' AND DATE '{_Q184_HI}'
""",
)
def q184_partitioned_pruned_scan(spark, sf_dir):
    """Composed pruning on a PARTITIONED snapshot (r10 — lifting the
    old unpartitioned-only restriction on the file-skipping reads):
    the ledger is hive-partitioned by ``l_returnflag`` and
    range-clustered on ``l_shipdate`` with per-file stats, and one
    ``read_where`` conjunction prunes BOTH ways — the flag predicate
    by partition DIRECTORY (no stats needed: the value is the path),
    the date window by commit-log [min, max] within the surviving
    directories, with the explicit file list reconstructing the
    partition column via ``basePath``. The in-query asserts require
    each dimension to have actually pruned. At 100 TB this is the
    standard layout — partition by a low-cardinality dimension,
    cluster within partitions by time — and the scan cost is
    O(window-within-partition) files, exactly Delta's partition +
    dataSkipping composition."""
    from .operators.txn import ManifestTable

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate", "l_quantity"
    )
    root = os.path.join(SCRATCH, f"partprune_{_key(sf_dir)}")
    tbl = ManifestTable(root, retention_sec=3600)
    if (tbl.version() or 0) != 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        tbl = ManifestTable(root, retention_sec=3600)
        tbl.commit(
            li.repartitionByRange(8, "l_returnflag", "l_shipdate")
            .sortWithinPartitions("l_returnflag", "l_shipdate"),
            partition_by=["l_returnflag"],
            stats_by=["l_shipdate"],
        )
    p_kept, p_total = tbl.pruned_files("l_returnflag", "R", "R")
    assert 0 < len(p_kept) < p_total, (
        f"partition pruning ineffective: {len(p_kept)}/{p_total}"
    )
    s_kept, s_total = tbl.pruned_files("l_shipdate", _Q184_LO, _Q184_HI)
    assert 0 < len(s_kept) < s_total, (
        f"stats pruning ineffective: {len(s_kept)}/{s_total}"
    )
    pruned = tbl.read_where(
        spark,
        {
            "l_returnflag": ("R", "R"),
            "l_shipdate": (_Q184_LO, _Q184_HI),
        },
    )
    return (
        pruned.filter(
            (F.col("l_returnflag") == "R")
            & F.col("l_shipdate").between(_Q184_LO, _Q184_HI)
        ).agg(
            F.count("*").cast("long").alias("n_items"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
    )


# ===========================================================================
# write-audit-publish on the ledger (r10)
# ===========================================================================

@q(
    "q185_write_audit_publish",
    oracle="""
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000
                WHEN doc_id % 4 = 1 THEN n_chars + 7
                ELSE n_chars END) AS BIGINT) AS sum_chars,
  CAST(MIN(doc_id) AS BIGINT) AS min_doc
FROM documents
GROUP BY lang
""",
)
def q185_write_audit_publish(spark, sf_dir):
    """Write-audit-publish on the versioned ledger
    (`ManifestTable.publish_from`) — the corpus-governance loop a
    training-data pipeline runs per crawl batch: stage the batch on an
    isolated zero-copy BRANCH (`clone_to`), run the audit gate over
    exactly the post-image rows that would enter the corpus, and only
    then publish — atomically, with provenance in the commit meta.

    The demo drives every path deterministically: (1) a branch stages
    updates + inserts including audit-violating rows (negative
    n_chars) — publish raises AuditFailedError and main is untouched;
    (2) the branch FIXES the bad rows in place (merge-on-read UPDATE)
    while a concurrent writer advances main with a disjoint batch —
    the re-publish takes the REBASE path (conflict check is a
    null-safe key intersection of the two change feeds,
    churn-proportional, never a table scan) and lands both histories;
    (3) a second branch cut from the new head publishes with main
    unmoved — the FAST path adopts the branch snapshot by hardlink
    (zero data bytes move, one log write + pointer swap: the O(1)
    publish a 100 TB batch needs), carrying the branch's merge-on-read
    sidecar verbatim. Branch intermediate commits are squashed: the
    audit-failed rows never reach main in any form.

    Reference anchor: the reference's raw->final two-phase promotion
    with validation between (``dags/scraping_etl.py:59-83``),
    generalized to Iceberg-WAP-style isolated-branch staging."""
    import shutil

    from .operators.txn import AuditFailedError, ManifestTable

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = os.path.join(SCRATCH, f"waptable_{_key(sf_dir)}")
    main = ManifestTable(root, retention_sec=3600)
    built = (
        main.version() == 4
        and "publish_of" in main.commit_meta(4)
    )
    if not built:
        b1_root = os.path.join(SCRATCH, f"wapbranch1_{_key(sf_dir)}")
        b2_root = os.path.join(SCRATCH, f"wapbranch2_{_key(sf_dir)}")
        for r in (root, b1_root, b2_root):
            shutil.rmtree(r, ignore_errors=True)
        main = ManifestTable(root, retention_sec=3600)
        main.commit(docs.filter(F.col("doc_id") % 4 < 2).repartition(4))
        branch = main.clone_to(b1_root)
        # stage on the branch: +1000 chars for the %4==0 slice, insert
        # the %4==3 slice — with the %12==3 subset NEGATED (bad rows)
        staged = (
            docs.filter(F.col("doc_id") % 4 == 0)
            .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
            .unionByName(docs.filter(F.col("doc_id") % 4 == 1))
            .unionByName(
                docs.filter(F.col("doc_id") % 4 == 3).withColumn(
                    "n_chars",
                    F.when(
                        F.col("doc_id") % 12 == 3, -F.col("n_chars")
                    ).otherwise(F.col("n_chars")),
                )
            )
        )
        branch.commit(staged)
        gate = {"chars_positive": "n_chars >= 0"}
        try:
            main.publish_from(spark, branch, keys=["doc_id"], audit=gate)
            raise AssertionError("audit gate let negative n_chars through")
        except AuditFailedError:
            pass
        assert main.version() == 1, "rejected publish must not touch main"
        # fix ON the branch (merge-on-read update), while a concurrent
        # writer lands a disjoint batch on main
        branch.update_where(
            spark,
            F.col("n_chars") < 0,
            {"n_chars": -F.col("n_chars")},
            key_cols=["doc_id"],
        )
        main.append(docs.filter(F.col("doc_id") % 4 == 2).coalesce(2))
        # re-publish with the branch-retention tail (r11): a successful
        # publish DROPS the branch root, closing the per-crawl-batch
        # governance loop without leaking a branch per batch
        rep = main.publish_from(
            spark, branch, keys=["doc_id"], audit=gate, drop_branch=True
        )
        assert rep["path"] == "rebase" and rep["conflicts"] == 0, rep
        assert rep["branch_dropped"] and not os.path.isdir(b1_root), (
            "published branch root must be reclaimed"
        )
        # second round: branch from the new head, publish with main
        # unmoved -> zero-copy adoption; the drop only releases the
        # branch's directory entries — main's adopted snapshot keeps
        # the hardlinked inodes alive
        branch2 = main.clone_to(b2_root)
        branch2.update_where(
            spark,
            F.col("doc_id") % 4 == 1,
            {"n_chars": F.col("n_chars") + F.lit(7)},
            key_cols=["doc_id"],
        )
        rep2 = main.publish_from(
            spark, branch2, keys=["doc_id"], drop_branch=True
        )
        assert rep2["path"] == "fast" and rep2["branch_dropped"], rep2
        assert not os.path.isdir(b2_root)
        assert main.version() == 4
    return (
        main.read(spark)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").cast("long").alias("min_doc"),
        )
    )


# ===========================================================================
# clustered (bucket-layout) ledger snapshots: shuffle-free joins (r10)
# ===========================================================================

_Q186_BUCKETS = 8


@q(
    "q186_clustered_ledger_join",
    oracle="""
SELECT o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
  (CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE)) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderkey % 2 = 0
GROUP BY o_orderstatus
""",
)
def q186_clustered_ledger_join(spark, sf_dir):
    """Shuffle-free join between two VERSIONED ledger tables
    (`ManifestTable.commit_clustered` + `read_clustered`): both sides
    are committed hash-bucketed on the join key through the manifest's
    lock/CAS protocol — Spark's own bucketed writer produces the
    layout, the bucket spec rides the commit-log entry, and readers
    adopt a PINNED snapshot into the catalog once per (table,
    version). The sort-merge join then needs NO exchange and NO sort
    at read time (asserted in-query on the executed plan: the only
    exchange is the final aggregation), which is q62's
    amortize-the-shuffle-once strategy upgraded with the ledger's
    versioning: time travel, CAS-serialized rebuilds, and GC all work
    on the clustered layout, so the 100 TB fact table pays its ingest
    shuffle once and every downstream join — against ANY retained
    version — is co-located.

    Reference anchor: the reference leans on Postgres to co-locate
    repeated key joins via btree indexes (``src/storage.py:90-131``);
    at Spark scale the equivalent is bucket co-location."""
    from .operators.txn import ManifestTable

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
    li_root = os.path.join(SCRATCH, f"clustered_li_{_key(sf_dir)}")
    o_root = os.path.join(SCRATCH, f"clustered_o_{_key(sf_dir)}")
    mli, mo = ManifestTable(li_root), ManifestTable(o_root)

    def ensure(tbl, df, col):
        v = tbl.version()
        if v is None or not (tbl._log_entry(v) or {}).get("bucket"):
            tbl.commit_clustered(df, col, _Q186_BUCKETS)

    ensure(mli, li, "l_orderkey")
    ensure(mo, orders, "o_orderkey")
    l = mli.read_clustered(spark)
    o = mo.read_clustered(spark)
    # the no-exchange-on-join-inputs property is CI-enforced by plan
    # lint (tests/test_plan_lint.py MUST_COLOCATED_JOIN) — a planner
    # change surfaces as a lint failure, not a driver correctness err
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
