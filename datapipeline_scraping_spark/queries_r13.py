"""Round-13 registry queries — the three capability closures of
VERDICT r12: bucket-pruned SQL reads on the clustered ledger (q193),
the sort-order × partition-evolution × ZORDER maintenance chain
(q194), and the N-clause ANSI MERGE through pure SQL (q195).

Reference anchor: the reference's sink is a keyed upsert into a
Postgres table whose layout never changes
(``src/storage.py:41-53``); these queries are what that contract
needs at 100 TB — keyed lookups that touch one bucket's files,
layout changes without rewrites, and multi-way conditional upserts
as one statement.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from .functions.numeric import exact_sum, sql_exact_sum
from .queries import _key, _t, q
from .streaming.events import SCRATCH


_Q193_BUCKETS = 8
_Q193_KEYS = (2, 7)  # probe orderkeys (parity-split: one even, one odd)


@q(
    "q193_clustered_sql_prune",
    oracle=f"""
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
  {sql_exact_sum("l_extendedprice", 18, 2)} AS total_price
FROM lineitem
WHERE l_orderkey % 2 = 0
  AND l_orderkey IN ({", ".join(str(k) for k in _Q193_KEYS)})
""",
)
def q193_clustered_sql_prune(spark, sf_dir):
    """Keyed lookup on the CLUSTERED ledger through pure SQL touches
    ONE bucket's files per key (r13 — VERDICT r12 item 3): the
    predicate view's equality points hash driver-side with the same
    Murmur3 Spark's HashPartitioning uses (``functions/bucket_hash``,
    pinned against ``F.hash``), the bucket id comes from the file
    name, and every other bucket's files stay out of the view's native
    parquet scan. In-query asserts pin the file-count reduction: a
    one-key predicate keeps only its bucket's files (< total), and
    the kept set is exactly the hash's bucket. At 100 TB this is the
    difference between a point lookup launching O(files/buckets)
    tasks and launching O(table).

    The view is minted by ``predicate_view``: a plain WHERE on a
    ``USING manifest`` relation scans every file, because Spark 4.1's
    shared read-info slot makes filter-dependent partitions unsound
    (``sources/manifest_datasource.py``)."""
    from .functions.bucket_hash import bucket_id, file_bucket_id
    from .operators.txn import ManifestTable
    from .sources.manifest_sql import predicate_files, predicate_view

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).filter(F.col("l_orderkey") % 2 == 0)
    root = os.path.join(SCRATCH, f"clussql_{_key(sf_dir)}")
    mt = ManifestTable(root)
    built = (mt.version() or 0) == 1 and bool(
        (mt._log_entry(1) or {}).get("bucket")
    )
    if not built:
        shutil.rmtree(root, ignore_errors=True)
        mt = ManifestTable(root)
        mt.commit_clustered(
            li, "l_orderkey", _Q193_BUCKETS, sorted_by="l_orderkey"
        )
    probe = _Q193_KEYS[0]
    kept, base = predicate_files(root, f"l_orderkey = {probe}")
    assert 0 < len(kept) < base, (len(kept), base)
    want_b = bucket_id(probe, "bigint", _Q193_BUCKETS)
    assert all(
        file_bucket_id(os.path.basename(f)) == want_b for f in kept
    ), "kept a file outside the predicate's bucket"
    in_list = ", ".join(str(k) for k in _Q193_KEYS)
    name = f"clussql_view_{_key(sf_dir)}"
    predicate_view(spark, name, root, f"l_orderkey IN ({in_list})")
    return spark.table(name).agg(
        F.count("*").cast("long").alias("n_items"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        exact_sum("l_extendedprice", 18, 2).alias("total_price"),
    )


@q(
    "q194_sorted_zorder_evolution",
    oracle="""
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
  {s} AS total_price
FROM orders
WHERE o_orderkey % 3 IN (0, 1)
GROUP BY o_orderpriority
""".format(s=sql_exact_sum("o_totalprice", 18, 2)),
)
def q194_sorted_zorder_evolution(spark, sf_dir):
    """The maintenance chain VERDICT r12 item 5 called untested:
    declared write sort order -> partition evolution whose new spec
    coexists with the sort column -> sorted append under the evolved
    spec -> OPTIMIZE ZORDER over the multi-spec table. In-query
    asserts pin each step's contract:

    - the sort order (``set_sort_order``) SURVIVES the evolution and
      the append (it rides commit meta through ``_inherited_meta``);
    - the appended batch's files carry tight [min, max] for the sort
      column (``pruned_files`` keeps < total at v3 — incremental
      ingest stays skippable with no compaction yet);
    - the ZORDER compaction migrates everything to the active spec
      (spec history collapses) and the multi-dimensional clustering
      leaves BOTH zorder dimensions file-skippable.

    Scale: the whole chain is what a 100 TB ledger does in place —
    two metadata commits, one O(batch) append, one full rewrite that
    the zorder makes pay for itself on every later windowed scan."""
    from .operators.txn import ManifestTable, compact_table

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    root = os.path.join(SCRATCH, f"szq_{_key(sf_dir)}")
    mt = ManifestTable(root)
    built = (mt.version() or 0) == 4 and (
        (mt._log_entry(4) or {}).get("meta") or {}
    ).get("szq_done")
    if not built:
        shutil.rmtree(root, ignore_errors=True)
        mt = ManifestTable(root)
        # v1: first wave, hive-partitioned by priority, stats on the
        # future sort/zorder dimensions
        mt.commit(
            orders.filter(F.col("o_orderkey") % 3 == 0),
            partition_by=["o_orderpriority"],
            stats_by=["o_orderkey", "o_totalprice"],
        )
        assert mt.set_sort_order(["o_orderkey"])
        # v2: evolve the spec — the declared sort order must survive
        mt.evolve_partition(["o_orderstatus"])
        e2 = mt._log_entry(2) or {}
        assert (e2.get("meta") or {}).get("sort_order") == [
            "o_orderkey"
        ], "sort order lost across partition evolution"
        assert e2.get("specs"), "evolution must record the spec history"
        # v3: sorted append under the NEW spec. The declared order
        # sorts WITHIN tasks (tight row groups); range-partitioning
        # the batch on the sort column makes whole FILES tight too —
        # the ingest-side pattern that keeps appends file-skippable
        mt.append(
            orders.filter(F.col("o_orderkey") % 3 == 1)
            .repartitionByRange(4, "o_orderkey")
        )
        e3 = mt._log_entry(3) or {}
        assert (e3.get("meta") or {}).get("sort_order") == ["o_orderkey"]
        kept3, total3 = mt.pruned_files("o_orderkey", 0, 50)
        assert len(kept3) < total3, (
            f"appended files not skippable: {len(kept3)}/{total3}"
        )
        # v4: OPTIMIZE ZORDER over the multi-spec table — migrates,
        # collapses the history, clusters both dimensions
        res = compact_table(
            spark,
            root,
            target_files=6,
            zorder_by=["o_orderkey", "o_totalprice"],
            min_gain_files=0,
        )
        assert res.get("compacted"), res
        e4 = mt._log_entry(4) or {}
        assert e4.get("specs") is None, (
            "zorder compaction must collapse the spec history"
        )
        ka, ta = mt.pruned_files("o_orderkey", 0, 50)
        assert len(ka) < ta, f"orderkey dim not skippable: {len(ka)}/{ta}"
        kb, tb = mt.pruned_files("o_totalprice", 0.0, 1000.0)
        assert len(kb) < tb, f"price dim not skippable: {len(kb)}/{tb}"
        assert mt.annotate(4, szq_done=True)
    return (
        mt.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.countDistinct("o_orderstatus").cast("long").alias(
                "n_statuses"
            ),
            exact_sum("o_totalprice", 18, 2).alias("total_price"),
        )
    )


@q(
    "q195_merge_multi_clause_sql",
    oracle="""
WITH t AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
  WHERE c_custkey % 2 = 0
),
s AS (
  SELECT c_custkey, c_mktsegment, c_acctbal - 1000 AS c_acctbal
  FROM customer WHERE c_custkey % 3 = 0
),
merged AS (
  SELECT t.c_custkey,
    CASE WHEN s.c_custkey IS NOT NULL AND NOT (s.c_acctbal > 5000)
              AND NOT (s.c_acctbal < 0)
         THEN 'REVIEWED' ELSE t.c_mktsegment END AS c_mktsegment,
    CASE WHEN s.c_custkey IS NOT NULL AND s.c_acctbal > 5000
         THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal
  FROM t LEFT JOIN s ON t.c_custkey = s.c_custkey
  WHERE NOT (s.c_custkey IS NOT NULL AND NOT (s.c_acctbal > 5000)
             AND s.c_acctbal < 0)
  UNION ALL
  SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal
  FROM s ANTI JOIN t USING (c_custkey)
)
SELECT c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_cust,
  {s} AS total_bal
FROM merged GROUP BY c_mktsegment
""".format(s=sql_exact_sum("c_acctbal", 18, 2)),
)
def q195_merge_multi_clause_sql(spark, sf_dir):
    """A THREE-WAY conditional MERGE through pure SQL (r13 — VERDICT
    r12 item 4 lifted the one-clause-per-action restriction): high
    source balances overwrite the balance, negative ones delete the
    customer, everything else matched is re-segmented 'REVIEWED', and
    source-only customers insert — four clauses, ANSI first-match
    order, one statement. The engine compiles the ordered clause list
    into mutually-exclusive fired flags over one full-outer join
    (exhaustively model-checked in tests/test_manifest_sql.py); the
    DuckDB oracle replays the same semantics as CASE logic, so the
    driver's hash compare proves the routing end-to-end on real data.

    Reference anchor: the reference's whole sink is the degenerate
    single-clause case (``INSERT ... ON CONFLICT DO UPDATE``,
    ``src/storage.py:41-53``)."""
    from .operators.txn import ManifestTable
    from .sources.manifest_sql import register_table, sql

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    root = os.path.join(SCRATCH, f"mergemc_{_key(sf_dir)}")
    mt = ManifestTable(root)
    built = (mt.version() or 0) == 2 and (
        (mt._log_entry(2) or {}).get("meta") or {}
    ).get("mc_done")
    if not built:
        shutil.rmtree(root, ignore_errors=True)
        mt = ManifestTable(root)
        mt.commit(cust.filter(F.col("c_custkey") % 2 == 0))
        name = f"mc_tbl_{_key(sf_dir)}"
        register_table(spark, name, root, key_cols=["c_custkey"])
        src = f"mc_src_{_key(sf_dir)}"
        cust.filter(F.col("c_custkey") % 3 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") - 1000
        ).createOrReplaceTempView(src)
        sql(
            spark,
            f"""MERGE INTO {name} AS t USING {src} AS s
                ON t.c_custkey = s.c_custkey
                WHEN MATCHED AND s.c_acctbal > 5000
                  THEN UPDATE SET c_acctbal = s.c_acctbal
                WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
                WHEN MATCHED THEN UPDATE SET c_mktsegment = 'REVIEWED'
                WHEN NOT MATCHED THEN INSERT *""",
        )
        assert mt.version() == 2
        assert mt.annotate(2, mc_done=True)
    return (
        mt.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            exact_sum("c_acctbal", 18, 2).alias("total_bal"),
        )
    )
