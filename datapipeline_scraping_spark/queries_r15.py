"""Round-15 registry queries — the capability closures of VERDICT
r14: OR-of-conjuncts (DNF) in the predicate-view grammar, where
file skipping composes as the UNION of per-disjunct kept sets (q199),
and LIKE-prefix predicates pruned against string min/max envelopes
(q200).

Reference anchor: the reference's scrape windows are date-driven
(P16 — ``configs/colombia.yml:74-78``) and its link extraction
filters hrefs by suffix/substring (P4 — ``configs/colombia.yml:
39-43``); at 100 TB "this week OR that backfill window" and
"url LIKE 'https://host/path/%'" are the two predicate shapes a
conjunction-only grammar forced users to work around (one view per
disjunct + UNION, or a full scan).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from .functions.numeric import exact_sum, sql_exact_sum
from .queries import _key, _t, q
from .queries_r14 import _input_files
from .streaming.events import SCRATCH

_Q199_A_LO = "2024-01-03 00:00:00"
_Q199_A_HI = "2024-01-06 00:00:00"
_Q199_B_LO = "2024-01-25 00:00:00"
_Q199_B_HI = "2024-01-28 00:00:00"

_Q199_WHERE = (
    f"(ts >= TIMESTAMP '{_Q199_A_LO}' AND ts < TIMESTAMP '{_Q199_A_HI}') "
    f"OR (ts >= TIMESTAMP '{_Q199_B_LO}' AND ts < TIMESTAMP '{_Q199_B_HI}')"
)


@q(
    "q199_dnf_predicate_view",
    oracle=f"""
SELECT CAST(ts AS DATE) AS day,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  {sql_exact_sum('value', 18, 2)} AS total_value
FROM events
WHERE (ts >= TIMESTAMP '{_Q199_A_LO}' AND ts < TIMESTAMP '{_Q199_A_HI}')
   OR (ts >= TIMESTAMP '{_Q199_B_LO}' AND ts < TIMESTAMP '{_Q199_B_HI}')
GROUP BY 1
""",
)
def q199_dnf_predicate_view(spark, sf_dir):
    """A DISJUNCTION of time windows over the date-partitioned events
    ledger through one SQL predicate view (r15 — VERDICT r14 item 1):
    the ``where`` grammar is now DNF, ``expr := conj (OR conj)*`` with
    SQL precedence, and planning-time file skipping composes as the
    UNION of per-disjunct kept sets across all four tiers (hive dirs,
    min/max stats, blooms, null counts). "This window OR that backfill
    window" — the most common non-conjunctive predicate on a real
    ledger — previously required minting one view per disjunct and
    UNIONing them; now it is one relation, one scan, O(window1 +
    window2) files.

    In-query asserts pin the composition: each 3-day window keeps
    exactly its own files, the disjunction keeps exactly their union
    (disjoint windows: the sum), and the minted view's scan reads
    exactly those files. Rows are re-filtered exactly by the
    disjunction as a Spark predicate (SQL three-valued semantics).
    Shares the q196 ledger build (same table, same scratch root)."""
    from .operators.txn import ManifestTable
    from .sources.manifest_sql import predicate_files, predicate_view

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    root = os.path.join(SCRATCH, f"tpv_{_key(sf_dir)}")
    mt = ManifestTable(root)
    built = (mt.version() or 0) == 1 and (
        (mt._log_entry(1) or {}).get("meta") or {}
    ).get("tpv_done")
    if not built:
        shutil.rmtree(root, ignore_errors=True)
        mt = ManifestTable(root)
        mt.commit(
            ev.withColumn("d", F.col("ts").cast("date")),
            partition_by=["d"],
            stats_by=["ts"],
        )
        assert mt.annotate(1, tpv_done=True)
    kept_a = len(
        predicate_files(
            root,
            f"ts >= TIMESTAMP '{_Q199_A_LO}' AND "
            f"ts < TIMESTAMP '{_Q199_A_HI}'",
        )[0]
    )
    kept_b = len(
        predicate_files(
            root,
            f"ts >= TIMESTAMP '{_Q199_B_LO}' AND "
            f"ts < TIMESTAMP '{_Q199_B_HI}'",
        )[0]
    )
    kept_files, base = predicate_files(root, _Q199_WHERE)
    kept = len(kept_files)
    # the disjunction keeps exactly the union of the two windows'
    # files — disjoint windows on a day-partitioned ledger: the sum
    assert 0 < kept_a < base and 0 < kept_b < base, (kept_a, kept_b, base)
    assert kept == kept_a + kept_b, (kept, kept_a, kept_b)
    name = f"dnf_view_{_key(sf_dir)}"
    predicate_view(spark, name, root, _Q199_WHERE)
    view = spark.table(name)
    assert _input_files(view) == set(kept_files), (
        sorted(_input_files(view)),
        sorted(kept_files),
    )
    return view.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        exact_sum("value", 18, 2).alias("total_value"),
    )


_Q200_PREFIX = "https://src3.example.com/"


@q(
    "q200_like_prefix_skipping",
    oracle=f"""
WITH u AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/'
           || CAST(doc_id AS VARCHAR) AS url,
         lang, n_chars
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM u
WHERE url LIKE '{_Q200_PREFIX}%'
GROUP BY lang
""",
)
def q200_like_prefix_skipping(spark, sf_dir):
    """LIKE-prefix file skipping on a sorted string column (r15 —
    VERDICT r14 item 3): ``url LIKE 'https://host/path/%'`` is the
    natural predicate over the reference's URL-heavy schema (P4 —
    ``configs/colombia.yml:39-43`` filters hrefs by suffix/substring),
    and a pattern's literal prefix is a prunable range: every match
    starts with the prefix, so the [prefix, prefix] interval under the
    engine's conservative truncated string comparison skips every file
    whose [min, max] envelope cannot contain such a string. Rows are
    re-filtered by the predicate view's Spark LIKE (% any run, _ one
    char, null in null out).

    In-query asserts pin the mechanism AND its limit: the prefix
    pattern keeps strictly fewer files on the url-sorted ledger, while
    a %inner% pattern over the same column — which has no literal
    prefix — keeps every file (row-filter-only, documented). At 100 TB
    a host- or path-prefix scan over a crawl ledger sorted by url
    touches O(host) files, not O(corpus)."""
    from .operators.txn import ManifestTable
    from .sources.manifest_sql import predicate_files, predicate_view

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "lang",
        "n_chars",
    )
    root = os.path.join(SCRATCH, f"likeurl_{_key(sf_dir)}")
    mt = ManifestTable(root)
    built = (mt.version() or 0) == 1 and (
        (mt._log_entry(1) or {}).get("meta") or {}
    ).get("likeurl_done")
    if not built:
        shutil.rmtree(root, ignore_errors=True)
        mt = ManifestTable(root)
        # url-sorted commit: tight per-file string envelopes — the
        # crawl-ledger layout a host-prefix scan wants
        mt.commit(
            docs.repartitionByRange(8, "url").sortWithinPartitions("url"),
            stats_by=["url"],
        )
        assert mt.annotate(1, likeurl_done=True)
    where = f"url LIKE '{_Q200_PREFIX}%'"
    kept_files, base = predicate_files(root, where)
    kept = len(kept_files)
    assert 0 < kept < base, (kept, base)
    # control: no literal prefix -> no pruning (the reduction above is
    # the prefix interval's, not an artifact of the data)
    unpruned = len(predicate_files(root, "url LIKE '%example%'")[0])
    assert unpruned == base, (unpruned, base)
    name = f"likeurl_view_{_key(sf_dir)}"
    predicate_view(spark, name, root, where)
    return (
        spark.table(name)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_Q201_EXCLUDED = ("1-URGENT", "2-HIGH")


@q(
    "q201_not_in_exclusion",
    oracle=f"""
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {sql_exact_sum("o_totalprice", 18, 2)} AS total_price
FROM orders
WHERE o_orderpriority NOT IN ({", ".join(f"'{p}'" for p in _Q201_EXCLUDED)})
GROUP BY o_orderpriority
""",
)
def q201_not_in_exclusion(spark, sf_dir):
    """NOT IN exclusion pruning on a dir-encoded column (r15 tail —
    closes the VERDICT r14 "no NOT IN" gap): ``NOT IN`` desugars at
    parse into a conjunction of ``!=`` terms, and the exclusion tier
    drops exactly the files that PROVABLY hold one excluded value —
    here the hive dirs of the two excluded priorities, matched
    type-faithfully (case-sensitive for strings; the r15 ADVICE fix
    genus). The ledger commits one file per priority dir, so the
    in-query assert pins the exact arithmetic: 5 dirs, 2 excluded,
    3 kept. The view's Spark predicate re-filters the rows: a null
    priority would satisfy neither polarity, exactly SQL's NOT IN.

    The reference filters its scrape queue by status/priority columns
    on every incremental run (``src/storage.py`` state queries); at
    100 TB "everything except the terminal states" is the standing
    shape of a work-queue scan, and it should touch only the
    non-terminal dirs."""
    from .operators.txn import ManifestTable
    from .sources.manifest_sql import predicate_files, predicate_view

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = os.path.join(SCRATCH, f"notin_{_key(sf_dir)}")
    mt = ManifestTable(root)
    built = (mt.version() or 0) == 1 and (
        (mt._log_entry(1) or {}).get("meta") or {}
    ).get("notin_done")
    if not built:
        shutil.rmtree(root, ignore_errors=True)
        mt = ManifestTable(root)
        # one file per priority dir: the exclusion arithmetic below is
        # exact (5 dirs - 2 excluded = 3 kept)
        mt.commit(
            o.repartition("o_orderpriority"),
            partition_by=["o_orderpriority"],
        )
        assert mt.annotate(1, notin_done=True)
    in_list = ", ".join(f"'{p}'" for p in _Q201_EXCLUDED)
    where = f"o_orderpriority NOT IN ({in_list})"
    kept_files, base = predicate_files(root, where)
    kept = len(kept_files)
    assert base == 5 and kept == 3, (base, kept)
    name = f"notin_view_{_key(sf_dir)}"
    predicate_view(spark, name, root, where)
    return (
        spark.table(name)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            exact_sum("o_totalprice", 18, 2).alias("total_price"),
        )
    )
