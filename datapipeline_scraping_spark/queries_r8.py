"""Round-8 registry queries — the transaction layer's new contracts as
oracle-checked queries (time travel, partition-pruned manifest sinks,
schema-evolving MERGE), the runtime bloom-filter join as a registered
plan-lint-asserted shape, and the last three distinctive TPC-H shapes
(Q4 correlated-EXISTS gate, Q12 conditional two-way aggregation over a
join, Q16 NOT-IN anti-join + grouped distinct count), adapted to the
driver's corpus exactly as q129–q131 adapted Q2/Q11/Q20.

Reference anchors: the snapshot ledger + upsert sink family
(``src/storage.py:63-117``, SURVEY §2.6) — these queries are the
lakehouse-shaped generalizations a 100 TB deployment needs (versioned
reads, layout-pruned scans, schema drift) that the reference's
single-node postgres sink solves with DDL instead.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from .functions.numeric import exact_sum, sql_exact_sum
from .queries import _key, _t, q
from .streaming.events import SCRATCH


# ===========================================================================
# ManifestTable time travel (VERDICT r7 item 2 as an oracled query)
# ===========================================================================

@q(
    "q138_time_travel_ledger",
    oracle=f"""
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
  {sql_exact_sum('o_totalprice', 18, 2)} AS total_spend
FROM orders WHERE o_orderkey % 3 IN (0, 1)
GROUP BY o_custkey
""",
)
def q138_time_travel_ledger(spark, sf_dir):
    """Time travel on the snapshot-pointer table: three cumulative
    ledger states are committed (orders arriving in thirds), the live
    pointer sits at v3, and the query reads ``version=2`` — the state
    after the second batch — through
    :meth:`..operators.txn.ManifestTable.read`'s versioned resolution.

    The commits use ``keep_snapshots=1``: under the old count-only GC,
    v2's snapshot would be deleted the moment v3 committed and this
    read would crash — it succeeds purely because of the retention
    contract (a snapshot is dropped only when beyond the keep count
    AND older than ``retention_sec`` measured from the moment it was
    SUPERSEDED by the next commit — so even a snapshot that was live
    far longer than the window protects a reader that pinned it just
    before the superseding commit), which is the exact guarantee a
    long-running reader at 100 TB needs (Delta's
    ``deletedFileRetentionDuration`` measures from when a file stops
    being part of the table the same way).

    Scale shape: one keyed aggregation per batch; the versioned read
    is a pinned parquet scan of the resolved snapshot dir — a writer
    advancing the pointer mid-scan cannot redirect it."""
    from .operators.txn import ManifestTable

    o = _t(spark, sf_dir, "orders")
    root = os.path.join(SCRATCH, f"ledger_tt_{_key(sf_dir)}")
    # deterministic re-runs: rebuild the version history each time
    shutil.rmtree(root, ignore_errors=True)
    tbl = ManifestTable(root)

    def state(max_slice: int):
        return (
            o.filter(F.col("o_orderkey") % 3 <= max_slice)
            .groupBy("o_custkey")
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                exact_sum("o_totalprice", 18, 2).alias("total_spend"),
            )
        )

    for max_slice in (0, 1, 2):
        tbl.commit(state(max_slice), keep_snapshots=1)
    assert tbl.version() == 3
    return tbl.read(spark, version=2)


# ===========================================================================
# partitioned manifest snapshots + pruned read (VERDICT r7 item 3)
# ===========================================================================

_Q139_D0, _Q139_D1 = "2024-01-05", "2024-01-09"


@q(
    "q139_partitioned_manifest_sink",
    oracle=f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_Q139_D0}' AND DATE '{_Q139_D1}'
GROUP BY event_type
""",
)
def q139_partitioned_manifest_sink(spark, sf_dir):
    """Hive-partitioned manifest snapshot + partition-pruned read:
    events are committed through ``ManifestTable.commit(partition_by=
    ['event_date'])`` and read back filtered to a 5-day window — the
    scan must prune to the 5 matching partition directories
    (``PartitionFilters`` asserted in tests/test_plan_lint.py's
    MUST_PARTITION_PRUNE), never listing the other 25 days' files.

    This is q64's layout contract carried onto the transactional sink:
    at 100 TB the date-partitioned ledger is the difference between a
    time-windowed incremental read scanning one day and scanning the
    table. ``partition_by=None`` on later commits inherits this layout
    (table property, as in Delta)."""
    from .operators.txn import ManifestTable

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("date").alias("event_date"),
    )
    root = os.path.join(SCRATCH, f"events_part_{_key(sf_dir)}")
    shutil.rmtree(root, ignore_errors=True)
    tbl = ManifestTable(root)
    tbl.commit(ev, partition_by=["event_date"])
    back = tbl.read(spark).filter(
        F.col("event_date").between(F.lit(_Q139_D0), F.lit(_Q139_D1))
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ===========================================================================
# schema-evolving MERGE (VERDICT r7 item 5)
# ===========================================================================

@q(
    "q140_schema_evolution_upsert",
    oracle="""
SELECT c_custkey, c_name,
  CASE WHEN c_custkey % 2 = 0
       THEN CAST(FLOOR(c_acctbal) AS DOUBLE) + 0.5
       ELSE CAST(CAST(FLOOR(c_acctbal) AS INTEGER) AS DOUBLE) END AS score,
  CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment ELSE NULL END AS segment
FROM customer
UNION ALL
SELECT * FROM (VALUES
  (CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR), CAST(0.5 AS DOUBLE), 'SYNTH'),
  (CAST(-2 AS BIGINT), CAST(NULL AS VARCHAR), CAST(1.5 AS DOUBLE), 'SYNTH')
) t(c_custkey, c_name, score, segment)
""",
)
def q140_schema_evolution_upsert(spark, sf_dir):
    """Schema-evolving MERGE into a committed ledger — the reference's
    accretive detail-merge layer (SURVEY §1.2 "dynamic/accretive",
    ``src/scrapers/scraper.py:106``) as a transactional upsert:

    - v1 ledger: every customer with an INT ``score`` and no
      ``segment`` column;
    - incoming batch: even-keyed customers plus two brand-new keys,
      carrying a DOUBLE ``score`` (lossless widening) and a NEW
      ``segment`` column, and NOT carrying ``c_name``.

    ``merge_write(..., schema_evolution=True)`` must widen int→double,
    append ``segment`` (NULL for untouched rows), keep the matched
    rows' ``c_name`` (a target column missing from the source keeps
    its target value — Delta ``updateAll`` semantics, never a silent
    NULL), and insert the new keys with NULL name. Narrowing is
    rejected (tests/test_txn.py). The oracle reconstructs the final
    table relationally."""
    from .operators.txn import ManifestTable, merge_write

    c = _t(spark, sf_dir, "customer")
    root = os.path.join(SCRATCH, f"evolve_ledger_{_key(sf_dir)}")
    shutil.rmtree(root, ignore_errors=True)
    tbl = ManifestTable(root)
    v1 = c.select(
        "c_custkey", "c_name",
        F.floor("c_acctbal").cast("int").alias("score"),
    )
    tbl.commit(v1)

    incoming = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        (F.floor("c_acctbal").cast("double") + F.lit(0.5)).alias("score"),
        F.col("c_mktsegment").alias("segment"),
    )
    synth = spark.createDataFrame(
        [(-1, 0.5, "SYNTH"), (-2, 1.5, "SYNTH")],
        "c_custkey long, score double, segment string",
    )
    merge_write(
        spark, root, incoming.unionByName(synth), "c_custkey",
        writer="manifest", schema_evolution=True,
    )
    return tbl.read(spark)


# ===========================================================================
# runtime bloom-filter join pruning as a registered query (r7 item 8)
# ===========================================================================

# production-default confs live in session._RUNTIME_CONF (restored by
# every query's prepare()); this query lowers the injection thresholds
# so the rewrite fires at test scale — on a cluster the defaults
# (creation side <= 10MB, application scan >= 10GB) fire by themselves.
_Q141_CONF = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    # the injection rule skips joins whose build side could broadcast
    # (a broadcast join needs no runtime filter), so the shuffle join
    # is forced the same way a too-big-to-broadcast dim is at 100 TB
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@q(
    "q141_bloom_pruned_join",
    oracle=f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
  {sql_exact_sum('l_extendedprice', 18, 2)} AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
""",
)
def q141_bloom_pruned_join(spark, sf_dir):
    """Selective shuffle join protected by Spark's runtime bloom
    filter: the filtered orders side (1 of 5 priorities) builds a
    BloomFilterAggregate and the optimizer injects a ``might_contain``
    probe BELOW the lineitem side's exchange, so fact rows that cannot
    join are dropped before they are ever shuffled — at 100 TB this is
    the difference between shuffling the whole fact table and ~20 % of
    it. The join is hint-forced to a shuffle join (a broadcast join
    needs no runtime filter — the broadcast side already prunes); the
    injection is asserted on the optimized plan by
    tests/test_plan_lint.py's MUST_RUNTIME_FILTER.

    The thresholds are runtime confs lowered here for test scale and
    restored by every other query's ``prepare()`` — conf-driven
    exactly as on a cluster, no query change
    (tests/test_runtime_bloom.py proves result equality with the
    rewrite off)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # AFTER the _t calls: their prepare() pins the production defaults,
    # so the per-query overrides must come last (and the NEXT query's
    # prepare() restores them)
    for k, v in _Q141_CONF.items():
        spark.conf.set(k, v)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            exact_sum("l_extendedprice", 18, 2).alias("revenue"),
        )
    )


# ===========================================================================
# TPC-H Q4 / Q12 / Q16 shapes (VERDICT r7 item 7)
# ===========================================================================

@q(
    "q142_late_shipment_priority",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""",
)
def q142_late_shipment_priority(spark, sf_dir):
    """TPC-H Q4 shape — order-priority checking: orders from one
    quarter that have at least one line shipped more than 30 days
    after the order date, counted per priority. The distinctive bit
    (vs q04's plain semi-join) is the CORRELATED non-equi predicate
    inside EXISTS: the decorrelated form is a left-semi join whose
    condition mixes the equi key with an outer-column comparison
    (``l_shipdate > o_orderdate + 30d``) — Spark plans the equi part
    as the join key and evaluates the correlated comparison as a join
    residual, so no cross product and no post-join dedup (semi join
    emits each order once however many lines qualify).

    Scale shape: the date-range filter prunes orders at the scan
    (PushedFilters); both sides shuffle on orderkey once."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    cond = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAY")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


@q(
    "q143_shipclass_priority_mix",
    oracle="""
SELECT l_linestatus AS ship_class,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
""",
)
def q143_shipclass_priority_mix(spark, sf_dir):
    """TPC-H Q12 shape — shipping-class / priority distribution: one
    year of shipped lines joined to their orders, with a TWO-WAY
    conditional aggregation (CASE-sum over a join-side predicate):
    high- and low-priority line counts per line status. No other query
    aggregates a CASE over the JOINED side's column — the shape that
    turns two anti-symmetric filters + union into one pass.

    Scale shape: the ship-date range prunes lineitem at the scan; the
    conditional sums are map-side partial aggregates (two longs per
    group per partition), so the orders join output never re-shuffles
    more than the final tiny group set."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_priority_lines"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long")
            .alias("low_priority_lines"),
        )
    )


@q(
    "q144_supplier_diversity",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size IN (5, 10, 15, 20)
  AND p.p_brand <> 'Brand#5'
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
)
def q144_supplier_diversity(spark, sf_dir):
    """TPC-H Q16 shape — parts/supplier relationship: how many
    DISTINCT suppliers ship each qualifying (brand, type, size) part
    class, excluding flagged suppliers (negative balance standing in
    for Q16's complaint comment; lineitem plays partsupp as in q129).
    The distinctive pieces: a NOT-IN exclusion decorrelated to a
    LEFT-ANTI join (sound here because s_suppkey is non-null — the
    NULL-poisoning NOT-IN edge case is q131's territory), and a
    grouped ``count_distinct`` whose partial aggregation dedups
    (group, suppkey) pairs map-side before the shuffle.

    Scale shape: both the part dim (filtered) and the flagged-supplier
    set broadcast (asserted via MUST_BROADCAST); the fact table never
    shuffles for either join — its only exchange is the final grouped
    distinct aggregation."""
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").isin(5, 10, 15, 20) & (F.col("p_brand") != "Brand#5")
    )
    flagged = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(flagged), l.l_suppkey == flagged.s_suppkey,
               "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# ===========================================================================
# U4 / F5 — the reference's queue-scheduling policies, observable
# ===========================================================================

# One recursive-CTE replay of operators/scheduling.py::fold_queue: the
# state row per (source, round) carries the queue (list of structs),
# the concurrency level, and the round's emission columns. All rate
# gates are integer-exact (nf*10 <= k / nf*20 < k) so the engines
# cannot disagree on a boundary. The queue parameters ($CONC0 /
# $MAX_CONC / $MAX_ATT sentinels, substituted below) come FROM the
# operator module's defaults, so changing simulate_fetch_rounds'
# defaults re-parameterizes the oracle with it instead of silently
# diverging until a hash mismatch fires (ADVICE r8).
_SCHED_SIM_TEMPLATE = """
WITH RECURSIVE
tasks AS (
  SELECT source, doc_id AS task,
    CASE WHEN doc_id % 7 = 0 THEN 60
         WHEN doc_id % 3 = 0 THEN 25 ELSE 0 END AS fp
  FROM documents
),
queues AS (
  SELECT source,
    LIST({'task': task, 'att': 0, 'fp': fp} ORDER BY task) AS queue
  FROM tasks GROUP BY source
),
sim AS (
  SELECT source, 0 AS round, queue, $CONC0 AS conc,
    CAST(NULL AS BIGINT) AS conc_used,
    CAST(NULL AS BIGINT) AS n_batch, CAST(NULL AS BIGINT) AS n_fail,
    CAST(NULL AS VARCHAR) AS mode,
    CAST([] AS STRUCT(task BIGINT, att INTEGER, fp INTEGER)[]) AS batch,
    CAST([] AS BOOLEAN[]) AS fails
  FROM queues
  UNION ALL
  SELECT source, round,
    list_concat(rest,
      CASE WHEN n_fail * 10 <= n_batch THEN requeue
           ELSE list_reverse(requeue) END) AS queue,
    CASE WHEN n_fail * 20 < n_batch AND conc < $MAX_CONC
         THEN LEAST($MAX_CONC, 10) ELSE conc END AS conc,
    conc AS conc_used, n_batch, n_fail,
    CASE WHEN n_fail * 10 <= n_batch THEN 'fifo' ELSE 'lifo' END AS mode,
    batch, fails
  FROM (
    SELECT *,
      len(batch) AS n_batch,
      len(list_filter(fails, f -> f)) AS n_fail,
      list_transform(
        list_filter(list_zip(batch, fails),
                    z -> z[2] AND z[1].att + 1 < $MAX_ATT),
        z -> {'task': z[1].task, 'att': z[1].att + 1,
              'fp': z[1].fp}) AS requeue
    FROM (
      SELECT source, round + 1 AS round, conc,
        queue[LEAST(conc, len(queue)) + 1:] AS rest,
        queue[1:LEAST(conc, len(queue))] AS batch,
        [CAST('0x' || substr(md5(source || '|' || CAST(it.task AS VARCHAR)
           || '|' || CAST(it.att + 1 AS VARCHAR)), 1, 4) AS INT) % 100 < it.fp
         FOR it IN queue[1:LEAST(conc, len(queue))]] AS fails
      FROM sim WHERE len(queue) > 0
    )
  )
)
"""


def _sched_sql(suffix: str) -> str:
    """Instantiate the recursive-CTE oracle with the OPERATOR's own
    parameters (sentinel substitution — .format would collide with
    DuckDB's struct-literal braces)."""
    from .operators.scheduling import (
        DEFAULT_CONC0,
        DEFAULT_MAX_CONC,
        MAX_ATTEMPTS,
    )

    return (
        (_SCHED_SIM_TEMPLATE + suffix)
        .replace("$CONC0", str(DEFAULT_CONC0))
        .replace("$MAX_CONC", str(DEFAULT_MAX_CONC))
        .replace("$MAX_ATT", str(MAX_ATTEMPTS))
    )


def _sched_input(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "source", F.col("doc_id").alias("task")
    )
    return docs.withColumn(
        "fp",
        F.when(F.col("task") % 7 == 0, 60)
        .when(F.col("task") % 3 == 0, 25)
        .otherwise(0),
    )


@q(
    "q145_requeue_policy",
    oracle=_sched_sql("""
SELECT source, z[1].task AS task,
  CAST(z[1].att + 1 AS BIGINT) AS attempts,
  CASE WHEN NOT z[2] THEN 'done' ELSE 'dropped' END AS status,
  CAST(round AS BIGINT) AS final_round
FROM sim, UNNEST(list_zip(batch, fails)) AS t(z)
WHERE round > 0 AND (NOT z[2] OR z[1].att + 1 >= $MAX_ATT)
"""),
)
def q145_requeue_policy(spark, sf_dir):
    """U4 — requeue ordering policy (``src/scrapers/scraper.py:
    124-126``), previously declared scheduler-scope: failures requeue
    FIFO when a round's error rate is <= 10 % and REVERSED (LIFO)
    above, and the policy is OBSERVABLE here because each retried
    task's queue position determines the round it completes in — the
    per-task (attempts, status, final_round) trace changes if the
    ordering rule changes. Fetch outcomes are deterministic
    (md5(source|task|attempt) vs a per-task failure pct), so the whole
    trace is a pure function of the corpus and the DuckDB oracle
    replays it exactly (recursive CTE, integer-exact gates).

    Scale shape: one queue per source folded independently in an
    Arrow seam (``operators/scheduling.py``) — a crawl with millions
    of domains folds millions of bounded-state queues in parallel;
    one hot domain serializes only itself, exactly the reference's
    own per-queue bound."""
    from .operators.scheduling import simulate_fetch_rounds

    return simulate_fetch_rounds(_sched_input(spark, sf_dir), emit="tasks")


@q(
    "q146_adaptive_concurrency",
    oracle=_sched_sql("""
SELECT source, CAST(round AS BIGINT) AS round, conc_used AS conc,
  n_batch, n_fail, mode
FROM sim WHERE round > 0
"""),
)
def q146_adaptive_concurrency(spark, sf_dir):
    """F5 — adaptive concurrency ramp (``src/scrapers/scraper.py:
    117-121``), previously declared AQE-scope: when a round's error
    rate is < 5 % and concurrency is below the configured max, the
    level jumps to ``min(max_conc, 10)`` — the reference's exact
    non-stepping jump to its hard cap. The per-round (conc, n_batch,
    n_fail, mode) trace is the observable: the batch sizes and round
    count change if the ramp rule changes. Same deterministic outcome
    model and recursive-CTE oracle as q145 (one simulation, two
    projections — as q12 evidences H2/H3/H5 from one plan).

    Scale note: on the CLUSTER side this concern maps to AQE/dynamic
    allocation (SURVEY §2 F5), which tunes partition counts the same
    feedback-driven way; the engine additionally ships the policy
    itself as data-parallel queue folds so the reference's observable
    behavior survives the port instead of being declared away."""
    from .operators.scheduling import simulate_fetch_rounds

    return simulate_fetch_rounds(_sched_input(spark, sf_dir), emit="rounds")


# ===========================================================================
# change data feed between ledger versions (Delta CDF shape)
# ===========================================================================

@q(
    "q147_version_changes",
    oracle="""
WITH v1 AS (
  SELECT c_custkey, c_name, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal
  FROM customer
),
v2 AS (
  SELECT c_custkey, c_name,
    CASE WHEN c_custkey % 13 = 0 THEN CAST(FLOOR(c_acctbal) AS BIGINT) + 1
         ELSE CAST(FLOOR(c_acctbal) AS BIGINT) END AS bal
  FROM customer WHERE c_custkey % 17 <> 0
  UNION ALL
  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'new#1', CAST(7 AS BIGINT)),
                        (CAST(-2 AS BIGINT), 'new#2', CAST(8 AS BIGINT)))
),
j AS (SELECT v1.c_custkey AS k1, v2.c_custkey AS k2, v1.c_name AS n1,
             v2.c_name AS n2, v1.bal AS b1, v2.bal AS b2
      FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey)
SELECT 'insert' AS _change_type, k2 AS c_custkey, n2 AS c_name, b2 AS bal
FROM j WHERE k1 IS NULL
UNION ALL
SELECT 'delete', k1, n1, b1 FROM j WHERE k2 IS NULL
UNION ALL
SELECT 'update_preimage', k1, n1, b1 FROM j
WHERE k1 IS NOT NULL AND k2 IS NOT NULL AND (n1 <> n2 OR b1 <> b2)
UNION ALL
SELECT 'update_postimage', k2, n2, b2 FROM j
WHERE k1 IS NOT NULL AND k2 IS NOT NULL AND (n1 <> n2 OR b1 <> b2)
""",
)
def q147_version_changes(spark, sf_dir):
    """Change data feed between two committed ledger versions —
    ``ManifestTable.diff`` (Delta CDF shape): v1 holds every customer,
    v2 drops the %17 keys, bumps the %13 balances, and inserts two new
    keys; the diff emits ``insert`` / ``delete`` /
    ``update_preimage``+``update_postimage`` rows and NOTHING for
    unchanged keys. This is the catch-up primitive an incremental
    consumer (q95/q106 shape) uses to go from version N to head
    without re-reading the table — at 100 TB the CDF rows are
    proportional to the churn, not the table.

    Plan shape: both snapshot reads are version-pinned scans; one
    full-outer keyed join; the per-key change rows are built as an
    array and exploded in the same stage (single traversal of the join
    output). Reference anchor: the H2 delta-detection contract
    (``src/storage.py:84-101``) generalized from current-vs-incoming
    to any-version-vs-any-version."""
    from .operators.txn import ManifestTable

    c = _t(spark, sf_dir, "customer")
    root = os.path.join(SCRATCH, f"cdf_ledger_{_key(sf_dir)}")
    shutil.rmtree(root, ignore_errors=True)
    tbl = ManifestTable(root)
    v1 = c.select(
        "c_custkey", "c_name", F.floor("c_acctbal").cast("long").alias("bal")
    )
    tbl.commit(v1)
    v2 = (
        v1.filter(F.col("c_custkey") % 17 != 0)
        .withColumn(
            "bal",
            F.when(F.col("c_custkey") % 13 == 0, F.col("bal") + 1)
            .otherwise(F.col("bal")),
        )
        .unionByName(
            spark.createDataFrame(
                [(-1, "new#1", 7), (-2, "new#2", 8)],
                "c_custkey long, c_name string, bal long",
            )
        )
    )
    tbl.commit(v2)
    return tbl.diff(spark, 1, 2, ["c_custkey"])


# ===========================================================================
# training-batch construction: length bucketing + epoch shuffle sharding
# ===========================================================================

_Q148_BUCKETS = 16


@q(
    "q148_length_buckets",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
b AS (
  SELECT doc_id, n_tok,
    NTILE({_Q148_BUCKETS}) OVER (ORDER BY n_tok, doc_id) AS bucket
  FROM sized
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MIN(n_tok) AS BIGINT) AS min_tok,
  CAST(MAX(n_tok) AS BIGINT) AS max_tok,
  CAST(MAX(n_tok) * COUNT(*) - SUM(n_tok) AS BIGINT) AS padding_waste
FROM b GROUP BY bucket
""",
)
def q148_length_buckets(spark, sf_dir):
    """Length-bucketed batch construction — the padding-minimization
    pass every sequence-batched training job runs: documents are
    NTILE'd into {n} equal-size buckets by token count (ties broken by
    doc_id for determinism), and each bucket reports its padding waste
    (``max_tok * count - sum_tok`` — the tokens a rectangular batch of
    that bucket would pad). Bucketing by length turns O(corpus) wasted
    pad tokens into the per-bucket spread; the funnel report is what a
    data engineer tunes bucket counts against.

    Scale shape: a bare ``ntile() OVER (ORDER BY ...)`` window plans
    as ``Exchange SinglePartition`` — the whole corpus through one
    task's sort, exactly the anti-pattern this engine bans — so the
    global rank is computed with the same two-pass scan as
    ``operators/packing.py``: range-partition by the order key, local
    ``row_number`` per slice (state bounded by the slice), per-slice
    counts become a tiny broadcast offsets relation, and
    ``global_rank = offset + local_rank``. NTILE's exact bucket-size
    arithmetic (first ``N % k`` buckets get one extra row) is then a
    closed-form integer expression over the rank — bit-identical to
    the window form, no single-partition sort anywhere. The scalar
    total joins as a 1-row broadcast (NESTED_LOOP_ALLOW, q130's
    pattern). Reference anchor: batching policy generalized from the
    reference's fixed `conc`-sized fetch batches
    (``src/scrapers/scraper.py:86``)."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    n_part = spark.sparkContext.defaultParallelism
    sliced = docs.repartitionByRange(
        n_part, F.col("n_tok"), F.col("doc_id")
    ).withColumn("_chunk", F.spark_partition_id())
    w_local = W.partitionBy("_chunk").orderBy("n_tok", "doc_id")
    local = sliced.withColumn("_lr", F.row_number().over(w_local))
    totals = local.groupBy("_chunk").agg(F.count("*").alias("_n"))
    w_off = (
        W.orderBy("_chunk").rowsBetween(W.unboundedPreceding, -1)
    )
    # the totals relation is n_chunks rows — its bare-order window is
    # a single partition of n_chunks rows, not of the corpus
    offsets = totals.select(
        "_chunk",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    total = totals.agg(F.sum("_n").cast("long").alias("_N"))
    ranked = (
        local.join(F.broadcast(offsets), "_chunk")
        .join(F.broadcast(total))
        .withColumn("_r", F.col("_off") + F.col("_lr"))
    )
    base = F.floor(F.col("_N") / F.lit(_Q148_BUCKETS)).cast("long")
    rem = (F.col("_N") % _Q148_BUCKETS).cast("long")
    big = rem * (base + 1)  # ranks covered by the (base+1)-sized buckets
    bucket = (
        F.when(base == 0, F.col("_r"))
        .when(
            F.col("_r") <= big, F.ceil(F.col("_r") / (base + 1))
        )
        .otherwise(rem + F.ceil((F.col("_r") - big) / base))
        .cast("int")
    )
    b = ranked.withColumn("bucket", bucket)
    return b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        (F.max("n_tok") * F.count("*") - F.sum("n_tok"))
        .cast("long")
        .alias("padding_waste"),
    )


_Q149_SHARDS = 8
_Q149_SEED = "epoch7"


@q(
    "q149_epoch_shuffle_shards",
    oracle=f"""
WITH h AS (
  SELECT doc_id, n_chars,
    md5('{_Q149_SEED}|' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
),
s AS (
  SELECT *, CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {_Q149_SHARDS} AS shard,
    ROW_NUMBER() OVER (
      PARTITION BY CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {_Q149_SHARDS}
      ORDER BY hx, doc_id) AS pos
  FROM h
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS order_hash
FROM s GROUP BY shard
""",
)
def q149_epoch_shuffle_shards(spark, sf_dir):
    """Deterministic epoch shuffle + shard assignment — the global
    pseudorandom permutation a training run needs WITHOUT a global
    sort: shard = seeded-hash(doc) % n_shards (map-only, no exchange
    of the full corpus beyond the shard shuffle itself), within-shard
    order = hash order (a new seed is a new permutation). The output
    pins the exact within-shard ORDER via an md5 over the ordered
    doc_id list, so the oracle checks the permutation itself, not just
    shard balance.

    Scale shape: the only shuffle is by shard id (n_shards partitions,
    uniformly hash-balanced); within-shard ordering sorts each shard
    independently — no global sort, no hot partition. This is how a
    100 TB corpus gets re-sharded per epoch: one pass, linear, seed
    swap = free reshuffle. Reference anchor: H4's determinism contract
    (order must be explicit to survive a shuffle,
    ``src/storage.py:108-117``) applied to the training-side shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hx = F.md5(F.concat(F.lit(f"{_Q149_SEED}|"), F.col("doc_id").cast("string")))
    h = docs.withColumn("hx", hx).withColumn(
        "shard",
        (
            F.conv(F.substring("hx", 1, 8), 16, 10).cast("long")
            % _Q149_SHARDS
        ),
    )
    from pyspark.sql import Window as W

    pos = F.row_number().over(W.partitionBy("shard").orderBy("hx", "doc_id"))
    s = h.withColumn("pos", pos)
    return s.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("shard_chars"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", F.col("doc_id")))
                    ),
                    lambda r: r["doc_id"].cast("string"),
                ),
            )
        ).alias("order_hash"),
    )


@q(
    "q150_asof_snapshot",
    oracle=f"""
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
  {sql_exact_sum('o_totalprice', 18, 2)} AS total_spend
FROM orders WHERE o_orderkey % 3 = 0
GROUP BY o_custkey
""",
)
def q150_asof_snapshot(spark, sf_dir):
    """Timestamp time travel (Delta ``timestampAsOf``): the ledger
    history is replayed as in q138, the FIRST batch's commit timestamp
    is taken from the commit log (``history()``), and
    ``read_asof(that ts)`` must resolve exactly version 1 — the state
    holding only the first third of orders — while the live pointer
    sits two commits later. A GC'd as-of target raises
    ``SnapshotExpiredError`` rather than silently resolving older
    retained state (tests/test_txn.py).

    Scale shape: identical to q138 — commit-log lookup is O(retained
    versions) tiny-json reads on the driver; the resolved read is one
    pinned parquet scan."""
    from .operators.txn import ManifestTable

    o = _t(spark, sf_dir, "orders")
    root = os.path.join(SCRATCH, f"ledger_asof_{_key(sf_dir)}")
    shutil.rmtree(root, ignore_errors=True)
    tbl = ManifestTable(root)
    for max_slice in (0, 1, 2):
        tbl.commit(
            o.filter(F.col("o_orderkey") % 3 <= max_slice)
            .groupBy("o_custkey")
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                exact_sum("o_totalprice", 18, 2).alias("total_spend"),
            )
        )
    ts_v1 = next(e["ts"] for e in tbl.history() if e["version"] == 1)
    return tbl.read_asof(spark, ts_v1)
